package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (started by `perfbench/run.py`):
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --root <checkout> --work <scratch dir>
  * perfbench.Main --write-goldens --root <checkout> --work <scratch dir>
  * }}}
  *
  * The last stdout line is one JSON object: `correct`, `attempted`,
  * `failed` and `metrics` (the end-to-end metrics untraced, the
  * per-layer metrics traced).
  */
object Main {
  /** Every layer group; each runs alone as a workload of its own. */
  val Parts: Seq[Workload] = Seq(AsrSinks, QueryHeavy, StreamReplay)
  val Workloads: Seq[Workload] = Parts :+
    Composite("query_stream", Seq(QueryHeavy, StreamReplay))
  /** Seconds before an operation is cancelled and counted as failed. */
  val OpTimeoutS = 60
  /** Set-up builds the inputs this many times and reports the median. */
  val PrepRepeats = 3

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") =>
        k.drop(2) -> v
    }.toMap
    val root = Paths.get(opts("root")).toAbsolutePath
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    if (args.contains("--write-goldens")) {
      val spark = session(work)
      try QueryHeavy.writeGoldens(spark, root)
      finally spark.stop()
      return
    }
    val workload = Workloads.find(_.name == opts("workload")).getOrElse(
      sys.error(s"unknown workload ${opts("workload")}; one of " +
        Workloads.map(_.name).mkString(", ")))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val line = run(workload, seed, seconds, traced, root, work)
    println(line)
  }

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def run(w: Workload, seed: Long, seconds: Double, traced: Boolean,
      root: Path, work: Path): String = {
    val runId = f"${w.name}-s$seed-t${if (traced) 1 else 0}-${
      java.lang.Long.toHexString(System.nanoTime())}"
    val runWork = work.resolve(runId)
    val (spark, sessionS) = Stats.time(session(runWork))
    val tr = new Tracer(spark.sparkContext, traced, runId)
    val h = new Harness(spark, tr, seed, root, runWork, OpTimeoutS)
    try {
      val prepS = (1 to PrepRepeats).map(_ => Stats.time(w.prepare(h))._2)
      val warmS = Stats.time(w.warmup(h))._2
      val setupS = sessionS + Stats.median(prepS) + warmS

      val rng = new scala.util.Random(seed)
      val passes = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
      val timedPasses = math.max(1, math.ceil(seconds / w.passSeconds).toInt)
      for (i <- 0 until timedPasses) {
        tr.pass = i
        passes += Stats.time(tr.span("pass", "bench")(w.pass(h, rng))).swap
      }
      tr.pass = -1
      w.finish(h)

      val wallS = Stats.median(passes.map(_._1).toSeq)
      val metrics: Seq[Metric] =
        if (!traced) {
          Seq(
            Metric("setup_s", setupS, "s"),
            Metric("wall_s", wallS, "s"),
            Metric("items_per_s",
              passes.map(_._2).sum / passes.map(_._1).sum, "1/s"),
            Metric("storage_peak_mb", h.storagePeakBytes / 1e6, "MB"))
        } else {
          tr.drain()
          val own = commonLayers(h, passes.length, wallS) ++
            w.layers(h, passes.length)
          val have = own.map(_.name).toSet
          // every traced run reports every per-layer metric; a layer
          // this workload never calls reports zero
          own ++ Parts.flatMap(_.layerNames).filterNot(n => have(n._1))
            .map { case (n, u) => Metric(n, 0.0, u) }
        }
      writeTrace(h, w, runId, traced, setupS, passes.toSeq)
      System.err.println(s"[perfbench] ${w.name} seed=$seed passes=" +
        passes.length + " pass_s=" + passes.map(p => f"${p._1}%.3f")
          .mkString(",") + s" ops=${h.attempted} failed=${h.failures.size}")
      Json.obj(
        "correct" -> h.failures.isEmpty,
        "attempted" -> h.attempted,
        "failed" -> h.failures.size,
        "metrics" -> ListMap(metrics.map(m => m.name ->
          Json.Raw(Json.obj("value" -> m.value, "unit" -> m.unit))): _*))
    } finally {
      w.close()
      h.close()
      tr.close()
      spark.stop()
      deleteTree(runWork)
    }
  }

  /** Execution counters per pass, leaks, host control and tracing. */
  private def commonLayers(h: Harness, passes: Int, wallS: Double)
      : Seq[Metric] = {
    val (_, c) = h.tr.total(h.tr.all.filter(s =>
      s.name == "pass" && s.layer == "bench"))
    val n = passes.toDouble
    Seq(
      Metric("exec.jobs", c.jobs / n, "count"),
      Metric("exec.stages", c.stages / n, "count"),
      Metric("exec.tasks", c.tasks / n, "count"),
      Metric("exec.input_bytes", c.inputBytes / n, "bytes"),
      Metric("exec.shuffle_read_bytes", c.shuffleReadBytes / n, "bytes"),
      Metric("exec.shuffle_write_bytes", c.shuffleWriteBytes / n, "bytes"),
      Metric("exec.shuffle_records", c.shuffleRecords / n, "count"),
      Metric("exec.spill_bytes", c.spillBytes / n, "bytes"),
      Metric("exec.cpu_s", c.cpuNs / 1e9 / n, "s"),
      Metric("exec.run_s", c.runMs / 1e3 / n, "s"),
      Metric("exec.gc_s", c.gcMs / 1e3 / n, "s"),
      Metric("exec.task_wait_s", c.waitMs / 1e3 / n, "s"),
      Metric("exec.core_busy", c.cpuNs / 1e9 / n / (wallS * h.cores),
        "fraction"),
      Metric("exec.unattributed_jobs", h.tr.unattributed.jobs.toDouble,
        "count"),
      Metric("materialize.persisted_rdds_left", h.persistedMax.toDouble,
        "count"),
      Metric("trace.wall_s", wallS, "s"),
      Metric("host.cores", h.cores.toDouble, "count"),
      Metric("host.heap_mb", Runtime.getRuntime.maxMemory / 1e6, "MB"),
      Metric("host.calibration_s", calibrate(h), "s"))
  }

  /** A fixed, data-independent CPU probe (min of 3) taken beside the
    * run: a slow value labels a degraded host, not a slow program.
    */
  private def calibrate(h: Harness): Double = (0 to 3).map { _ =>
    Stats.time(h.spark.range(0L, 64000000L, 1L, h.cores)
      .selectExpr("sum(id * 2654435761 % 1000003)")
      .queryExecution.toRdd.count())._2
  }.tail.min

  private def writeTrace(h: Harness, w: Workload, runId: String,
      traced: Boolean, setupS: Double, passes: Seq[(Double, Long)]): Unit = {
    val dir = h.work.getParent.resolve("traces")
    Files.createDirectories(dir)
    val head = Json.obj("run" -> runId, "workload" -> w.name,
      "seed" -> h.seed, "traced" -> traced,
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "heap_bytes" -> Runtime.getRuntime.maxMemory,
      "java" -> System.getProperty("java.version"),
      "spark" -> h.spark.version, "setup_s" -> setupS,
      "pass_s" -> passes.map(_._1), "pass_items" -> passes.map(_._2),
      "self_s_by_layer" -> h.tr.selfSecondsByLayer,
      "attempted" -> h.attempted,
      "failures" -> h.failures.map { case (n, why) =>
        Json.Raw(Json.obj("op" -> n, "why" -> why)) })
    val lines = head +: h.tr.jsonLines
    Files.write(dir.resolve(s"$runId.jsonl"),
      lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p)
    try all.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(x => Files.delete(x))
    finally all.close()
  }
}
