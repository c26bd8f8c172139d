package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.queries.QueryDef

/** The heaviest contract queries on the committed sf0.001 tables: each
  * is built (`QueryDef.build`, which may already run jobs) and then
  * forced with `queryExecution.toRdd.count()`, in a seeded order. The
  * warm-up pass hashes every result against `goldens.tsv`; timed
  * passes check the row count.
  */
object QueryHeavy extends Workload {
  val passSeconds = 7.5
  val name = "query_heavy"

  /** Graph operators that checkpoint while they are built (HITS,
    * Adamic-Adar), the all-pairs similarity kernels (set join, semantic
    * dedup) and a text-metric join (token F1).
    */
  val Queries: Seq[String] = Seq(
    "q_hits", "q_adamic_adar", "q_setjoin", "q_semdedup", "q_token_f1")

  private var defs: Seq[QueryDef] = Nil
  private var goldens: Map[String, (Long, String)] = Map.empty
  private var dir = ""

  def dataDir(root: Path): String =
    root.resolve("perfbench/data/sf0.001").toString

  def goldenFile(root: Path): Path = root.resolve("perfbench/goldens.tsv")

  private def resolve(): Seq[QueryDef] = {
    val all = SparkEntry.allDefs.map(d => d.name -> d).toMap
    Queries.map(n => all.getOrElse(n, sys.error(s"no contract query $n")))
  }

  def prepare(h: Harness): Unit = {
    dir = dataDir(h.root)
    goldens = Files.readAllLines(goldenFile(h.root), UTF_8).asScala
      .filter(_.nonEmpty).map(_.split("\t")).map {
        case Array(n, rows, sha) => n -> (rows.toLong, sha)
      }.toMap
    defs = resolve()
  }

  private def run(h: Harness, d: QueryDef)(force: org.apache.spark.sql
      .DataFrame => (Long, String)): Option[(Long, String)] = {
    val out = h.op(d.name, "operators") {
      val df = h.tr.span("build", "queries")(d.build(h.spark, dir))
      h.tr.span("action", "queries")(force(df))
    }
    h.clearCaches()
    out
  }

  def warmup(h: Harness): Unit = defs.foreach { d =>
    run(h, d)(Canonical.hash).foreach { got =>
      h.verify(d.name, goldens.get(d.name).contains(got),
        s"hash $got, golden ${goldens.get(d.name)}")
    }
  }

  def pass(h: Harness, rng: scala.util.Random): Long = {
    rng.shuffle(defs).foreach { d =>
      run(h, d)(df => (df.queryExecution.toRdd.count(), "")).foreach {
        case (n, _) =>
          h.verify(d.name, goldens.get(d.name).exists(_._1 == n),
            s"$n rows, golden ${goldens.get(d.name).map(_._1)}")
      }
    }
    defs.size.toLong
  }

  def layerNames: Seq[(String, String)] =
    Seq("queries.p50_s" -> "s", "queries.p95_s" -> "s",
      "queries.build_s" -> "s", "queries.action_s" -> "s",
      "queries.build_jobs" -> "count", "queries.action_jobs" -> "count") ++
      Queries.flatMap(q => Seq(s"operators.$q.wall_s" -> "s",
        s"operators.$q.jobs" -> "count", s"operators.$q.tasks" -> "count",
        s"operators.$q.shuffle_bytes" -> "bytes",
        s"operators.$q.cpu_s" -> "s"))

  def layers(h: Harness, passes: Int): Seq[Metric] = {
    val timed = h.tr.all.filter(_.pass >= 0)
    val n = passes.toDouble
    val (buildS, build) = h.tr.total(timed.filter(_.name == "build"))
    val (actionS, action) = h.tr.total(timed.filter(_.name == "action"))
    val perQuery = timed.filter(s => s.layer == "operators").map(_.seconds)
    Seq(
      Metric("queries.p50_s", Stats.quantile(perQuery, 0.5), "s"),
      Metric("queries.p95_s", Stats.quantile(perQuery, 0.95), "s"),
      Metric("queries.build_s", buildS / n, "s"),
      Metric("queries.action_s", actionS / n, "s"),
      Metric("queries.build_jobs", build.jobs / n, "count"),
      Metric("queries.action_jobs", action.jobs / n, "count")) ++
      Queries.flatMap { q =>
        val ss = timed.filter(s => s.layer == "operators" && s.name == q)
        val (wall, c) = h.tr.total(ss)
        val k = math.max(1, ss.size).toDouble
        Seq(Metric(s"operators.$q.wall_s", wall / k, "s"),
          Metric(s"operators.$q.jobs", c.jobs / k, "count"),
          Metric(s"operators.$q.tasks", c.tasks / k, "count"),
          Metric(s"operators.$q.shuffle_bytes",
            (c.shuffleReadBytes + c.shuffleWriteBytes) / k, "bytes"),
          Metric(s"operators.$q.cpu_s", c.cpuNs / 1e9 / k, "s"))
      }
  }

  /** Hash every query's result at this commit into `goldens.tsv`. */
  def writeGoldens(spark: SparkSession, root: Path): Unit = {
    val lines = resolve().map { d =>
      val (rows, sha) = Canonical.hash(d.build(spark, dataDir(root)))
      System.err.println(s"[perfbench] golden ${d.name} rows=$rows")
      s"${d.name}\t$rows\t$sha"
    }
    Files.write(goldenFile(root), lines.mkString("", "\n", "\n")
      .getBytes(UTF_8))
  }
}
