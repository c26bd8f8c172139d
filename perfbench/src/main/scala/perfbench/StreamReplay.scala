package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.queries.QueryDef
import graft.streaming._

/** The committed sf0.01 `events` (10k rows) cut, in `ts` order, into
  * seeded micro-batches. Each batch is folded into the CMS, HLL, KMV,
  * log-histogram, Benford and PSI-drift trackers through their public
  * `update`, and into CUSUM through `StreamingCusum.track` on a memory
  * stream; after each batch comes a seeded, skewed mix of point
  * lookups. `finish` checks the final state of every tracker against
  * one fold of the concatenated batches.
  */
object StreamReplay extends Workload {
  val passSeconds = 5.0
  val name = "stream_replay"
  val Batches = 3
  val LookupsPerBatch = 3
  val Trackers: Seq[String] =
    Seq("cms", "hll", "kmv", "loghist", "benford", "psi", "cusum")

  private var batches: Seq[DataFrame] = Nil
  private var obs: Seq[Seq[StreamingCusum.Obs]] = Nil
  private var users: IndexedSeq[Long] = IndexedSeq.empty
  private var events = 0L
  private var last: Option[State] = None

  private final class State(val pass: Int, val cms: StreamingCms.Tracker,
      val hll: StreamingHll.Tracker, val kmv: StreamingKmv.Tracker,
      val loghist: StreamingLogHistogram.Tracker,
      val benford: StreamingBenford.Tracker, val psi: StreamingDrift.Tracker)

  def prepare(h: Harness): Unit = {
    val spark = h.spark
    val all = QueryDef.events(spark,
        h.root.resolve("perfbench/data/sf0.01").toString)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .collect().sortBy(r => (r.getTimestamp(1).getTime,
        r.getTimestamp(1).getNanos, r.getLong(0)))
    val schema = QueryDef.events(spark,
        h.root.resolve("perfbench/data/sf0.01").toString)
      .select("event_id", "ts", "user_id", "event_type", "value").schema
    val rng = new scala.util.Random(h.seed)
    // seeded cut points: batch sizes vary around the mean
    val weights = Seq.fill(Batches)(0.5 + rng.nextDouble())
    val cuts = weights.scanLeft(0.0)(_ + _).map(w =>
      math.round(w / weights.sum * all.length).toInt)
    val slices = cuts.zip(cuts.tail).map { case (a, b) => all.slice(a, b) }
    h.clearCaches()
    batches = slices.map { rows =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, h.cores), schema).cache()
      df.count()
      df
    }
    obs = slices.map(_.toSeq.map(r => StreamingCusum.Obs(r.getString(3),
      r.getTimestamp(1), r.getLong(0), r.getDouble(4))))
    users = all.map(_.getLong(2)).distinct.sorted.toIndexedSeq
    events = all.length.toLong
  }

  /** A user id drawn with Zipf(1.1) skew over the sorted ids. */
  private def skewedUser(rng: scala.util.Random): Long = {
    val n = users.length
    val u = rng.nextDouble() * harmonic(n)
    var k = 1; var acc = 1.0
    while (acc < u && k < n) { k += 1; acc += 1.0 / math.pow(k, 1.1) }
    users(k - 1)
  }
  private def harmonic(n: Int) = (1 to n).map(k => 1.0 / math.pow(k, 1.1)).sum

  private def span[T](h: Harness, n: String)(f: => T): T =
    h.tr.span(n, "streaming")(f)

  private var stream: Option[(MemoryStream[StreamingCusum.Obs],
    StreamingQuery, String)] = None

  /** The CUSUM stream lives for the whole run; each pass keys its
    * observations by pass, so every pass starts from empty state.
    */
  private def cusumStream(h: Harness) = stream.getOrElse {
    val spark = h.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamingCusum.Obs]
    val table = "cusum_" + h.tr.runId.replaceAll("[^A-Za-z0-9]", "_")
    val q = StreamingCusum.track(mem.toDS(), Target, Slack, Threshold)
      .writeStream.format("memory").queryName(table)
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", h.work.resolve(s"ckpt-$table").toString)
      .start()
    stream = Some((mem, q, table))
    stream.get
  }
  val Target = 25.0
  val Slack = 5.0
  val Threshold = 500.0

  private def tag(pass: Int, o: StreamingCusum.Obs) =
    o.copy(key = s"$pass/${o.key}")

  /** One replay of every batch into fresh trackers. */
  private def replay(h: Harness, rng: scala.util.Random): Unit = {
    val (mem, q, _) = cusumStream(h)
    val pass = h.tr.pass
    val st = h.op("StreamingDrift.fitBaseline", "streaming")(
      StreamingDrift.fitBaseline(batches.head, "value"))
    val cms = StreamingCms.tracker()
    val hll = new StreamingHll.Tracker()
    val kmv = StreamingKmv.tracker()
    val loghist = StreamingLogHistogram.tracker()
    val benford = StreamingBenford.tracker()
    batches.zip(obs).foreach { case (b, o) =>
      h.op("fold", "streaming") {
        span(h, "cms")(cms.update(b, "user_id"))
        span(h, "hll")(hll.update(b, "event_type", "user_id"))
        span(h, "kmv")(kmv.update(b, "event_type", "user_id"))
        span(h, "loghist")(loghist.update(b, "value"))
        span(h, "benford")(benford.update(b, "value"))
        st.foreach(t => span(h, "psi")(t.update(b, "value")))
        span(h, "cusum") {
          mem.addData(o.map(tag(pass, _)))
          h.tr.adopt(q.runId.toString)(q.processAllAvailable())
        }
      }
      (1 to LookupsPerBatch).foreach { _ =>
        if (rng.nextDouble() < 0.8) {
          val key = skewedUser(rng).toString
          h.op("StreamingCms.estimate", "lookup")(
            cms.estimate(key))
        } else h.op("StreamingHll.estimates", "lookup")(
          hll.estimates())
      }
    }
    st.foreach(t => last = Some(new State(pass, cms, hll, kmv, loghist,
      benford, t)))
  }

  def warmup(h: Harness): Unit = replay(h, new scala.util.Random(h.seed))

  def pass(h: Harness, rng: scala.util.Random): Long = {
    replay(h, rng)
    events
  }

  override def finish(h: Harness): Unit = {
    check(h)
    close()
  }

  override def close(): Unit = {
    stream.foreach(_._2.stop())
    stream = None
  }

  /** The incremental state of the last pass against one fold of all
    * batches.
    */
  private def check(h: Harness): Unit = last.foreach { s =>
    val spark = h.spark
    import spark.implicits._
    val all = batches.reduce(_ union _)
    val cms = StreamingCms.tracker(); cms.update(all, "user_id")
    val keys = users.take(2) ++ users.takeRight(2)
    h.verify("fold", keys.forall(k =>
      cms.estimate(k.toString) == s.cms.estimate(k.toString)),
      "CMS estimates differ from one fold of all batches")
    val hll = new StreamingHll.Tracker(); hll.update(all, "event_type", "user_id")
    h.verify("fold", hll.estimates() == s.hll.estimates(),
      s"HLL ${s.hll.estimates()} vs ${hll.estimates()}")
    val kmv = StreamingKmv.tracker(); kmv.update(all, "event_type", "user_id")
    h.verify("fold", kmv.report() == s.kmv.report(), "KMV reports differ")
    val lh = StreamingLogHistogram.tracker(); lh.update(all, "value")
    val qs = Seq(0.01, 0.25, 0.5, 0.9, 0.99)
    h.verify("fold", qs.map(lh.quantile) == qs.map(s.loghist.quantile),
      "log-histogram quantiles differ")
    val ben = StreamingBenford.tracker(); ben.update(all, "value")
    h.verify("fold", ben.report() == s.benford.report(),
      "Benford reports differ")
    val psi = StreamingDrift.fitBaseline(batches.head, "value")
    psi.update(all, "value")
    h.verify("fold", psi.psi() == s.psi.psi(),
      s"PSI ${s.psi.psi()} vs ${psi.psi()}")
    val batch = StreamingCusum.track(
        spark.createDataset(obs.flatten.map(tag(s.pass, _))),
        Target, Slack, Threshold)
      .collect().map(o => o.key -> o).toMap
    val streamed = stream.map(x => spark.table(x._3)
        .as[StreamingCusum.CusumOut].collect()
        .filter(_.key.startsWith(s"${s.pass}/"))
        .groupBy(_.key).map { case (k, rs) => k -> rs.maxBy(_.n_obs) })
      .getOrElse(Map.empty)
    h.verify("fold", batch == streamed, s"CUSUM $streamed vs $batch")
  }

  def layerNames: Seq[(String, String)] =
    Trackers.map(t => s"streaming.$t.update_s" -> "s") ++ Seq(
      "streaming.batch_p50_s" -> "s", "streaming.batch_p95_s" -> "s",
      "streaming.events_per_s" -> "1/s",
      "streaming.update_jobs_per_batch" -> "count",
      "streaming.lookup_jobs" -> "count",
      "streaming.lookup_p50_ms" -> "ms", "streaming.lookup_p95_ms" -> "ms")

  def layers(h: Harness, passes: Int): Seq[Metric] = {
    val timed = h.tr.all.filter(_.pass >= 0)
    val folds = timed.filter(_.name == "fold")
    val nb = math.max(1, folds.size).toDouble
    val lookups = timed.filter(_.layer == "lookup")
    val lookupMs = lookups.map(_.seconds * 1000)
    Trackers.map(t => Metric(s"streaming.$t.update_s",
      timed.filter(s => s.layer == "streaming" && s.name == t)
        .map(_.seconds).sum / nb, "s")) ++ Seq(
      Metric("streaming.batch_p50_s",
        Stats.quantile(folds.map(_.seconds), 0.5), "s"),
      Metric("streaming.batch_p95_s",
        Stats.quantile(folds.map(_.seconds), 0.95), "s"),
      Metric("streaming.events_per_s",
        events * passes / math.max(1e-9, folds.map(_.seconds).sum), "1/s"),
      Metric("streaming.update_jobs_per_batch",
        h.tr.total(folds)._2.jobs / nb, "count"),
      Metric("streaming.lookup_jobs",
        h.tr.total(lookups)._2.jobs / passes.toDouble, "count"),
      Metric("streaming.lookup_p50_ms",
        if (lookupMs.isEmpty) 0.0 else Stats.quantile(lookupMs, 0.5), "ms"),
      Metric("streaming.lookup_p95_ms",
        if (lookupMs.isEmpty) 0.0 else Stats.quantile(lookupMs, 0.95), "ms"))
  }
}
