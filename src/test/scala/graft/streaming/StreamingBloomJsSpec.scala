package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkHarness
import graft.operators.{BloomStore, CorpusOps}

/** r9 wave 10: streaming twins of X156 (Bloom ingest gate) and X150
  * (JS drift).
  */
class StreamingBloomJsSpec extends AnyFunSuite {
  private lazy val spark = SparkHarness.spark

  test("streaming bloom gate: state after N batches == batch build " +
    "over the concatenation; cross-batch dups always tag") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val batches = Seq(
      (1 to 50).map(i => s"v$i"),
      (40 to 90).map(i => s"v$i"),   // 11 values repeat batch 1
      (85 to 120).map(i => s"v$i"))  // 6 repeat batch 2
    val tracker = StreamingBloom.tracker()
    val tags = scala.collection.mutable.Map.empty[String, Boolean]
    val mem = MemoryStream[String]
    val q = mem.toDF().toDF("v").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        tracker.tagAndUpdate(batch, "v").collect().foreach { r =>
          tags(r.getAs[String]("v")) = r.getAs[Boolean]("might_be_dup")
        }
        ()
      }.start()
    batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    q.stop()
    // no false negatives across batch boundaries: every value seen
    // in an earlier batch tags true on re-arrival
    (40 to 50).foreach(i => assert(tags(s"v$i"),
      s"v$i seen in batch 1 not tagged in batch 2"))
    (85 to 90).foreach(i => assert(tags(s"v$i")))
    // first-ever arrivals overwhelmingly tag false (fp-rate bound)
    val firstSeen = (1 to 39).map(i => tags(s"v$i"))
    assert(firstSeen.count(identity) <= 2,
      "implausible false-positive count on first arrivals")
    // state law: tracker words == batch build over all values
    val whole = BloomStore.build(
      batches.flatten.map(("s", _)).toDF("key", "v"), "key", "v")
      .collect().map(r => r.getAs[Long]("word_idx").toInt ->
        r.getAs[Long]("bits")).toMap
    (0 until 4096 / 32).foreach { i =>
      assert(tracker.state.getOrElse(i, 0L) == whole.getOrElse(i, 0L),
        s"word $i differs")
    }
  }

  test("streaming JSD == batch jsDivergence over the concatenated " +
    "stream (1e-9), and drift grows with shifted batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val baseline = (1 to 300).map(i => s"c${i % 5}")
    val cuts = Seq(
      (1 to 100).map(i => s"c${i % 5}"),        // same distribution
      (1 to 150).map(i => s"c${i % 2}"),        // shifted
      (1 to 120).map(_ => "c9"))                // novel category
    val tracker = StreamingJs.fitBaseline(baseline.toDF("c"), "c")
    val mem = MemoryStream[String]
    val q = mem.toDF().toDF("c").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        tracker.update(batch, "c")
        ()
      }.start()
    val scores = cuts.map { b =>
      mem.addData(b: _*); q.processAllAvailable()
      tracker.jsdNats()
    }
    q.stop()
    assert(scores(0) < scores(1) && scores(1) < scores(2),
      s"drift not growing: $scores")
    // parity with the batch operator over baseline + all batches
    val all = baseline.map(c => (c, true)) ++
      cuts.flatten.map(c => (c, false))
    val batchJsd = CorpusOps.jsDivergence(all.toDF("c", "b"), "c", $"b")
      .head().getAs[Double]("jsd_nats")
    assert(math.abs(scores.last - batchJsd) < 1e-9 + 5e-7,
      s"stream ${scores.last} vs batch $batchJsd")
  }

  test("streaming JSD tracker rejects category blow-up loudly") {
    val s = spark
    import s.implicits._
    val tracker = StreamingJs.fitBaseline(
      Seq("a", "b").toDF("c"), "c", maxCategories = 3)
    intercept[IllegalArgumentException] {
      tracker.update((1 to 10).map(i => s"cat$i").toDF("c"), "c")
    }
  }

  test("a rejected JSD batch leaves score and state as before it, so " +
    "a retry is not counted twice") {
    val s = spark
    import s.implicits._
    def fresh() = StreamingJs.fitBaseline(
      Seq("a", "b").toDF("c"), "c", maxCategories = 3)
    val tracker = fresh()
    tracker.update(Seq("a", "a", "c").toDF("c"), "c")
    val jsd = tracker.jsdNats()
    val state = tracker.state
    val blowUp = ("a" +: (1 to 10).map(i => s"cat$i")).toDF("c")
    (1 to 2).foreach { _ =>
      intercept[IllegalArgumentException](tracker.update(blowUp, "c"))
      assert(tracker.jsdNats() == jsd)
      assert(tracker.state == state)
    }
    // the next good batch folds in as if the rejected one never came
    tracker.update(Seq("b").toDF("c"), "c")
    val once = fresh()
    once.update(Seq("a", "a", "c", "b").toDF("c"), "c")
    assert(tracker.state == once.state)
    assert(tracker.jsdNats() == once.jsdNats())
  }
}
