package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.{ListenerDrain, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkHarness
import graft.operators.{Hypothesis, Kmv}

/** X245/X246 cross-cut parity: the streaming trackers after N batches
  * must equal the batch operators over the concatenation, however the
  * stream is cut — bottom-k merge (KMV) and integer cells (McNemar)
  * make the parity exact, not approximate.
  */
class StreamingKmvMcNemarSpec extends AnyFunSuite {
  private lazy val spark = SparkHarness.spark

  test("StreamingKmv tracker == batch Kmv over the concatenation, " +
    "across uneven batch cuts") {
    val s = spark
    import s.implicits._
    val all = (1 to 300).map(i => ("g" + (i % 2), (i % 120).toLong))
    val cuts = Seq(all.take(50), all.slice(50, 51), all.drop(51))
    val t = StreamingKmv.tracker(k = 16, salt = "kmv")
    cuts.foreach(c => t.update(c.toDF("g", "k"), "g", "k"))
    val got = t.report()
    val batch = Kmv.estimate(
      Kmv.sketch(all.toDF("g", "k"), "g", "k", k = 16, salt = "kmv"),
      "g", k = 16).collect()
      .map(r => (r.getAs[String]("g"),
        r.getAs[Double]("est_distinct"))).sortBy(_._1)
    assert(got.map(x => (x._1, x._3)) == batch.toSeq)
    // and the tracker's kept hashes ARE the batch bottom-k sets
    val batchSets = Kmv.sketch(all.toDF("g", "k"), "g", "k", k = 16,
      salt = "kmv").collect()
      .groupBy(_.getAs[String]("g"))
      .map { case (g, rows) =>
        g -> rows.map(_.getAs[Long]("h")).sorted.toVector
      }
    got.foreach { case (g, _, _) =>
      assert(t.state(g) == batchSets(g), s"bottom-k diverged for $g")
    }
  }

  test("StreamingKmv and batch Kmv both skip a null key, and no task " +
    "fails") {
    val s = spark
    import s.implicits._
    val rows = Seq(("g", Some("a")), ("g", None), ("g", Some("b")))
      .toDF("g", "k")
    val sc = spark.sparkContext
    val failedTasks = new AtomicInteger
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.reason != Success) failedTasks.incrementAndGet()
    }
    val t = StreamingKmv.tracker(k = 4, salt = "kmv")
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    try { t.update(rows, "g", "k"); ListenerDrain(sc) }
    finally sc.removeSparkListener(listener)
    assert(failedTasks.get == 0)
    val sk = Kmv.sketch(rows, "g", "k", k = 4, salt = "kmv")
    val batch = Kmv.estimate(sk, "g", k = 4).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(t.report().map(x => (x._1, x._3)) == batch)
    assert(t.report() == Seq(("g", 2, 2.0)))
    assert(t.state("g") ==
      sk.collect().map(_.getAs[Long]("h")).sorted.toVector)
  }

  test("StreamingMcNemar tracker == batch mcnemar over the " +
    "concatenation, across batch cuts") {
    val s = spark
    import s.implicits._
    val all = (1 to 100).map(i => (i % 3 == 0, i % 5 == 0))
    val cuts = Seq(all.take(10), all.slice(10, 77), all.drop(77))
    val t = StreamingMcNemar.tracker()
    cuts.foreach(c => t.update(c.toDF("a", "b"), col("a"), col("b")))
    val (n00, n01, n10, n11, chi2, share) = t.report()
    val b = Hypothesis.mcnemar(all.toDF("a", "b"), col("a"), col("b"))
      .head()
    assert((n00, n01, n10, n11) == ((b.getAs[Long]("n00"),
      b.getAs[Long]("n01"), b.getAs[Long]("n10"),
      b.getAs[Long]("n11"))))
    assert(chi2.contains(b.getAs[Double]("chi2")))
    assert(share.contains(b.getAs[Double]("share_a_only")))
    // empty-so-far tracker reports no verdict, not a 0/0 crash
    val fresh = StreamingMcNemar.tracker()
    fresh.update(Seq((true, true)).toDF("a", "b"), col("a"), col("b"))
    assert(fresh.report()._5.isEmpty)
  }
}
