package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkHarness

/** Streaming heavy hitters: the cumulative MG summary keeps its
  * superset + error guarantees over the whole stream prefix, with
  * driver state bounded by k.
  */
class StreamingHeavyHittersSpec extends AnyFunSuite {
  private lazy val spark = SparkHarness.spark

  test("track: candidates cover true prefix heavy hitters, " +
    "estimates within N/(k+1), state bounded by k") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val k = 9
    val minFraction = 0.2
    // three batches over a 12-token alphabet; "hot" is 30/90 ≈ 33%,
    // "warm" 20/90 ≈ 22%, the other ten tokens 4 each ≈ 4.4%
    val batches: Seq[Seq[String]] = Seq(
      Seq.fill(10)("hot") ++ Seq.fill(8)("warm") ++
        (0 until 10).flatMap(i => Seq.fill(2)(s"t$i")),
      Seq.fill(12)("hot") ++ Seq.fill(6)("warm") ++
        (0 until 10).map(i => s"t$i"),
      Seq.fill(8)("hot") ++ Seq.fill(6)("warm") ++
        (0 until 10).map(i => s"t$i"))
    val all = batches.flatten
    val exact = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = all.size.toLong
    val trueHh = exact.filter { case (_, f) => f >= minFraction * n }.keySet

    val mem = MemoryStream[String]
    val tracker = new StreamingHeavyHitters.Tracker(k)
    var last: (Long, Seq[(String, Long)]) = (0L, Nil)
    val q = DriverTracker.foreachBatch(mem.toDF().toDF("token"), tracker) {
      (batch, _) =>
        tracker.update(batch, "token")
        last = (tracker.n, tracker.candidates(minFraction))
    }.start()
    batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    q.stop()

    val (prefixN, cands) = last
    assert(prefixN == n)
    assert(tracker.size <= k, s"state ${tracker.size} exceeds k=$k")
    val candSet = cands.map(_._1).toSet
    assert(trueHh.subsetOf(candSet),
      s"missed true heavy hitters: ${trueHh -- candSet}")
    // every estimate is a lower bound within the cumulative MG slack
    cands.foreach { case (item, est) =>
      val f = exact.getOrElse(item, 0L)
      assert(est <= f, s"$item est=$est exceeds true $f")
      assert(est >= f - n / (k + 1),
        s"$item est=$est below f - N/(k+1) = ${f - n / (k + 1)}")
    }
  }

  test("tracker: compaction keeps <= k counters and rejects an " +
    "unsafe fraction") {
    val s = spark
    import s.implicits._
    val tracker = new StreamingHeavyHitters.Tracker(2)
    tracker.update(Seq("a", "a", "a", "b", "b", "c").toDF("t"), "t")
    assert(tracker.size <= 2)
    assert(tracker.n == 6L)
    intercept[IllegalArgumentException] {
      tracker.candidates(0.2) // 0.2 <= 1/(k+1) = 1/3 → unsafe
    }
  }
}
