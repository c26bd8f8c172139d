package graft.streaming

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkHarness
import graft.streaming.TrackerLaws.rows

/** Replay law for every [[DriverTracker]]: `foreachBatch` is
  * at-least-once, so applying batch k twice under the same batch id
  * must leave the same state and reads as applying it once.
  */
class StreamingReplaySpec extends AnyFunSuite {
  private lazy val spark = SparkHarness.spark

  private lazy val batches: Seq[DataFrame] = {
    val s = spark
    import s.implicits._
    TrackerLaws.cuts.map(_.toDF())
  }

  private lazy val reference: DataFrame = {
    val s = spark
    import s.implicits._
    TrackerLaws.referenceEvents.toDF()
  }

  private val laws = TrackerLaws.all(reference)

  private def check[T <: DriverTracker[_, _]](law: TrackerLaws.Law[T])
      : Unit = {
    val once = law.make()
    val twice = law.make()
    batches.zipWithIndex.foreach { case (batch, i) =>
      val id = i.toLong
      val first = rows(once.atBatch(id)(law.update(once, batch)))
      assert(rows(twice.atBatch(id)(law.update(twice, batch))) == first)
      assert(rows(twice.atBatch(id)(law.update(twice, batch))) == first,
        s"replayed batch $id returned a different result")
      assert(twice.state == once.state, s"state after replay of $id")
      assert(law.read(twice) == law.read(once), s"reads after replay of $id")
      assert(twice.lastBatchId == id)
    }
    // an older id is a replay too
    twice.atBatch(0L)(law.update(twice, batches.last))
    assert(twice.state == once.state && twice.lastBatchId == 2L)
    // ... and the batches read as one fold of their concatenation
    if (law.exact) {
      val whole = law.make()
      law.update(whole, batches.reduce(_ union _))
      assert(law.read(whole) == law.read(once), "parity with one fold")
    }
  }

  laws.foreach { law =>
    test(s"replay law: ${law.name} — batch k applied twice under one " +
      "id equals applying it once") {
      check(law)
    }
  }

  test("replay law: a plain update applies as the next batch id") {
    val s = spark
    import s.implicits._
    val t = StreamingCms.tracker()
    t.update(Seq("x").toDF("k"), "k")
    t.atBatch(0L)(t.update(Seq("x").toDF("k"), "k"))
    t.update(Seq("x").toDF("k"), "k")
    assert(t.lastBatchId == 1L && t.estimate("x") == 2L)
  }

  test("replay law: heavy hitters through foreachBatch — a batch the " +
    "stream re-runs after a failure is not folded twice") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[String]
    val tracker = new StreamingHeavyHitters.Tracker(4)
    val seen = mutable.ArrayBuffer.empty[(Long, Long, Seq[(String, Long)])]
    var failOnce = true
    val ckpt = Files.createTempDirectory("hh-replay").toString
    def start() =
      DriverTracker.foreachBatch(mem.toDF().toDF("t"), tracker) {
        (batch, id) =>
          tracker.update(batch, "t")
          if (id == 1L && failOnce) {
            failOnce = false
            throw new IllegalStateException("sink unavailable")
          }
          seen += ((id, tracker.n, tracker.candidates(0.25)))
      }.option("checkpointLocation", ckpt).start()
    val q1 = start()
    mem.addData(Seq.fill(5)("a") ++ Seq("b"): _*)
    q1.processAllAvailable()
    mem.addData(Seq.fill(3)("b"): _*)
    intercept[StreamingQueryException](q1.processAllAvailable())
    q1.stop()
    val q2 = start() // re-runs batch 1 under its id from the checkpoint
    q2.processAllAvailable()
    q2.stop()
    assert(seen.map(x => (x._1, x._2)) == Seq((0L, 6L), (1L, 9L)))
    assert(seen.last._3 == Seq(("a", 5L), ("b", 4L)))
    assert(tracker.lastBatchId == 1L)
  }
}
