package graft.streaming

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkHarness

final case class ReplayEvent(g: String, k: String, v: Double, a: Boolean,
    b: Boolean, text: String, pcm: Seq[Int], id: Long)

/** Replay law for every [[DriverTracker]]: `foreachBatch` is
  * at-least-once, so applying batch k twice under the same batch id
  * must leave the same state and reads as applying it once.
  */
class StreamingReplaySpec extends AnyFunSuite {
  private lazy val spark = SparkHarness.spark

  private val events = (0 until 90).map { i =>
    ReplayEvent(s"g${i % 3}", s"k${(i * 7) % 23}",
      ((i * 37) % 500) / 10.0 + 0.5, i % 3 == 0, i % 5 == 0,
      if (i % 4 == 0) s"write to u$i@example.com" else "plain text",
      Seq(i % 7 * 5000, if (i % 5 == 0) 32767 else 0, -32767 * (i % 2)),
      i.toLong)
  }

  private lazy val batches: Seq[DataFrame] = {
    val s = spark
    import s.implicits._
    Seq(events.take(30), events.slice(30, 31), events.drop(31))
      .map(_.toDF())
  }

  private lazy val reference: DataFrame = {
    val s = spark
    import s.implicits._
    events.take(40).toDF()
  }

  /** One tracker under the law: how to build it, fold a batch into
    * it (the result is compared too: Bloom returns its tags), and read
    * it. `exact`: one fold of the concatenation reads the same (every
    * tracker but heavy hitters, whose MG compaction depends on the
    * cut).
    */
  private final class Law[T <: DriverTracker[_, _]](val name: String,
      val make: () => T, val update: (T, DataFrame) => Any,
      val read: T => Any, val exact: Boolean = true)

  private def rows(out: Any): Any = out match {
    case df: Dataset[_] => df.collect().map(_.toString).sorted.toSeq
    case other => other
  }

  private val laws: Seq[Law[_ <: DriverTracker[_, _]]] = Seq(
    new Law[StreamingCms.Tracker]("CMS", () => StreamingCms.tracker(),
      _.update(_, "k"), t => (0 until 23).map(i => t.estimate(s"k$i"))),
    new Law[StreamingHll.Tracker]("HLL", () => new StreamingHll.Tracker(),
      _.update(_, "g", "k"), _.estimates()),
    new Law[StreamingKmv.Tracker]("KMV", () => StreamingKmv.tracker(k = 8),
      _.update(_, "g", "k"), _.report()),
    new Law[StreamingLogHistogram.Tracker]("log-histogram",
      () => StreamingLogHistogram.tracker(), _.update(_, "id"),
      t => Seq(0.1, 0.5, 0.9).map(t.quantile)),
    new Law[StreamingBenford.Tracker]("Benford",
      () => StreamingBenford.tracker(), _.update(_, "v"), _.report()),
    new Law[StreamingBloom.Tracker]("Bloom", () => StreamingBloom.tracker(),
      _.tagAndUpdate(_, "k"), _.state),
    new Law[StreamingDrift.Tracker]("PSI",
      () => StreamingDrift.fitBaseline(reference, "v"),
      _.update(_, "v"), t => (t.psi(), t.verdict())),
    new Law[StreamingJs.Tracker]("JS",
      () => StreamingJs.fitBaseline(reference, "k"),
      _.update(_, "k"), _.jsdNats()),
    new Law[StreamingMcNemar.Tracker]("McNemar",
      () => StreamingMcNemar.tracker(),
      _.update(_, col("a"), col("b")), _.report()),
    new Law[StreamingPii.Tracker]("PII", () => new StreamingPii.Tracker,
      _.update(_, "id", "text"), _.current),
    new Law[StreamingQa.AblationTracker]("QA ablation",
      () => new StreamingQa.AblationTracker(Seq(
        "low" -> (col("v") < 10.0), "high" -> (col("v") > 40.0),
        "odd" -> (col("id") % 2 === 1))),
      _.update(_), t => (t.n, t.matrix())),
    new Law[StreamingQa.ClipTracker]("QA clip panel",
      () => new StreamingQa.ClipTracker(), _.update(_, "pcm"),
      t => (t.nSamples, t.nClipped, t.longestRun, t.clipRatio)),
    new Law[StreamingHeavyHitters.Tracker]("heavy hitters",
      () => new StreamingHeavyHitters.Tracker(4), _.update(_, "k"),
      t => (t.n, t.size, t.candidates(0.25)), exact = false))

  private def check[T <: DriverTracker[_, _]](law: Law[T]): Unit = {
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
