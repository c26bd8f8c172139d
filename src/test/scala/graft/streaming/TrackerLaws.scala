package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

final case class ReplayEvent(g: String, k: String, v: Double, a: Boolean,
    b: Boolean, text: String, pcm: Seq[Int], id: Long)

/** Every [[DriverTracker]] under one shared fixture: how to build it,
  * fold a batch into it and read it. The replay, fold and chaos specs
  * all run their laws over this list.
  */
object TrackerLaws {

  val events: Seq[ReplayEvent] = (0 until 90).map { i =>
    ReplayEvent(s"g${i % 3}", s"k${(i * 7) % 23}",
      ((i * 37) % 500) / 10.0 + 0.5, i % 3 == 0, i % 5 == 0,
      if (i % 4 == 0) s"write to u$i@example.com" else "plain text",
      Seq(i % 7 * 5000, if (i % 5 == 0) 32767 else 0, -32767 * (i % 2)),
      i.toLong)
  }

  /** The three batches the laws fold: 30, 1 and 59 events. */
  val cuts: Seq[Seq[ReplayEvent]] =
    Seq(events.take(30), events.slice(30, 31), events.drop(31))

  /** The PSI and JS baselines' reference slice. */
  val referenceEvents: Seq[ReplayEvent] = events.take(40)

  /** One tracker under the laws: how to build it, fold a batch into
    * it (the result is compared too: Bloom returns its tags), and read
    * it. `exact`: one fold of the concatenation reads the same (every
    * tracker but heavy hitters, whose MG compaction depends on the
    * cut). `projected`: the tracker folds its batch operator's
    * per-row projection, so an update is one Spark job.
    */
  final class Law[T <: DriverTracker[_, _]](val name: String,
      val make: () => T, val update: (T, DataFrame) => Any,
      val read: T => Any, val exact: Boolean = true,
      val projected: Boolean = false)

  /** An update's result in comparable form: a frame's sorted rows. */
  def rows(out: Any): Any = out match {
    case df: Dataset[_] => df.collect().map(_.toString).sorted.toSeq
    case other => other
  }

  /** The laws; `reference` is the baseline slice for PSI and JS. */
  def all(reference: => DataFrame): Seq[Law[_ <: DriverTracker[_, _]]] = Seq(
    new Law[StreamingCms.Tracker]("CMS", () => StreamingCms.tracker(),
      _.update(_, "k"), t => (0 until 23).map(i => t.estimate(s"k$i")),
      projected = true),
    new Law[StreamingHll.Tracker]("HLL", () => new StreamingHll.Tracker(),
      _.update(_, "g", "k"), _.estimates(), projected = true),
    new Law[StreamingKmv.Tracker]("KMV", () => StreamingKmv.tracker(k = 8),
      _.update(_, "g", "k"), _.report(), projected = true),
    new Law[StreamingLogHistogram.Tracker]("log-histogram",
      () => StreamingLogHistogram.tracker(), _.update(_, "id"),
      t => Seq(0.1, 0.5, 0.9).map(t.quantile), projected = true),
    new Law[StreamingBenford.Tracker]("Benford",
      () => StreamingBenford.tracker(), _.update(_, "v"), _.report(),
      projected = true),
    new Law[StreamingBloom.Tracker]("Bloom", () => StreamingBloom.tracker(),
      _.tagAndUpdate(_, "k"), _.state, projected = true),
    new Law[StreamingDrift.Tracker]("PSI",
      () => StreamingDrift.fitBaseline(reference, "v"),
      _.update(_, "v"), t => (t.psi(), t.verdict()), projected = true),
    new Law[StreamingJs.Tracker]("JS",
      () => StreamingJs.fitBaseline(reference, "k"),
      _.update(_, "k"), _.jsdNats(), projected = true),
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
}
