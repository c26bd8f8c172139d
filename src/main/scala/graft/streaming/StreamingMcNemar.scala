package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}

import graft.operators.Hypothesis

/** X246 — streaming face of X227 McNemar: the 2×2 paired-verdict
  * grid is four longs of tracker state (the smallest member of the
  * bounded-tracker suite after X216's nine) — each micro-batch's
  * cell counts add in, and the continuity-corrected χ² is readable
  * after any batch: the LIVE "is the new filter drifting away from
  * the old one" monitor during a shadow deployment, identical after
  * N batches to [[graft.operators.Hypothesis.mcnemar]] over the
  * concatenation (spec-asserted — integer cells make parity exact).
  */
object StreamingMcNemar {

  /** State: cell index 2·a + b → count, for verdicts a, b ∈ {0, 1};
    * the summary is the batch operator's own four cell counts.
    */
  final class Tracker private[StreamingMcNemar] ()
      extends DriverTracker[Int, Long](_ + _) {

    def update(batch: DataFrame, aCol: Column, bCol: Column): Unit =
      fold(Hypothesis.mcnemar(batch, aCol, bCol)
        .select("n00", "n01", "n10", "n11"))(DriverTracker.cells)

    /** (n00, n01, n10, n11, chi2, shareAOnly) — the batch operator's
      * double shapes; chi2/share None when no disagreement yet.
      */
    def report(): (Long, Long, Long, Long, Option[Double],
        Option[Double]) = {
      val Seq(n00, n01, n10, n11) = (0 until 4).map(state.getOrElse(_, 0L))
      val b = n10.toDouble
      val c = n01.toDouble
      if (n01 + n10 == 0L) (n00, n01, n10, n11, None, None)
      else {
        val diff = math.abs(b - c) - 1.0
        val num = if (diff > 0.0) diff * diff else 0.0
        def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
        (n00, n01, n10, n11, Some(r6(num / (b + c))),
          Some(r6(b / (b + c))))
      }
    }
  }

  def tracker(): Tracker = new Tracker()
}
