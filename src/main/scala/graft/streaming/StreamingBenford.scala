package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.DistStats

/** Streaming face of X185 Benford first-digit QA: each micro-batch's
  * digit counts add into a 9-cell grid, and the conformance report
  * (observed vs n·log₁₀(1+1/d), χ² terms) is readable after any
  * batch — the live fabricated-feed monitor. Integer cells make the
  * tracker after N batches IDENTICAL to
  * [[graft.operators.DistStats.benford]] over
  * the concatenated input (spec-asserted) — the bounded-tracker
  * layout of the streaming sketch suite, at its smallest possible
  * state: nine longs.
  */
object StreamingBenford {

  final class Tracker private[StreamingBenford] ()
      extends DriverTracker[Int, Long](_ + _) {

    def update(batch: DataFrame, valueCol: String): Unit =
      fold(DistStats.firstDigits(batch, valueCol))(DriverTracker.tally)

    /** (digit, observed, expected, chi2_term) rows — the batch
      * operator's exact double shapes over the accumulated grid.
      */
    def report(): Seq[(Int, Long, Double, Double)] = {
      val n = state.values.sum.toDouble
      state.toSeq.sorted.map { case (d, obs) =>
        val p = math.log(1.0 + 1.0 / d) / math.log(10.0)
        val e = n * p
        val chi = (obs - e) * (obs - e) / e
        (d, obs, math.floor(e * 1e6 + 0.5) / 1e6,
          math.floor(chi * 1e6 + 0.5) / 1e6)
      }
    }
  }

  def tracker(): Tracker = new Tracker()
}
