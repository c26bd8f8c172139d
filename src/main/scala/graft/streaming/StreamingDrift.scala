package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.MapSide

/** Streaming face of X131 ([[graft.operators.CorpusOps.psi]]): the
  * PSI monitoring loop as it actually deploys — the BASELINE (band
  * boundaries + band counts) is fitted once from a reference
  * snapshot, then each arriving micro-batch adds its banded counts to
  * the cumulative CURRENT histogram, and the PSI/verdict is readable
  * after any batch. Band counts are plain integers, so the streaming
  * score after N batches is IDENTICAL to the batch operator run over
  * the concatenated current slice (spec-asserted, not approximate).
  * The baseline and every batch are counted the same way: the
  * per-row [[bands]] projection folded map-side by [[DriverTracker]].
  *
  * Driver state: ≤ `buckets` band → count entries, folded by
  * [[DriverTracker]].
  */
object StreamingDrift {

  final class Tracker private[StreamingDrift] (boundaries: Array[Double],
      baseline: Array[Long]) extends DriverTracker[Int, Long](_ + _) {
    private val buckets = baseline.length

    /** Add one micro-batch of current-slice values. */
    def update(batch: DataFrame, valueCol: String): Unit =
      fold(bands(batch, valueCol, boundaries))(DriverTracker.tally)

    /** PSI of the accumulated current histogram vs the baseline
      * (add-one smoothing, the batch operator's exact arithmetic).
      */
    def psi(): Double = {
      val current = (0 until buckets).map(state.getOrElse(_, 0L))
      val nb = baseline.sum.toDouble + buckets
      val nc = current.sum.toDouble + buckets
      var s = 0.0; var i = 0
      while (i < buckets) {
        // bands empty on BOTH sides don't enter the sum — the batch
        // operator aggregates only materialized bands; matching it
        // keeps streaming == batch exactly
        if (baseline(i) + current(i) > 0L) {
          val p = (baseline(i) + 1L) / nb
          val q = (current(i) + 1L) / nc
          s += (p - q) * math.log(p / q)
        }
        i += 1
      }
      s
    }

    def verdict(): String =
      if (psi() < 0.1) "stable" else if (psi() < 0.25) "moderate"
      else "major"
  }

  /** (band) per row: the number of boundaries below the value. */
  private def bands(df: DataFrame, valueCol: String,
      boundaries: Array[Double]): DataFrame =
    df.select(boundaries.map(c =>
        when(col(valueCol).cast("double") > c, 1).otherwise(0))
        .reduce(_ + _).as("__band"))

  /** Fit the baseline: equal-population quantile boundaries + band
    * counts from the reference snapshot.
    */
  def fitBaseline(reference: DataFrame, valueCol: String,
      buckets: Int = 10): Tracker = {
    require(buckets >= 2, s"need buckets >= 2, got $buckets")
    val probs = (1 until buckets).map(_.toDouble / buckets)
    val cuts = reference
      .agg(percentile(col(valueCol).cast("double"),
        typedlit(probs)).as("__c"))
      .collect().head.getSeq[Double](0).toArray
    val counts = MapSide.combine(bands(reference, valueCol, cuts).rdd,
      (a: Long, b: Long) => a + b)(DriverTracker.tally[Int])
    new Tracker(cuts, Array.tabulate(buckets)(counts.getOrElse(_, 0L)))
  }
}
