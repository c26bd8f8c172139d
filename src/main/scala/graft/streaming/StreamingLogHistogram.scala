package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.LogHistogram

/** Streaming face of the X160 log₂-linear quantile store: each
  * micro-batch's bucket counts add into the cumulative store, and
  * any quantile is readable after any batch. Bucket counts are plain
  * integers and the bucket index is integer arithmetic, so the
  * tracker state after N batches is IDENTICAL to `LogHistogram
  * .build` over the concatenated batches (spec-asserted) — latency
  * p99 dashboards, length-distribution monitors, SLA alarms, all
  * from constant state. Each batch's input is
  * `LogHistogram.bucketRows`, the per-row bucket projection `build`
  * counts, counted map-side by [[DriverTracker]]'s fold.
  *
  * Driver state: one long per OCCUPIED bucket (≤ 16·octaves ≈ a few
  * hundred for any realistic value range), folded by
  * [[DriverTracker]].
  */
object StreamingLogHistogram {

  final class Tracker private[StreamingLogHistogram] (subBits: Int)
      extends DriverTracker[Long, Long](_ + _) {

    def update(batch: DataFrame, valueCol: String): Unit =
      fold(LogHistogram.bucketRows(
          batch.select(lit("s").as("k"), col(valueCol)), "k", valueCol,
          subBits))(r => Seq(r.getLong(1) -> 1L))

    /** Quantile estimate from the accumulated store — the batch
      * operator's exact walk (rank floor(q·(n−1))+1, bucket
      * midpoint).
      */
    def quantile(q: Double): Double = {
      require(q >= 0 && q <= 1, s"bad q $q")
      val n = state.values.sum
      require(n > 0, "empty tracker")
      val target = math.floor(q * (n - 1).toDouble).toLong + 1
      var cum = 0L
      val sorted = state.toSeq.sortBy(_._1)
      val idx = sorted.find { case (_, c) => cum += c; cum >= target }
        .get._1
      val cap = 1L << subBits
      if (idx < cap) idx.toDouble
      else {
        val lo = (cap + idx % cap) << (idx / cap - 1).toInt
        val width = 1L << (idx / cap - 1).toInt
        (lo.toDouble + (lo + width - 1).toDouble) / 2.0
      }
    }
  }

  def tracker(subBits: Int = 4): Tracker = {
    require(subBits >= 1 && subBits <= 8, s"bad subBits $subBits")
    new Tracker(subBits)
  }
}
