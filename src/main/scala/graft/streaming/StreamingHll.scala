package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.Hll

/** Streaming face of X129 ([[graft.operators.Hll]]): running
  * distinct-count estimates per group over an unbounded stream — the
  * [[StreamingHeavyHitters]] layout with an HLL register-max merge
  * instead of a Misra-Gries summary. Per micro-batch the distributed
  * pass builds the batch's per-group register arrays (the SAME
  * map-side-combinable agg as the batch operator); the driver merges
  * each into its cumulative per-group registers with elementwise
  * max. The merge is associative AND idempotent, so the cumulative
  * estimate equals the single-pass whole-prefix sketch EXACTLY (the
  * r13 portable-register rewrite removed DataSketches'
  * sparse→dense promotion jitter — the parity spec asserts strict
  * equality now), and tracks the exact count at the configured
  * precision.
  *
  * Driver state: 2^p registers per group — independent of stream
  * length and of per-group cardinality (the point of HLL).
  */
object StreamingHll {

  final class Tracker(val p: Int = Hll.DefaultP)
      extends DriverTracker[String, IndexedSeq[Int]](
        _.lazyZip(_).map((a, b) => math.max(a, b))) {

    /** Merge one micro-batch: `batch` must have (groupCol, keyCol). */
    def update(batch: DataFrame, groupCol: String, keyCol: String): Unit =
      fold(Hll.groupSketches(batch, groupCol, keyCol, p)
          .select(groupCol, "sketch"))(r =>
        Seq(r.get(0).toString -> r.getSeq[Int](1).toIndexedSeq))

    /** Current per-group estimates (the batch operator's integer
      * estimator, bit-identical to [[Hll.estimateFromRegisters]]).
      */
    def estimates(): Map[String, Long] =
      state.map { case (g, r) =>
        g -> Hll.estimateFromRegisters(r.toArray, p)
      }
  }
}
