package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Cms

/** Streaming face of the X104 Count-Min sketch — the last persisted
  * sketch without a streaming twin (HLL, heavy hitters, Bloom,
  * quantile store, PSI and JS drift all have theirs): each
  * micro-batch's (row, bucket) counts add into the cumulative grid,
  * any key's frequency estimate is readable after any batch, and —
  * counters being plain integers — the tracker grid after N batches
  * is IDENTICAL to `Cms.sketch` over the concatenated batches
  * (spec-asserted). Each batch's input is `Cms.cells`, the per-row
  * projection `Cms.sketch` groups over, counted map-side by
  * [[DriverTracker]]'s fold.
  *
  * Driver state: ≤ depth×width (row, bucket) → count entries (4×64 =
  * 256 by default), folded by [[DriverTracker]].
  */
object StreamingCms {

  final class Tracker private[StreamingCms] (depth: Int, width: Int)
      extends DriverTracker[(Int, Int), Long](_ + _) {

    def update(batch: DataFrame, keyCol: String): Unit =
      // a null key hashes to no bucket: it never reaches a counter,
      // as in the batch sketch's (row, null) cell
      fold(Cms.cells(batch, keyCol, depth, width))(r =>
        if (r.isNullAt(1)) Nil
        else Seq((r.getInt(0), r.getLong(1).toInt) -> 1L))

    /** Point estimate: min over rows of the key's bucket counter —
      * the batch operator's exact arithmetic over the accumulated
      * grid. The buckets come from the sketch's own hash columns
      * projected over a one-row local relation, which Spark folds on
      * the driver: a lookup launches no job.
      */
    def estimate(key: String): Long = {
      val spark = SparkSession.active
      import spark.implicits._
      val buckets = Seq(key).toDF("__k")
        .select((0 until depth).map(j =>
          Cms.bucket(col("__k"), j, width)): _*)
        .collect()(0)
      (0 until depth).map(j =>
        state.getOrElse((j, buckets.getLong(j).toInt), 0L)).min
    }
  }

  def tracker(depth: Int = 4, width: Int = 64): Tracker = {
    require(depth >= 1 && depth <= 16 && width >= 2,
      s"bad geometry ($depth, $width)")
    new Tracker(depth, width)
  }
}
