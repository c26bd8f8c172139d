package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.Kmv

/** X245 — streaming face of the X244 KMV bottom-k distinct sketch:
  * each micro-batch contributes its per-group bottom-k hash set, and
  * the tracker keeps the running bottom-k of the UNION — the defining
  * KMV property (bottom-k of a union is computable from the parts'
  * bottom-k alone) makes the tracker after N batches IDENTICAL to
  * [[graft.operators.Kmv.sketch]] over the concatenated input
  * (spec-asserted), so the live distinct-count monitor and the batch
  * audit can never disagree. Each batch's summary is `Kmv.sketch`
  * itself. State: ≤ k longs per group.
  */
object StreamingKmv {

  final class Tracker private[StreamingKmv] (k: Int, salt: String)
      extends DriverTracker[String, Vector[Long]](
        (a, b) => (a ++ b).distinct.sorted.take(k)) {
    require(k >= 4 && k <= 65536, s"bad k $k")

    // the batch's own bottom-k is enough — anything below rank k in
    // the union is below rank k in its own batch
    def update(batch: DataFrame, groupCol: String, keyCol: String)
        : Unit =
      fold(Kmv.sketch(
          batch.withColumn(groupCol, col(groupCol).cast("string")),
          groupCol, keyCol, k, salt))(r =>
        Seq(r.getString(0) -> Vector(r.getLong(1))))

    /** (group, n_kept, est_distinct) — exact below k, the batch
      * operator's (k−1)·2³²/h₍k₎ shape at k.
      */
    def report(): Seq[(String, Int, Double)] =
      state.toSeq.sortBy(_._1).map { case (g, hs) =>
        val est =
          if (hs.length < k) hs.length.toDouble
          else (k - 1).toDouble * 4294967296.0 / hs.last.toDouble
        (g, hs.length, est)
      }
  }

  def tracker(k: Int = 64, salt: String = "kmv"): Tracker =
    new Tracker(k, salt)
}
