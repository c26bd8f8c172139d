package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.Kmv

/** X245 — streaming face of the X244 KMV bottom-k distinct sketch:
  * each micro-batch contributes its per-group hashes, and the
  * tracker keeps the running bottom-k of the UNION — the defining
  * KMV property (bottom-k of a union is computable from the parts'
  * bottom-k alone) makes the tracker after N batches IDENTICAL to
  * [[graft.operators.Kmv.sketch]] over the concatenated input
  * (spec-asserted), so the live distinct-count monitor and the batch
  * audit can never disagree. Each batch's input is `Kmv.hashRows`,
  * the per-row (group, hash) projection `Kmv.sketch` ranks; the
  * map-side fold keeps each partition's bottom-k per group. State:
  * ≤ k longs per group.
  */
object StreamingKmv {

  /** Bottom-k of the union of two ascending, distinct vectors: one
    * linear merge, stopping at k. A full `a` that `b` cannot enter is
    * returned as it is, so a row folded into a full bottom-k costs
    * O(1).
    */
  private[streaming] def bottomK(k: Int)(a: Vector[Long], b: Vector[Long])
      : Vector[Long] = if (b.isEmpty || (a.length >= k && b.head >= a(k - 1)))
    a.take(k)
  else {
    val out = Vector.newBuilder[Long]
    var i = 0; var j = 0; var n = 0
    while (n < k && (i < a.length || j < b.length)) {
      if (j == b.length || (i < a.length && a(i) < b(j))) {
        out += a(i); i += 1
      } else {
        if (i < a.length && a(i) == b(j)) i += 1
        out += b(j); j += 1
      }
      n += 1
    }
    out.result()
  }

  final class Tracker private[StreamingKmv] (k: Int, salt: String)
      extends DriverTracker[String, Vector[Long]](bottomK(k)) {
    require(k >= 4 && k <= 65536, s"bad k $k")

    def update(batch: DataFrame, groupCol: String, keyCol: String)
        : Unit =
      fold(Kmv.hashRows(
          batch.withColumn(groupCol, col(groupCol).cast("string")),
          groupCol, keyCol, salt))(r =>
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
