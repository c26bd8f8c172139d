package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** X160 — mergeable log₂-linear quantile store (the HdrHistogram
  * bucket family): the QUANTILE member of the persisted-sketch suite
  * (X129 HLL = distinct, X145 MinHash = Jaccard, X156 Bloom =
  * membership, X104 CMS = frequency). Per key a bounded set of
  * (bucket, count) rows; bucket geometry is log₂ with `subBits`
  * linear subdivisions per octave, giving guaranteed relative error
  * ≤ 2^−subBits for any quantile — 4 sub-bits ≈ 6.25%, 16 buckets
  * per octave, ~1000 buckets across a 10¹⁸ value range.
  *
  * UNLIKE DDSketch's log_γ buckets, the index is INTEGER-ONLY
  * arithmetic (exponent = length(bin(v)) − 1, sub-bucket = the
  * subBits bits after the leading 1): no ln(), no pow(), so the
  * store is bit-identical across engines (a 1-ulp ln() divergence at
  * a bucket boundary would silently flip an index; bit arithmetic
  * cannot), SQL-replayable, and content-stable. Values below
  * 2^subBits get EXACT singleton buckets (idx = v).
  *
  * Non-negative values only (lengths, counts, latencies, fixed-point
  * scores); negatives are excluded by the build filter — callers
  * with signed data shift or mirror first.
  *
  * Scale shape: build = one map-side-combined (key, bucket) count
  * agg (≤ 16·octaves rows per key); merge = count sum (exact:
  * merge(parts) == build(union) since bucketing is per-value); the
  * quantile query walks cumulative counts with a per-key window over
  * the BUCKET-BOUNDED store (state ∝ buckets, never rows).
  */
object LogHistogram {

  /** Integer bucket index of the non-negative long column `v`
    * (referenced by NAME inside expr — pure integer/bit ops).
    */
  private def bucketIdx(v: String, subBits: Int): Column = {
    val cap = 1L << subBits
    expr(s"""case when $v < ${cap}L then $v
             else (cast(length(bin($v)) - 1 as bigint) - $subBits + 1)
                    * ${cap}L
                  + (shiftright($v,
                       cast(length(bin($v)) - 1 - $subBits as int))
                     - ${cap}L)
             end""")
  }

  /** Exact integer (lo, hi) bounds of the bucket-index column `b`. */
  private def bucketBounds(b: String, subBits: Int): (Column, Column) = {
    val cap = 1L << subBits
    val lo = expr(s"""case when $b < ${cap}L then $b
      else shiftleft(${cap}L + $b % ${cap}L,
             cast($b div ${cap}L - 1 as int)) end""")
    val width = expr(s"""case when $b < ${cap}L then 1L
      else shiftleft(1L, cast($b div ${cap}L - 1 as int)) end""")
    (lo, lo + width - lit(1L))
  }

  /** Build one store per key over non-negative integral values:
    * (key, bucket, cnt, sub_bits) rows. The bucket geometry travels
    * WITH the store — [[quantiles]] reads it back instead of trusting
    * a caller-supplied parameter, so a store built at depth 8 can
    * never be silently decoded with depth-4 bounds.
    */
  def build(df: DataFrame, keyCol: String, valueCol: String,
      subBits: Int = 4): DataFrame =
    bucketRows(df, keyCol, valueCol, subBits)
      .groupBy(col("key"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("sub_bits", lit(subBits))

  /** The store's per-row projection: one (key, bucket) row per
    * non-negative value of `df`.
    */
  def bucketRows(df: DataFrame, keyCol: String, valueCol: String,
      subBits: Int = 4): DataFrame = {
    require(subBits >= 1 && subBits <= 8, s"bad subBits $subBits")
    df.select(col(keyCol).as("key"),
        col(valueCol).cast("long").as("__lh_v"))
      .filter(col("__lh_v") >= 0L)
      .select(col("key"), bucketIdx("__lh_v", subBits).as("bucket"))
  }

  /** Count-sum merge, relabeling keys (shards → source, days →
    * month). Exact law: merge(build(A), build(B)) == build(A ∪ B).
    * `sub_bits` stays a grouping key: merging stores of different
    * geometries produces duplicate (key, bucket) rows that the
    * [[quantiles]] geometry check then rejects loudly.
    */
  def merge(store: DataFrame, mergedKey: Column): DataFrame =
    store.groupBy(mergedKey.as("key"), col("bucket"), col("sub_bits"))
      .agg(sum(col("cnt")).as("cnt"))
      .select(col("key"), col("bucket"), col("cnt"), col("sub_bits"))

  /** Per-key quantile estimates at `qs`: rank floor(q·(n−1))+1 in
    * the cumulative bucket walk, estimate = bucket midpoint — within
    * 2^−subBits relative error of the exact order statistic (exact
    * below 2^subBits). Bucket geometry is read from the store's own
    * `sub_bits` column (one distinct value required — a mixed or
    * mis-merged store fails here instead of decoding garbage bounds).
    */
  def quantiles(store: DataFrame, qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0 && q <= 1), s"bad qs $qs")
    val sbs = store.select(col("sub_bits")).distinct().collect()
    require(sbs.length <= 1,
      s"store mixes sub_bits geometries: ${sbs.map(_.get(0)).mkString(",")}")
    val subBits =
      if (sbs.isEmpty) 4 else sbs(0).getAs[Number](0).intValue()
    import org.apache.spark.sql.expressions.Window
    val tot = store.groupBy(col("key")).agg(sum(col("cnt")).as("__n"))
    val w = Window.partitionBy(col("key")).orderBy(col("bucket"))
    val cum = store.withColumn("__cum", sum(col("cnt")).over(w))
      .join(broadcast(tot), Seq("key"))
    val picked = cum
      .select(col("*"), explode(array(qs.map(lit): _*)).as("q"))
      .withColumn("__target",
        floor(col("q") * (col("__n") - 1L).cast("double")).cast("long")
          + 1L)
      .filter(col("__cum") >= col("__target"))
      .groupBy(col("key"), col("q"), col("__n"))
      .agg(min(col("bucket")).as("__lh_b"))
    val (lo, hi) = bucketBounds("__lh_b", subBits)
    picked.select(col("key"), col("q"),
      col("__n").cast("long").as("n"),
      round((lo.cast("double") + hi.cast("double")) / 2.0, 6)
        .as("estimate"))
  }
}
