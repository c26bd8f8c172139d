package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** X244 — k-minimum-values (KMV / bottom-k) distinct sketch (Bar-
  * Yossef et al. 2002; Beyer et al. 2007): keep the k SMALLEST
  * salted-md5 hash values per group; the k-th smallest estimates the
  * distinct count as (k−1)·2³²/h₍k₎, and — the part HLL cannot do
  * exactly — the bottom-k of a UNION is computable from the two
  * bottom-k sets alone, giving Jaccard/intersection estimates whose
  * every step is engine-replayable integer arithmetic. The
  * oracle-checkable sibling of X236's HLL algebra: same questions
  * ("how big, how much overlap"), but the sketch is a plain
  * (group, hash) table any SQL engine reproduces bit-for-bit —
  * store it beside a release and AUDIT it later with DuckDB.
  *
  * Estimator facts (documented contract): a group with < k distinct
  * hashes is EXACT (its full hash set is the sketch); at ≥ k the
  * relative error is ~1/√(k−2). Hash collisions under-count by
  * ~n²/2³³ — negligible below tens of millions of distinct keys per
  * group, and the caller widens the substring for more.
  *
  * Scale shape: the bottom-k is a per-group rank window over the
  * DISTINCT (group, hash) table (hash-bounded, the X49 bounded
  * top-k shape); pair ops touch only ≤ 2k rows per pair.
  */
object Kmv {

  /** The sketch's per-row projection: (__g, __h) = (group, 32-bit
    * salted hash) for every row of `df` with a non-null key,
    * duplicates kept. A null key has no hash and is not counted, as
    * in `count(DISTINCT)`.
    */
  def hashRows(df: DataFrame, groupCol: String, keyCol: String,
      salt: String = "kmv"): DataFrame = {
    val h = conv(substring(md5(concat(lit(s"$salt:"),
      col(keyCol).cast("string"))), 1, 8), 16, 10).cast("long")
    df.filter(col(keyCol).isNotNull)
      .select(col(groupCol).as("__g"), h.as("__h"))
  }

  /** Bottom-k sketch table: (group, h, rk) with rk = 1..≤k ascending
    * by the 32-bit salted hash.
    */
  def sketch(df: DataFrame, groupCol: String, keyCol: String,
      k: Int, salt: String = "kmv"): DataFrame = {
    require(k >= 4 && k <= 65536, s"bad k $k")
    import org.apache.spark.sql.expressions.Window
    val hashes = hashRows(df, groupCol, keyCol, salt).distinct()
    val w = Window.partitionBy(col("__g")).orderBy(col("__h"))
    hashes.withColumn("__rk", row_number().over(w).cast("long"))
      .filter(col("__rk") <= k)
      .select(col("__g").as(groupCol), col("__h").as("h"),
        col("__rk").as("rk"))
  }

  /** Per-group distinct estimate from a [[sketch]] table: exact
    * below k (the sketch IS the set), (k−1)·2³²/h₍k₎ at k.
    */
  def estimate(sk: DataFrame, groupCol: String, k: Int): DataFrame = {
    require(k >= 4, s"bad k $k")
    sk.groupBy(col(groupCol))
      .agg(count(lit(1)).cast("long").as("__m"),
        max(when(col("rk") === k.toLong, col("h"))).as("__hk"))
      .select(col(groupCol),
        when(col("__m") < k.toLong, col("__m").cast("double"))
          .otherwise(lit((k - 1).toDouble) * 4294967296.0 /
            col("__hk").cast("double")).as("est_distinct"))
  }

  /** Pairwise set algebra from one [[sketch]] table: for each group
    * pair, the union's bottom-k (merged from the two sketches),
    * union estimate, Jaccard = \|{h ∈ M : in both}\|/\|M\|, and the
    * intersection estimate J·est(∪). Every count is an exact
    * integer; estimates are fixed-shape doubles, round(2)/(6).
    */
  def setOps(sk: DataFrame, groupCol: String, k: Int): DataFrame = {
    require(k >= 4, s"bad k $k")
    import org.apache.spark.sql.expressions.Window
    val pairs = sk.select(col(groupCol).as("group_a")).distinct()
      .join(sk.select(col(groupCol).as("group_b")).distinct(),
        col("group_a") < col("group_b"))
    val a = sk.select(col(groupCol).as("group_a"), col("h"))
    val b = sk.select(col(groupCol).as("group_b"), col("h"))
    // merged hash multiset of each pair, tagged with membership
    val merged = pairs.join(a, Seq("group_a"))
      .withColumn("__inA", lit(1L)).withColumn("__inB", lit(0L))
      .unionByName(pairs.join(b, Seq("group_b"))
        .withColumn("__inA", lit(0L)).withColumn("__inB", lit(1L)))
      .groupBy(col("group_a"), col("group_b"), col("h"))
      .agg(max(col("__inA")).as("__a"), max(col("__inB")).as("__b"))
    val w = Window.partitionBy(col("group_a"), col("group_b"))
      .orderBy(col("h"))
    val bottomK = merged
      .withColumn("__rk", row_number().over(w).cast("long"))
      .filter(col("__rk") <= k)
    bottomK.groupBy(col("group_a"), col("group_b"))
      .agg(count(lit(1)).cast("long").as("__m"),
        max(when(col("__rk") === k.toLong, col("h"))).as("__hk"),
        sum(col("__a") * col("__b")).cast("long").as("__shared"))
      .withColumn("est_union",
        when(col("__m") < k.toLong, col("__m").cast("double"))
          .otherwise(lit((k - 1).toDouble) * 4294967296.0 /
            col("__hk").cast("double")))
      .select(col("group_a"), col("group_b"),
        col("__shared").as("shared_in_bottomk"),
        round(col("est_union"), 2).as("est_union"),
        round(col("__shared").cast("double") /
          col("__m").cast("double"), 6).as("jaccard_est"),
        round(col("est_union") * col("__shared").cast("double") /
          col("__m").cast("double"), 2).as("est_intersect"))
  }
}
