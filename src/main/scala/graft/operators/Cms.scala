package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-Min Sketch (Cormode & Muthukrishnan 2005) as a relational
  * operator — the mergeable frequency sketch next to X44's
  * Misra-Gries (which answers "who is heavy"; CMS answers "how often
  * is THIS key", for any key, after one pass).
  *
  * The sketch is a (depth × width) grid of counters; each of the
  * `depth` hash rows maps a key to one bucket, and the estimate is
  * the MIN over rows of the key's bucket counts — always an
  * overestimate (collisions only add), within εN with probability
  * 1−δ for width=⌈e/ε⌉, depth=⌈ln 1/δ⌉.
  *
  * Everything is deterministic: row j's hash is the top-32-bits of
  * md5("cms<j>:" ‖ key) mod width — content-stable, engine-agnostic
  * (the repo-wide md5Band convention), so the sketch, and therefore
  * every estimate, is bit-identical across engines and cluster
  * topologies. No RNG, no seed plumbing.
  *
  * Scale shape: building the sketch is ONE map-side-combinable
  * aggregation of depth·|rows| skinny (row, bucket) pairs into a
  * depth×width table (constant-sized: 4×64 default = 256 counters) —
  * the classic sketch contract: accumulate anywhere, merge by
  * elementwise addition ([[merge]]), estimate from the tiny table
  * with a broadcast join. Nothing is ever key-cardinality-sized.
  */
object Cms {

  private[graft] def bucket(key: Column, j: Int, width: Int): Column =
    pmod(conv(substring(md5(concat(lit(s"cms$j:"), key)), 1, 8), 16, 10)
      .cast("long"), lit(width.toLong))

  /** The sketch's per-row projection: one (hash_row, bucket) row per
    * row of `df` and hash row — the cells each row increments.
    */
  def cells(df: DataFrame, keyCol: String, depth: Int = 4,
      width: Int = 64): DataFrame = {
    require(depth >= 1 && depth <= 16, s"depth=$depth out of [1,16]")
    require(width >= 2, s"width=$width must be >= 2")
    val key = col(keyCol).cast("string")
    df.select(posexplode(array((0 until depth).map(j =>
        bucket(key, j, width)): _*)).as(Seq("hash_row", "bucket")))
  }

  /** One (hash_row, bucket, cnt) row per non-empty counter; counts
    * each row of `df` once (pre-aggregate upstream for weighted
    * inserts).
    */
  def sketch(df: DataFrame, keyCol: String, depth: Int = 4,
      width: Int = 64): DataFrame =
    cells(df, keyCol, depth, width)
      .groupBy(col("hash_row"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Elementwise sum of sketches built with the same (depth, width). */
  def merge(sketches: DataFrame*): DataFrame =
    sketches.reduce(_ union _)
      .groupBy(col("hash_row"), col("bucket"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Point estimates for `keys.keyCol`: min over hash rows of the
    * key's bucket count. The sketch table is constant-sized, so this
    * is a broadcast join against the (usually much larger) key set.
    * Keys never inserted estimate >= 0 (missing buckets count 0).
    */
  def estimate(sketchDf: DataFrame, keys: DataFrame, keyCol: String,
      depth: Int = 4, width: Int = 64): DataFrame = {
    val key = col(keyCol).cast("string")
    val probes = keys.select(col(keyCol),
      posexplode(array((0 until depth).map(j =>
        bucket(key, j, width)): _*)).as(Seq("hash_row", "bucket")))
    probes
      .join(broadcast(sketchDf), Seq("hash_row", "bucket"), "left")
      .groupBy(col(keyCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
  }

  /** X161 — equi-join cardinality estimate from two sketches built
    * with the SAME (depth, width): |A ⋈ B| = Σ_key f_A(k)·f_B(k),
    * estimated per hash row as Σ_buckets cntA[b]·cntB[b], min over
    * rows (Cormode-Muthukrishnan inner-product bound — always an
    * OVERestimate, within ε·|A|·|B| w.p. 1−δ). The one-row planner
    * statistic that decides broadcast-vs-shuffle-vs-salt BEFORE
    * paying for the join — two constant-sized sketch tables joined
    * on (row, bucket), never the data.
    *
    * Depth is DERIVED from the sketches themselves (max hash_row +
    * 1 — build emits every hash row for every key, so the max is the
    * depth) and the two sides must agree; a depth-4 assumption
    * against depth-8 sketches used to silently return 0. The
    * derivation stays INSIDE the one plan (two tiny broadcast aggs +
    * a lazily-evaluated raise_error branch) — a driver-side
    * `.head()` per sketch measured a 2× wall regression on this
    * sub-second query.
    */
  def innerProduct(a: DataFrame, b: DataFrame): DataFrame = {
    val da = a.agg(max(col("hash_row")).as("__ma"))
    val db = b.agg(max(col("hash_row")).as("__mb"))
    val per = a
      .select(col("hash_row"), col("bucket"), col("cnt").as("__ca"))
      .join(b.select(col("hash_row"), col("bucket"),
        col("cnt").as("__cb")), Seq("hash_row", "bucket"))
      .groupBy(col("hash_row"))
      .agg(sum(col("__ca") * col("__cb")).as("__p"))
    // a hash row with NO overlapping cells has product 0, and it
    // wins the min — if any of the depth rows is missing from the
    // join, the estimate is 0 (the empty/disjoint-sketch case)
    per.agg(count(lit(1)).as("__rows"), min(col("__p")).as("__min"))
      .crossJoin(broadcast(da)).crossJoin(broadcast(db))
      .select(
        when(col("__ma").isNull || col("__mb").isNull, lit(0L))
          .when(col("__ma") =!= col("__mb"),
            raise_error(concat(lit("sketch depth mismatch: left="),
              (col("__ma") + 1).cast("string"), lit(" right="),
              (col("__mb") + 1).cast("string"))).cast("long"))
          .when(col("__rows") === col("__ma").cast("long") + 1L,
            col("__min"))
          .otherwise(lit(0L)).cast("long").as("est_join_size"))
  }
}
