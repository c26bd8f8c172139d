package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** X156 — persistable, MERGEABLE Bloom-filter store: the membership
  * counterpart of the X129 HLL snapshot store (cardinality) and the
  * X145 MinHash signature store (Jaccard). Per key (source, shard,
  * snapshot …) a `bits`-bit filter laid out as SPARSE SCALAR rows
  * (key, word_idx, bits) — 32 filter bits per row (a 64-bit shift would need bit 63, which DuckDB's checked `<<` rejects; 32-bit words keep the store engine-replayable), only occupied
  * words materialized — so the store survives the driver-contract
  * scalar-shape rule, parquet-persists, and merges by `bit_or`
  * (bitwise OR is associative/commutative/idempotent: the filter of
  * a union is EXACTLY the OR of the part filters, spec-asserted).
  *
  * Positions are md5-derived ([[CorpusOps.md5Band]], the repo-wide
  * reproducible-hash convention): position h of value v =
  * md5(salt ‖ h ‖ ':' ‖ v)[0,8) mod bits — engine-replayable SQL, no
  * RNG, no JVM-private hashing. Probing ([[mightContain]]) is a
  * (key, word_idx) equi-join against only the words a probe needs —
  * k rows per probe — with the no-false-negative guarantee of the
  * structure: build-side values ALWAYS probe true.
  *
  * At 100 TB: build once per shard/day (one explode(k) + a (key,
  * word)-bounded, map-side-combined bit_or agg), persist the
  * skinny store, OR-merge history server-side, and gate expensive
  * joins on a broadcast probe — the X43 bloom-prune shape with the
  * filter lifted out of job scope into a reusable artifact.
  */
object BloomStore {

  private def positions(value: Column, bits: Int, hashes: Int,
      salt: String): Column =
    transform(sequence(lit(0), lit(hashes - 1)),
      h => CorpusOps.md5Band(
        concat(h.cast("string"), lit(":"), value), salt) % bits)

  private def checkParams(bits: Int, hashes: Int): Unit = {
    require(bits > 0 && bits % 32 == 0, s"bits must be a positive " +
      s"multiple of 32, got $bits")
    require(hashes >= 1 && hashes <= 16, s"bad hashes $hashes")
  }

  /** The filter's per-row projection: one (key, word_idx, __m) row
    * per row of `df` and hash — the word each position sets and its
    * one-bit mask. Duplicate values repeat rows, which OR absorbs.
    */
  def bitRows(df: DataFrame, keyCol: String, valueCol: String,
      bits: Int = 4096, hashes: Int = 3, salt: String = "bloom")
      : DataFrame = {
    checkParams(bits, hashes)
    df.select(col(keyCol).as("key"),
        explode(positions(col(valueCol).cast("string"), bits, hashes,
          salt)).as("__p"))
      .select(col("key"), shiftright(col("__p"), 5).as("word_idx"),
        expr("shiftleft(1L, cast(__p % 32 as int))").as("__m"))
  }

  /** Build one filter per `keyCol` value over the distinct
    * `valueCol` members: the OR of [[bitRows]] per (key, word), each
    * distinct (key, value) hashed once. Output: (key, word_idx, bits)
    * sparse rows.
    */
  def build(df: DataFrame, keyCol: String, valueCol: String,
      bits: Int = 4096, hashes: Int = 3, salt: String = "bloom")
      : DataFrame =
    bitRows(df.select(col(keyCol).as("key"),
        col(valueCol).cast("string").as("__v")).distinct(),
        "key", "__v", bits, hashes, salt)
      .groupBy(col("key"), col("word_idx"))
      .agg(expr("bit_or(__m)").as("bits"))

  /** OR-merge shard filters into coarser keys (shards → source,
    * daily → monthly): relabel via `mergedKey`, then `bit_or` per
    * word. Exact law: merge(build(A), build(B)) == build(A ∪ B).
    */
  def merge(store: DataFrame, mergedKey: Column): DataFrame =
    store.groupBy(mergedKey.as("key"), col("word_idx"))
      .agg(expr("bit_or(bits)").as("bits"))

  /** Probe (key, value) rows against the store: true iff every one
    * of the k positions' bits is set in that key's filter — no false
    * negatives, tunable false positives. The join touches only the
    * ≤ k·|probes| (key, word) rows a probe addresses.
    */
  def mightContain(store: DataFrame, probes: DataFrame,
      keyCol: String, valueCol: String, bits: Int = 4096,
      hashes: Int = 3, salt: String = "bloom"): DataFrame = {
    checkParams(bits, hashes)
    val pr = probes.select(col(keyCol).as("key"),
        col(valueCol).cast("string").as("value"))
      .distinct()
      .select(col("key"), col("value"),
        explode(positions(col("value"), bits, hashes, salt)).as("__p"))
      .select(col("key"), col("value"),
        shiftright(col("__p"), 5).as("word_idx"),
        expr("shiftleft(1L, cast(__p % 32 as int))").as("__m"))
    pr.join(store.select(col("key"), col("word_idx"), col("bits")),
        Seq("key", "word_idx"), "left")
      .groupBy(col("key"), col("value"))
      .agg(min(coalesce(col("bits").bitwiseAND(col("__m")) === col("__m"),
        lit(false))).as("might_contain"))
  }
}
