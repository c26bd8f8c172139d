package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Materialize

/** Exact heavy hitters without a full-vocabulary shuffle.
  *
  * `q_heavy_hitters` (X9) finds top-k by grouping the entire
  * vocabulary — at 100 TB that shuffle is the dominant cost even
  * though the answer is a handful of rows. This operator gets the
  * EXACT same answer class (all items with frequency ≥ a threshold)
  * in two narrow passes:
  *
  *   1. Per-partition Misra-Gries summaries (≤ k counters each, one
  *      `mapPartitions`, no shuffle). MG's guarantee per partition p:
  *      f_p(x) − n_p/(k+1) ≤ est_p(x) ≤ f_p(x). Summaries are
  *      mergeable by counter addition (Agarwal et al., "Mergeable
  *      Summaries", PODS'12), so summing across partitions gives
  *      f(x) − n/(k+1) ≤ Σ est_p(x) ≤ f(x) — a candidate filter
  *      `Σest ≥ minCount − n/(k+1)` provably keeps every true heavy
  *      hitter. The merge runs as a tiny groupBy over ≤ P·k rows.
  *   2. Exact recount of candidates only: the candidate set is
  *      provably ≤ n/(minCount − n/(k+1)) items (their est-mass sums
  *      to ≤ n), so it ships as an `isin` literal — the recount
  *      filter stays codegen'd in the scan stage and the groupBy
  *      shuffles only matching rows.
  *
  * Result = exactly {x : f(x) ≥ minCount} with exact counts —
  * deterministic regardless of partitioning (MG estimates vary with
  * intra-partition order; the recount erases that), hence fully
  * SQL-oracle-able. Requires minCount > n/(k+1), checked loudly:
  * below that, items absent from every summary could still qualify
  * and completeness would silently break.
  */
object HeavyHitters {

  /** Misra-Gries sketch of one iterator: at most `k` counters.
    * Returns (item, est) pairs plus the element count consumed.
    * Decrement-all events are O(k) but occur ≤ n/(k+1) times, so the
    * whole pass is O(n) amortized.
    */
  private[operators] def misraGries(it: Iterator[String], k: Int)
      : (mutable.HashMap[String, Long], Long) = {
    val counts = mutable.HashMap.empty[String, Long]
    var n = 0L
    while (it.hasNext) {
      val x = it.next()
      if (x != null) {
        n += 1
        counts.get(x) match {
          case Some(c) => counts.update(x, c + 1)
          case None if counts.size < k => counts.update(x, 1L)
          case None =>
            // decrement-all; remove zeros (the (k+1)-way cancellation)
            val dead = mutable.ArrayBuffer.empty[String]
            counts.foreachEntry { (key, c) =>
              if (c == 1L) dead += key else counts.update(key, c - 1)
            }
            dead.foreach(counts.remove)
        }
      }
    }
    (counts, n)
  }

  /** Pass 1: per-partition MG summaries as rows. One sentinel row per
    * partition (`item` null) carries that partition's element count so
    * n needs no second scan.
    */
  private[graft] def summaries(items: DataFrame, itemCol: String,
      k: Int): DataFrame = {
    val spark = items.sparkSession
    import spark.implicits._
    items.select(col(itemCol).cast("string")).as[String]
      .mapPartitions { it =>
        val (counts, n) = misraGries(it, k)
        Iterator.single((null: String, n)) ++
          counts.iterator.map { case (x, c) => (x, c) }
      }.toDF("item", "est")
  }

  /** All items occurring ≥ `minFraction` of total, with exact counts.
    * Output: (itemCol, n). `k` bounds sketch memory (k counters per
    * partition); completeness requires minFraction > 1/(k+1).
    */
  def exactByFraction(items: DataFrame, itemCol: String,
      minFraction: Double, k: Int = 1023): DataFrame =
      Materialize.scoped { keep =>
    require(minFraction > 1.0 / (k + 1),
      s"minFraction=$minFraction must exceed 1/(k+1)=${1.0 / (k + 1)} " +
        "or items absent from every summary could still qualify " +
        "(raise k or the fraction)")
    val spark = items.sparkSession
    import spark.implicits._
    val sums = keep(summaries(items, itemCol, k))
    val n = sums.filter($"item".isNull)
      .agg(coalesce(sum($"est"), lit(0L))).as[Long].head()
    val minCount = math.ceil(minFraction * n).toLong
    // Σ_p floor(n_p/(k+1)) ≤ floor(n/(k+1)): safe global slack
    val slack = n / (k + 1)
    // ≤ n/(minCount − slack) candidates (≈ 1/(f − 1/(k+1)) ≈ k for
    // fractions near the floor) — plan-time literals, like the IVF
    // centroids and LSH hyperplanes
    val candidates = sums.filter($"item".isNotNull)
      .groupBy($"item").agg(sum($"est").as("lb"))
      .filter($"lb" >= minCount - slack)
      .select($"item").as[String].collect().toSeq
    // compare as string on both passes (pass 1 casts into the
    // sketch), so non-string item columns recount consistently
    items
      .filter(col(itemCol).cast("string").isin(candidates: _*))
      .groupBy(col(itemCol)).agg(count(lit(1)).as("n"))
      .filter($"n" >= minCount)
  }
}
