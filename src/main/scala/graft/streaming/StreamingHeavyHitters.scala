package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.HeavyHitters

/** Running heavy hitters over an unbounded stream — the streaming
  * face of [[HeavyHitters.exactByFraction]] (X44).
  *
  * Per micro-batch, the batch's per-partition Misra-Gries summaries
  * (the SAME distributed pass-1 as the batch operator) merge into a
  * driver-held cumulative summary by counter addition followed by MG
  * compaction back to ≤ k counters. By the mergeable-summaries
  * theorem (Agarwal et al., PODS'12) the cumulative summary keeps the
  * MG guarantee over the ENTIRE stream prefix:
  * f(x) − N/(k+1) ≤ est(x) ≤ f(x), so the emitted candidate set
  * {x : est(x) ≥ minFraction·N − N/(k+1)} is a provable SUPERSET of
  * the prefix's true heavy hitters.
  *
  * Counts are lower-bound estimates, not exact: the batch operator's
  * exact second pass recounts the full input, which an unbounded
  * stream no longer has. Callers needing exact counts over a bounded
  * window run the batch recount over that window's storage with the
  * candidate set emitted here.
  *
  * Scale shape: the heavy distributed work per batch is one
  * mapPartitions (no shuffle) producing ≤ partitions·k skinny rows;
  * driver state is ≤ k counters + one long, independent of stream
  * length — the state-store-free analogue of a stateful top-k.
  *
  * Wiring: `DriverTracker.foreachBatch(items, tracker)` with a body
  * that calls `update` and then reads `n` and `candidates`. A
  * replayed batch is not folded again, so those reads repeat the
  * values of the first attempt.
  */
object StreamingHeavyHitters {

  /** Driver-held cumulative MG summary: ≤ k `Some(item)` counters plus
    * the prefix count under `None` (pass 1's null-item sentinel rows —
    * misraGries drops null ITEMS, so no counter row carries null).
    */
  final class Tracker(val k: Int)
      extends DriverTracker[Option[String], Long](_ + _) {
    require(k >= 1, s"k must be >= 1, got $k")

    def n: Long = state.getOrElse(None, 0L)
    def size: Int = (state - None).size

    /** Fold one batch of items. */
    def update(batch: DataFrame, itemCol: String): Unit =
      fold(HeavyHitters.summaries(batch, itemCol, k))(r =>
        Seq(Option(r.getString(0)) -> r.getLong(1)))

    // MG compaction back to <= k counters: subtract the (k+1)-th
    // largest value from every counter, drop non-positive — the
    // standard mergeable-summary reduction (error adds, stays
    // <= N/(k+1) cumulatively)
    override protected def settle(s: Map[Option[String], Long])
        : Map[Option[String], Long] = {
      val items = s - None
      if (items.size <= k) s
      else {
        val cut = items.values.toArray.sorted(Ordering[Long].reverse)(k)
        items.collect { case (i, c) if c > cut => i -> (c - cut) } ++
          s.get(None).map(None -> _)
      }
    }

    /** Candidates ≥ `minFraction` of the prefix, with their lower-
      * bound estimates: est ≥ ⌈minFraction·N⌉ − ⌊N/(k+1)⌋ — every
      * true heavy hitter of the prefix qualifies. Deterministic
      * order (est desc, item).
      */
    def candidates(minFraction: Double): Seq[(String, Long)] = {
      require(minFraction > 1.0 / (k + 1),
        s"minFraction=$minFraction must exceed 1/(k+1)=${1.0 / (k + 1)}")
      val minCount = math.ceil(minFraction * n).toLong
      val slack = n / (k + 1)
      state.toSeq
        .collect { case (Some(item), est) if est >= minCount - slack =>
          (item, est)
        }
        .sortBy { case (item, est) => (-est, item) }
    }
  }
}
