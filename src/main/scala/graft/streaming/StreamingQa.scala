package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Streaming faces of the X353 filter-ablation matrix and the X357
  * clipping gate — the ingest-monitor deployment: every arriving
  * micro-batch folds its scan-stage integer counters into a
  * driver-held cumulative panel, readable after any batch.
  *
  * All state is plain long counters (\|gates\|² for ablation, three
  * for the clip panel) — constant regardless of stream length, folded
  * by [[DriverTracker]] — and because every counter is an exact
  * integer, the cumulative panel after N batches is IDENTICAL to the
  * batch operator over the concatenated input (parity spec-asserted,
  * not approximate).
  */
object StreamingQa {

  /** Cumulative kill-overlap matrix: the streaming twin of
    * `CorpusOps.filterAblation`. Gates are fixed at construction
    * (plan literals — per batch ONE aggregate, no shuffle of rows).
    * State: pair index → docs killed by both gates of the pair, and
    * index `pairs.size` → docs seen.
    */
  final class AblationTracker(gates: Seq[(String, Column)])
      extends DriverTracker[Int, Long](_ + _) {
    require(gates.size >= 2 && gates.size <= 32,
      s"need 2..32 gates, got ${gates.size}")
    require(gates.map(_._1).distinct.size == gates.size,
      "duplicate gate names")
    private val names = gates.map(_._1)
    private val pairs =
      for ((na, ga) <- gates; (nb, gb) <- gates if na <= nb)
        yield (na, nb) -> (ga && gb)
    private val index = pairs.map(_._1).zipWithIndex.toMap

    /** Fold one micro-batch's counters in. */
    def update(batch: DataFrame): Unit = {
      val aggs = pairs.map { case (_, g) =>
        sum(when(g, 1L).otherwise(0L)).cast("long")
      } :+ count(lit(1)).cast("long")
      fold(batch.agg(aggs.head, aggs.tail: _*))(DriverTracker.cells)
    }

    private def killed(na: String, nb: String): Long =
      state.getOrElse(index((na, nb)), 0L)

    /** The cumulative matrix in the batch operator's row shape:
      * (n_docs, gate_a, gate_b, n_killed_a, n_killed_b,
      * n_killed_both, kill_jaccard) for every a < b pair.
      */
    def matrix(): Seq[Row] =
      for {
        na <- names; nb <- names
        if na < nb
      } yield {
        val a = killed(na, na)
        val b = killed(nb, nb)
        val ab = killed(na, nb)
        val union = a + b - ab
        val jac: java.lang.Double =
          if (union > 0L)
            BigDecimal(ab.toDouble / union)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          else null
        Row(n, na, nb, a, b, ab, jac)
      }

    def n: Long = state.getOrElse(pairs.size, 0L)
  }

  /** Cumulative clip panel: total samples, clipped samples, and the
    * longest clipped run seen in any SINGLE clip (runs never span
    * clips, so the cross-batch max is exact).
    */
  final class ClipTracker(fullScale: Int = 32767)
      extends DriverTracker[Unit, (Long, Long, Long)]((a, b) =>
        (a._1 + b._1, a._2 + b._2, math.max(a._3, b._3))) {

    /** Fold one micro-batch of decoded clips (pcm samples column of
      * array<int>).
      */
    def update(batch: DataFrame, samplesCol: String): Unit = {
      val fs = fullScale
      fold(batch.select(col(samplesCol).as("__s"))
        .select(
          size(col("__s")).cast("long").as("__n"),
          size(expr(s"filter(__s, v -> abs(v) >= $fs)")).cast("long")
            .as("__c"),
          expr(
            s"""aggregate(__s,
                 named_struct('run', 0L, 'best', 0L),
                 (acc, v) -> if(abs(v) >= $fs,
                   named_struct('run', acc.run + 1L,
                     'best', greatest(acc.best, acc.run + 1L)),
                   named_struct('run', 0L, 'best', acc.best)),
                 acc -> acc.best)""").as("__r"))
        .agg(coalesce(sum(col("__n")), lit(0L)).cast("long"),
          coalesce(sum(col("__c")), lit(0L)).cast("long"),
          coalesce(max(col("__r")), lit(0L)).cast("long")))(r =>
        Seq(() -> ((r.getLong(0), r.getLong(1), r.getLong(2)))))
    }

    private def panel = state.getOrElse((), (0L, 0L, 0L))
    def nSamples: Long = panel._1
    def nClipped: Long = panel._2
    def longestRun: Long = panel._3
    def clipRatio: Double =
      if (nSamples > 0L) nClipped.toDouble / nSamples else 0.0
  }
}
