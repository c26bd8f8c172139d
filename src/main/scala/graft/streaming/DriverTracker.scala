package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.MapSide

/** The driver-side fold behind every streaming sketch tracker (CMS,
  * HLL, KMV, log-histogram, Benford, Bloom, PSI, JS, McNemar, PII,
  * the two QA panels and heavy hitters). A tracker supplies three
  * things: its per-batch input (the batch operator's per-row
  * projection, or a summary where rows do not merge into bounded
  * state), an associative `merge` of two values under one key, and
  * its reads. This class folds the input map-side: each partition
  * merges its decoded rows into a keyed map, the driver merges the
  * partition maps (one Spark job, no exchange; see
  * [[graft.MapSide.combine]]) into
  * the keyed state `K → V`, validates the candidate state and only
  * then commits it.
  *
  * Every summary is mergeable (Agarwal et al., PODS 2012), so the
  * state after N batches equals the tracker's batch operator over the
  * concatenated input however the stream is cut into batches or
  * partitions; the tracker specs assert that parity exactly.
  *
  * Replay safety: `foreachBatch` is at-least-once, so a micro-batch
  * can arrive again under the id it had. A batch whose id is at or
  * below [[lastBatchId]] is skipped before its input runs.
  * Spark replays only the last uncommitted batch, so keeping the
  * state from before that batch ([[before]]) is enough for reads that
  * must see the stream as it was when the batch first arrived. A
  * plain `update` outside [[atBatch]] applies as the next id.
  */
abstract class DriverTracker[K, V](merge: (V, V) => V) {
  @volatile private var folded = Map.empty[K, V]
  private var prior = folded
  private var applied = -1L
  private var pinned: Option[Long] = None

  /** The folded state as of [[lastBatchId]]. */
  def state: Map[K, V] = folded

  /** Id of the last batch applied; −1 before the first. */
  def lastBatchId: Long = applied

  /** Run `body`, one `update` of this tracker, as batch `batchId`. */
  def atBatch[T](batchId: Long)(body: => T): T = {
    pinned = Some(batchId)
    try body finally pinned = None
  }

  /** The state the batch being applied reads against: for a replay of
    * the last batch, the state from before it.
    */
  protected def before: Map[K, V] =
    if (pinned.contains(applied)) prior else folded

  /** Post-merge step on the candidate state (MG compaction). */
  protected def settle(next: Map[K, V]): Map[K, V] = next

  /** Throws to reject a batch; the state stays as it was before it. */
  protected def validate(next: Map[K, V]): Unit = ()

  /** Fold one batch: `input` is its per-row projection (or summary)
    * and `decode` turns each row into (key, value) pairs. `decode`
    * runs on the executors, so it must not capture the tracker.
    */
  protected final def fold(input: DataFrame)(
      decode: Row => IterableOnce[(K, V)]): Unit = {
    val id = pinned.getOrElse(applied + 1)
    if (id > applied) {
      val batch = MapSide.combine(input.rdd, merge)(decode)
      val next = settle(DriverTracker.mergeInto(folded, batch, merge))
      validate(next)
      prior = folded; folded = next; applied = id
    }
  }
}

object DriverTracker {

  /** Merge (key, value) pairs into `m`, applying `merge` per key. */
  private def mergeInto[K, V](m: Map[K, V], kvs: IterableOnce[(K, V)],
      merge: (V, V) => V): Map[K, V] =
    kvs.iterator.foldLeft(m) { case (acc, (k, v)) =>
      acc.updated(k, acc.get(k).fold(v)(merge(_, v)))
    }

  /** Decode a projection row as one occurrence of its first column. */
  def tally[K](r: Row): Seq[(K, Long)] = Seq(r.get(0).asInstanceOf[K] -> 1L)

  /** Decode a one-row aggregate of long counters into (column index,
    * count) pairs; null sums (an empty batch) contribute nothing.
    */
  def cells(r: Row): Seq[(Int, Long)] =
    (0 until r.length).filterNot(r.isNullAt).map(i => i -> r.getLong(i))

  /** Wire a streaming frame into a `foreachBatch` writer that applies
    * each micro-batch to `tracker` under its Spark batch id, so a
    * replayed batch is skipped. Caller adds trigger/checkpoint and
    * starts.
    */
  def foreachBatch(stream: DataFrame, tracker: DriverTracker[_, _])(
      update: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      tracker.atBatch(id)(update(batch, id))
    }
}
