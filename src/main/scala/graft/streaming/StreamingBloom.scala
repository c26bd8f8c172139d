package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.operators.BloomStore

/** Streaming face of the X156 Bloom store: the CONSTANT-state ingest
  * dedup gate. [[StreamingDedup]] keeps one state row per distinct
  * content hash (exact, state ∝ distinct keys); this tracker keeps a
  * fixed `bits`-bit filter (state ∝ nothing) and trades a tunable
  * false-positive rate — the standard shape when the key universe is
  * unbounded and a rare wrongly-dropped duplicate is acceptable.
  *
  * Because filter words OR associatively, the tracker state after N
  * micro-batches is IDENTICAL to `BloomStore.build` over the
  * concatenated batches (spec-asserted, not approximate), and the
  * no-false-negative guarantee holds across batch boundaries: a
  * value seen in ANY earlier batch always tags `might_be_dup`. A
  * replayed batch tags against the filter from before its first
  * arrival, so a replay does not mark its own values as duplicates.
  *
  * Each batch's input is `BloomStore.bitRows`, the per-row (word,
  * bit mask) projection `BloomStore.build` ORs, folded map-side.
  *
  * Driver state: ≤ bits/32 word → bits entries (4096 bits → 128),
  * folded by [[DriverTracker]].
  */
object StreamingBloom {

  final class Tracker private[StreamingBloom] (bits: Int, hashes: Int,
      salt: String) extends DriverTracker[Int, Long](_ | _) {

    /** Tag `batch` against everything seen in EARLIER batches, then
      * fold the batch in. Returns (…batch cols…, might_be_dup).
      */
    def tagAndUpdate(batch: DataFrame, valueCol: String): DataFrame = {
      val spark = batch.sparkSession
      import spark.implicits._
      val store = before.toSeq.map { case (i, w) => ("s", i.toLong, w) }
        .toDF("key", "word_idx", "bits")
      val tagged = BloomStore.mightContain(store,
          batch.select(lit("s").as("key"), col(valueCol)),
          "key", valueCol, bits, hashes, salt)
        .select(col("value").as(valueCol),
          col("might_contain").as("might_be_dup"))
      // materialize BEFORE mutating state
      val out = Materialize.cut(batch.join(tagged, Seq(valueCol)))
      fold(BloomStore.bitRows(batch.select(lit("s").as("key"),
          col(valueCol)), "key", valueCol, bits, hashes, salt))(r =>
        Seq(r.getAs[Long](1).toInt -> r.getAs[Long](2)))
      out
    }
  }

  def tracker(bits: Int = 4096, hashes: Int = 3,
      salt: String = "bloom"): Tracker = {
    require(bits > 0 && bits % 32 == 0, s"bad bits $bits")
    new Tracker(bits, hashes, salt)
  }
}
