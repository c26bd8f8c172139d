package graft.operators

import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{AsrWord, EqualRun, GroupedRun}

/** W2 — gap-bridging sessionization (claude_research_optimal.py:291–305).
  * `sessionId` is the classic lag → boundary-flag → running-sum window
  * for any partition key; `bridge` is the reference's per-document
  * loop, which the ASR pipeline runs inside its one narrow pass.
  * Neither keeps state outside its tasks, so both scale linearly with
  * documents/users.
  */
object Sessionize {

  /** Generic form: 1-based contiguous session ids per partition.
    * `isBoundary` should be true on rows that START a new session
    * (lag-null first rows included).
    */
  def sessionId(
      partitionCols: Seq[Column],
      orderCols: Seq[Column],
      isBoundary: Column): Column = {
    val w = Window.partitionBy(partitionCols: _*).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sum(when(isBoundary, 1L).otherwise(0L)).over(w)
  }

  /** W2 kernel for one document: the reference's
    * `merge_with_small_gaps` loop (claude_research_optimal.py:291–305).
    * Runs are taken in ai0 order; a run starts a new group when it is
    * the first, or its word gap (ai0 − prev.ai1) exceeds `maxGapWords`,
    * or its time gap (words[ai0].start − words[prev.ai1−1].end, lines
    * 298–301) exceeds `maxGapTime`. group_id is 0-based, the
    * reference's list index. `words` are the doc's ASR words with
    * unique `idx`; a run whose boundary word is missing is dropped.
    */
  def bridge(runs: Seq[EqualRun], words: Seq[AsrWord], maxGapWords: Long,
      maxGapTime: Double): Seq[GroupedRun] = {
    val at = words.iterator.map(w => w.idx -> w).toMap
    var prev: GroupedRun = null
    runs.sortBy(_.ai0).flatMap { r =>
      for (s <- at.get(r.ai0); e <- at.get(r.ai1 - 1)) yield {
        val group = if (prev == null) 0L
          else if (r.ai0 - prev.ai1 > maxGapWords ||
            s.start - prev.end_time > maxGapTime) prev.group_id + 1
          else prev.group_id
        prev = GroupedRun(r.doc_id, group, r.bi0, r.bi1, r.ai0, r.ai1,
          s.start, e.end)
        prev
      }
    }
  }

  /** `bridge` per document over a `doc_id` cogroup of runs and words. */
  def mergeWithSmallGaps(
      runs: Dataset[EqualRun],
      asr: Dataset[AsrWord],
      maxGapWords: Long,
      maxGapTime: Double): Dataset[GroupedRun] = {
    val spark = runs.sparkSession
    import spark.implicits._
    runs.groupByKey(_.doc_id).cogroup(asr.groupByKey(_.doc_id)) {
      (_, rs, ws) =>
        bridge(rs.toSeq, ws.toSeq, maxGapWords, maxGapTime).iterator
    }
  }
}
