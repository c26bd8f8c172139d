package graft.operators

import org.apache.spark.sql.Dataset

import graft.core.{AsrWord, BookWord, EqualRun}

/** J1 — ordered sequence-alignment "join" between two word streams
  * (SURVEY.md §2.3). No relational equivalent exists, so the difflib
  * kernel runs per-document inside `cogroup`/`mapGroups`: documents are
  * the unit of parallelism, there is exactly one shuffle (by doc_id) on
  * each side, and no driver-side state — the shape that scales to a
  * 1000-executor cluster where each task aligns a bag of documents.
  */
object Align {

  /** J1: `lcs_equal_runs(book_norm, asr_norm, min_run)`
    * (claude_research_optimal.py:283–289, invoked at :457).
    *
    * `maxChunk` bounds the O(n·m) kernel per document: streams longer
    * than it align via anchor-chunked stitching (ChunkedMatcher) so a
    * single 1M-word document cannot become a straggler task. The
    * default keeps the exact direct kernel.
    */
  def lcsEqualRuns(
      book: Dataset[BookWord],
      asr: Dataset[AsrWord],
      minRun: Int,
      maxChunk: Int = Int.MaxValue): Dataset[EqualRun] = {
    val spark = book.sparkSession
    import spark.implicits._
    book.groupByKey(_.doc_id)
      .cogroup(asr.groupByKey(_.doc_id)) { (docId, bs, as) =>
        equalRunsOf(docId, bs.toArray.sortBy(_.pos).map(_.norm).toIndexedSeq,
          as.toArray.sortBy(_.idx).map(_.norm).toIndexedSeq, minRun, maxChunk)
          .iterator
      }
  }

  /** J1 for one document's normalized streams; no runs when either
    * stream is empty. The ASR pipeline calls it per document inside
    * its one narrow pass.
    */
  def equalRunsOf(docId: Long, book: IndexedSeq[String],
      asr: IndexedSeq[String], minRun: Int, maxChunk: Int): Seq[EqualRun] =
    if (book.isEmpty || asr.isEmpty) Nil
    else ChunkedMatcher.equalRuns(book, asr, minRun, maxChunk).map {
      case (bi0, bi1, ai0, ai1) =>
        EqualRun(docId, bi0.toLong, bi1.toLong, ai0.toLong, ai1.toLong)
    }
}
