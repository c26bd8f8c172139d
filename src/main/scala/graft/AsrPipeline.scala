package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.asr.WordRecognizer
import graft.audio.{Dsp, Pcm}
import graft.core._
import graft.functions.TextFunctions
import graft.operators.{Align, SequenceMatcher, Sessionize}

/** The reference's end-to-end dataflow (claude_research_optimal.py
  * main(), :389–696) as ONE narrow pass over the documents. The
  * reference's per-document loop stays a per-document function
  * (`outcomesOf`) mapped over `docs`: no shuffle; audio never moves;
  * `docs` is read once.
  *
  * Scale design: documents are the unit of parallelism. Every stage
  * after decoding — alignment, gap bridging, assembly, validator
  * inference, numbering — reads only its own document, so one task
  * carries a document from its audio to its outcomes. The one cached
  * frame is the per-document outcome table; the segment, rejection and
  * summary frames are narrow projections of it. Nothing is kept
  * outside the tasks: kept/rejected accumulators are replaced by the W6
  * per-doc running counter.
  */
object AsrPipeline {

  /** Reference CLI defaults (claude_research_optimal.py:395–419). */
  final case class Config(
      minRun: Int = 4,
      maxGapWords: Int = 2,
      maxGapTime: Double = 0.5,
      minDur: Double = 1.5,
      fadeMs: Int = 20,
      startPadMs: Int = 150,
      endPadMs: Int = 140,
      tailSafetyMs: Int = 80,
      baseEndGuardMs: Int = 35,
      startGuardMs: Int = 30,
      seamSilenceMs: Int = 120,
      fullGapMs: Int = 500,
      silenceThresholdDb: Double = -40.0,
      enableAcousticValidation: Boolean = true,
      numbersToWords: Boolean = false,
      minValidWords: Int = 2,
      /** Cap on the O(n·m) per-doc LCS: longer streams align via
        * anchor-chunked stitching (ChunkedMatcher). MaxValue = direct.
        */
      lcsMaxChunk: Int = Int.MaxValue)

  /** One input document: transcript text + decoded PCM audio. */
  final case class DocInput(doc_id: Long, text: String,
      pcm: Array[Byte], sample_rate: Int)

  /** Per-(doc,group) assembled base clip (W4 output) and the base-ASR
    * words it covers.
    */
  final case class AssembledClip(doc_id: Long, group_id: Long,
      clip: Array[Byte], sample_rate: Int, n_runs: Int,
      used: Seq[AsrWord])

  /** Per-group outcome: kept payload or rejection, plus its W6
    * segment label ("" until `outcomesOf`'s per-doc counter numbers it).
    */
  final case class ClipOutcome(doc_id: Long, group_id: Long,
      kept: Boolean, reason: String, // "" when kept
      text: String, pcm: Array[Byte], sample_rate: Int,
      duration_s: Double, words: Int, pieces: Int, avg_conf: Double,
      acoustic_quality: String, duration_ms: Long, segment: String = "")

  /** One document's outcomes in group order, with the counts the A5
    * summary reports as plain columns, so the summary never reads clip
    * bytes.
    */
  final case class DocOutcomes(doc_id: Long, equal_runs: Long,
      bridged_groups: Long, exported: Long, rejected: Long,
      outcomes: Seq[ClipOutcome])

  final case class SegmentRow(doc_id: Long, group_id: Long,
      segment: String, text: String, pcm: Array[Byte], sample_rate: Int,
      duration_s: Double, words: Int, pieces: Int, avg_conf: Double,
      acoustic_quality: String)

  final case class RejectionRow(doc_id: Long, group_id: Long,
      segment: String, reason: String, duration_ms: Long,
      confidence: Double)

  /** `perDoc` is the cached per-document outcome table; `segments`,
    * `rejections` and `summary` are narrow projections of it.
    */
  final case class Result(segments: Dataset[SegmentRow],
      rejections: Dataset[RejectionRow], summary: DataFrame,
      perDoc: Dataset[DocOutcomes])

  /** A [[RejectionRow]]'s columns, read from outcome struct `o`. */
  private[graft] def rejectionColumns(o: Column): Seq[Column] = Seq(
    o("doc_id").as("doc_id"), o("group_id").as("group_id"),
    o("segment").as("segment"), o("reason").as("reason"),
    o("duration_ms").as("duration_ms"), o("avg_conf").as("confidence"))

  /** A5 summary (claude_research_optimal.py:684–694) + run counts, read
    * from a per-document row; the summary holds the docs for which
    * `hasOutcomes` is true.
    */
  private[graft] val summaryColumns: Seq[Column] = Seq(
    col("doc_id"), col("exported"), col("rejected"), col("equal_runs"),
    col("bridged_groups"),
    round(col("rejected") * 100.0 / (col("exported") + col("rejected")), 2)
      .as("rejection_rate_pct"),
    // F7 — batch success gating (batch_processor.py:88–98): a doc
    // "fails" when it exports zero segments
    when(col("exported") > 0, "success").otherwise("failed").as("status"))

  private[graft] val hasOutcomes: Column =
    col("exported") + col("rejected") > 0

  // ------------------------------------------------------------ stages

  /** Book scan + normalize of one document
    * (claude_research_optimal.py:434–438): P1 tokenize → P2 normalize →
    * drop empties, position-indexed.
    */
  private[graft] def bookWordsOf(docId: Long, text: String,
      numbersToWords: Boolean): IndexedSeq[BookWord] =
    TextFunctions.tokenizeScala(text)
      .flatMap(t => TextFunctions.normalizeScala(t, numbersToWords)
        .map(n => (t, n)))
      .zipWithIndex
      .map { case ((t, n), i) => BookWord(docId, i.toLong, t, n) }
      .toIndexedSeq

  /** `bookWordsOf` over every document. */
  def bookWords(docs: Dataset[(Long, String)], numbersToWords: Boolean)
      : Dataset[BookWord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.flatMap { case (docId, text) =>
      bookWordsOf(docId, text, numbersToWords)
    }
  }

  /** S3 — base ASR inference + normalization + empty-drop of one
    * document (claude_research_optimal.py:254–277): one recognizer
    * call; `idx` is the word's position.
    */
  private[graft] def asrWordsOf(d: DocInput, recognizer: WordRecognizer,
      numbersToWords: Boolean): IndexedSeq[AsrWord] =
    recognizer.transcribe(s"doc:${d.doc_id}", Pcm(d.pcm, d.sample_rate))
      .iterator
      .map(w => (w, w.text.trim))
      .filter(_._2.nonEmpty)
      .flatMap { case (w, t) =>
        TextFunctions.normalizeScala(t, numbersToWords)
          .map(n => (t, n, w.start, w.end, w.confidence))
      }
      .zipWithIndex
      .map { case ((t, n, s, e, c), i) =>
        AsrWord(d.doc_id, i.toLong, t, n, s, e, c)
      }
      .toIndexedSeq

  /** `asrWordsOf` over every document. */
  def asrWords(audio: Dataset[DocInput], recognizer: WordRecognizer,
      numbersToWords: Boolean): Dataset[AsrWord] = {
    val spark = audio.sparkSession
    import spark.implicits._
    audio.flatMap(asrWordsOf(_, recognizer, numbersToWords))
  }

  /** W4 — clip assembly for one document, in the task that holds its
    * audio (no shuffle; audio never moves). Each bridged group's runs
    * are sliced with the first/last pads, faded (D4), and seamed with
    * `seamSilenceMs` of silence. `words` are the doc's base-ASR words
    * (`idx` = position) and `groups` come from `Sessionize.bridge` in
    * ai0 order, so clips come out in ascending group_id order, which
    * the W6 counter in `outcomesOf` relies on.
    */
  private[graft] def clipsForDoc(doc: DocInput, words: IndexedSeq[AsrWord],
      groups: Seq[GroupedRun], cfg: Config): Iterator[AssembledClip] = {
    val pcm = Pcm(doc.pcm, doc.sample_rate)
    val byGroup = groups.groupBy(_.group_id).toSeq.sortBy(_._1)
    byGroup.iterator.map { case (gid, runs) =>
      val pieces = Seq.newBuilder[Pcm]
      val used = Seq.newBuilder[AsrWord]
      runs.zipWithIndex.foreach { case (r, k) =>
        var sMs = TextFunctions.secToMsScala(r.start_time)
        if (k == 0 && cfg.startPadMs > 0)
          sMs = math.max(0L, sMs - cfg.startPadMs)
        var eMs = TextFunctions.secToMsScala(r.end_time)
        if (k == runs.length - 1 && cfg.endPadMs > 0)
          eMs += cfg.endPadMs
        if (eMs <= sMs) eMs = sMs + 1
        pieces += faded(Pcm.sliceMs(pcm, sMs, eMs), cfg.fadeMs)
        used ++= words.slice(r.ai0.toInt, r.ai1.toInt)
        if (k != runs.length - 1 && cfg.seamSilenceMs > 0)
          pieces += Pcm.silence(cfg.seamSilenceMs, doc.sample_rate)
      }
      val clip = Pcm.concat(pieces.result(), doc.sample_rate)
      AssembledClip(doc.doc_id, gid, clip.bytes, doc.sample_rate,
        runs.length, used.result())
    }
  }

  /** D4 fades: `max(5, fade/3)` ms in and `fade` ms out, each capped
    * at a quarter of the slice.
    */
  private def faded(seg: Pcm, fadeMs: Int): Pcm = {
    if (fadeMs <= 0) return seg
    val len = seg.lengthMs
    val fIn = math.min(math.max(5, fadeMs / 3), len / 4)
    val fOut = math.min(fadeMs.toLong, len / 4)
    val in = if (fIn > 0) Pcm.fadeIn(seg, fIn) else seg
    if (fOut > 0) Pcm.fadeOut(in, fOut) else in
  }

  /** Stages 7–14 of the reference loop, per assembled clip (narrow
    * map, no shuffle): validator re-transcription (S4) → LCS
    * consensus (J2) → longest span (A4) + min-valid-words (F4) →
    * first-match confidence (J3+A3) → boundary math (P4–P7, W3) →
    * min-duration (F5) → slice + fades (D6/D4) → acoustic gate with
    * one retry (F6/D3). None when the clip is empty or no validator
    * span survives. Faithful to the reference's quirks: the adaptive
    * guard reads the VALIDATOR word's confidence (always 1.0 → 70%
    * branch), and the leakage-retry slice skips re-fading.
    */
  private[graft] def judgeOne(c: AssembledClip, validator: WordRecognizer,
      cfg: Config): Option[ClipOutcome] = {
    val baseClip = Pcm(c.clip, c.sample_rate)
    if (baseClip.durationSeconds <= 0) return None
    def reject(reason: String, durationMs: Long, conf: Double) =
      Some(ClipOutcome(c.doc_id, c.group_id, kept = false, reason,
        "", Array.emptyByteArray, c.sample_rate, 0.0, 0, c.n_runs, conf,
        "", durationMs))

    // S4 validator words (clip-relative), normalized, conf 1.0
    val vwords = validator
      .transcribe(s"clip:${c.doc_id}:${c.group_id}", baseClip)
      .iterator.map(w => (w, w.text.trim)).filter(_._2.nonEmpty)
      .flatMap { case (w, t) =>
        TextFunctions.normalizeScala(t, cfg.numbersToWords)
          .map(n => VWord(c.doc_id, c.group_id, 0L, t, n, w.start, w.end, 1.0))
      }.toIndexedSeq
    if (vwords.isEmpty) return None

    // J2 consensus
    val a = c.used.map(_.norm).toIndexedSeq
    val b = vwords.map(_.norm)
    val eq = new SequenceMatcher(a, b).equalRuns(1)
    if (eq.isEmpty) return None

    // A4 longest validator span (strict >, ties → first)
    var best: (Int, Int) = null; var bestLen = 0
    eq.foreach { case (_, _, bi0, bi1) =>
      if (bi1 - bi0 > bestLen) { best = (bi0, bi1); bestLen = bi1 - bi0 }
    }
    if (bestLen < cfg.minValidWords) return None
    val (bi0, bi1) = best
    val keep = vwords.slice(bi0, bi1)

    // J3+A3 first-match confidence (reference's O(n²) scan semantics)
    val spanConf = keep.flatMap(kw => c.used.find(_.norm == kw.norm)
      .map(_.confidence))
    val avgConf = if (spanConf.nonEmpty) spanConf.sum / spanConf.size else 1.0

    // boundary math (clip-relative ms)
    var sMs = TextFunctions.secToMsScala(keep.head.start)
    if (cfg.startPadMs > 0) sMs = math.max(0L, sMs - cfg.startPadMs)
    if (bi0 > 0)
      sMs = math.max(sMs,
        TextFunctions.secToMsScala(vwords(bi0 - 1).end) + cfg.startGuardMs)
    var eMs = TextFunctions.secToMsScala(keep.last.end)
    eMs += cfg.endPadMs + cfg.tailSafetyMs
    if (bi1 < vwords.length) {
      val nextStart = TextFunctions.secToMsScala(vwords(bi1).start)
      val guard = TextFunctions.adaptiveGuardScala(keep.last.confidence,
        cfg.baseEndGuardMs)
      eMs = math.min(eMs, nextStart - guard)
    }
    val ext = TextFunctions.phonemeExtensionScala(keep.last.text)
    if (keep.last.text.nonEmpty && keep.last.text.length >= 3 && ext > 0)
      eMs += ext
    if (eMs <= sMs) eMs = sMs + 1

    // F5 min duration
    val minDurMs = (cfg.minDur * 1000).toLong
    if (eMs - sMs < minDurMs)
      return reject("too_short", eMs - sMs, avgConf)

    var piece = faded(Pcm.sliceMs(baseClip, sMs, eMs), cfg.fadeMs)

    // F6/D3 acoustic gate, one bounded retry (retry slice unfaded —
    // reference quirk, claude_research_optimal.py:624–635)
    var quality = "not_checked"
    if (cfg.enableAcousticValidation) {
      val checkPos = math.max(0L, piece.lengthMs - 50)
      val (leak, _) = Dsp.checkBoundaryLeakage(piece, checkPos,
        cfg.silenceThresholdDb)
      quality = if (leak) "leakage" else "clean"
      if (leak) {
        val eRetry = eMs - 30
        if (eRetry > sMs + minDurMs) {
          val pieceRetry = Pcm.sliceMs(baseClip, sMs, eRetry)
          val (leakRetry, _) = Dsp.checkBoundaryLeakage(pieceRetry,
            pieceRetry.lengthMs, cfg.silenceThresholdDb)
          if (!leakRetry) {
            eMs = eRetry; piece = pieceRetry; quality = "fixed"
          } else return reject("acoustic_leakage", eMs - sMs, avgConf)
        } else return reject("acoustic_leakage_unfixable", eMs - sMs, avgConf)
      }
    }

    val segText = keep.map(_.text).mkString(" ")
    Some(ClipOutcome(c.doc_id, c.group_id, kept = true, "",
      segText, piece.bytes, c.sample_rate, piece.durationSeconds,
      keep.length, c.n_runs, avgConf, quality, eMs - sMs))
  }

  /** The reference loop body (claude_research_optimal.py:430–666) for
    * one document: book and base-ASR words → J1 LCS runs → W2 gap
    * bridging → W4 assembly → stages 7–14 per clip → W6 numbering.
    * A document's outcomes depend on its own row only, so this runs
    * as a narrow map.
    */
  private def outcomesOf(d: DocInput, base: WordRecognizer,
      validator: WordRecognizer, cfg: Config): DocOutcomes = {
    val asr = asrWordsOf(d, base, cfg.numbersToWords)
    val book = bookWordsOf(d.doc_id, d.text, cfg.numbersToWords)
    val runs = Align.equalRunsOf(d.doc_id, book.map(_.norm), asr.map(_.norm),
      cfg.minRun, cfg.lcsMaxChunk)
    val groups = Sessionize.bridge(runs, asr, cfg.maxGapWords, cfg.maxGapTime)
    // W6 — segment numbering: `segment_{kept:04d}` in group order.
    // clipsForDoc emits ascending group_id, so the count of kept rows
    // strictly before is a running counter; a rejected group logs the
    // id of the NEXT kept segment (reference quirk,
    // claude_research_optimal.py:591 vs 661).
    var keptBefore = 0L
    val outcomes = clipsForDoc(d, asr, groups, cfg)
      .flatMap(c => judgeOne(c, validator, cfg))
      .map { o =>
        val seg = "segment_%04d".format(keptBefore)
        if (o.kept) keptBefore += 1
        o.copy(segment = seg)
      }.toVector
    DocOutcomes(d.doc_id, runs.size, groups.map(_.group_id).distinct.size,
      keptBefore, outcomes.size - keptBefore, outcomes)
  }

  /** Full pipeline: sources → align → sessionize → assemble → judge →
    * number → segment/rejection/summary frames (sinks are separate,
    * graft.Sinks).
    *
    * One narrow map of `outcomesOf` over `docs`: no shuffle; audio
    * never moves; `docs` is read once. Its output is the one cached
    * frame, and `segments`, `rejections` and `summary` are projections
    * of it, so base inference runs once per doc and validator inference
    * once per clip across every output and sink. Building the result
    * launches no job.
    */
  def run(docs: Dataset[DocInput], base: WordRecognizer,
      validator: WordRecognizer, cfg: Config = Config()): Result = {
    val spark = docs.sparkSession
    import spark.implicits._

    project(
      Materialize.share(docs.map(outcomesOf(_, base, validator, cfg))))
  }

  /** The [[Result]] frames of a per-document outcome table. */
  private[graft] def project(perDoc: Dataset[DocOutcomes]): Result = {
    val spark = perDoc.sparkSession
    import spark.implicits._
    val outcomes = perDoc.select(explode($"outcomes").as("o"))
    val segments = outcomes.filter($"o.kept")
      .select($"o.doc_id", $"o.group_id", $"o.segment", $"o.text", $"o.pcm",
        $"o.sample_rate", $"o.duration_s", $"o.words", $"o.pieces",
        $"o.avg_conf", $"o.acoustic_quality")
      .as[SegmentRow]
    val rejections = outcomes.filter(!$"o.kept")
      .select(rejectionColumns($"o"): _*)
      .as[RejectionRow]
    val summary = perDoc.filter(hasOutcomes).select(summaryColumns: _*)
    Result(segments, rejections, summary, perDoc)
  }
}
