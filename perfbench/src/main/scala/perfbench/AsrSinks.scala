package perfbench

import java.nio.ByteBuffer
import java.nio.ByteOrder.LITTLE_ENDIAN
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.apache.spark.util.LongAccumulator

import graft.{AsrPipeline, Sinks}
import graft.AsrPipeline.{Config, DocInput}
import graft.asr.{AmplitudeRecognizer, RecWord, WordRecognizer}
import graft.audio.Pcm
import graft.operators.{Align, Sessionize}

/** Counts and times every call into the wrapped recognizer. */
final case class CountingRecognizer(inner: WordRecognizer,
    calls: LongAccumulator, nanos: LongAccumulator) extends WordRecognizer {
  def transcribe(key: String, audio: Pcm): Seq[RecWord] = {
    val t0 = System.nanoTime()
    val out = inner.transcribe(key, audio)
    nanos.add(System.nanoTime() - t0)
    calls.add(1L)
    out
  }
}

/** The paper's path: (audio, imperfect transcript) pairs through
  * `AsrPipeline.run` with the reference defaults, then every sink into
  * a fresh directory. Inputs are a seeded sample of the committed
  * documents: each document is read at a seeded pace, the recording
  * misses some words, and the transcript drops or substitutes others,
  * so both kept and rejected clips occur.
  */
object AsrSinks extends Workload {
  val passSeconds = 5.0
  val name = "asr_sinks"
  /** Documents per pass, each cut to its first WordsPerDoc words, so
    * every seed feeds the pipeline the same amount of speech.
    */
  val Docs = 12
  val WordsPerDoc = 48
  /** Per document: words the recording misses, and transcript words
    * dropped or replaced, at seeded positions.
    */
  val Missed = 4
  val Dropped = 2
  val Replaced = 4
  val SampleRate = 8000
  /** Longest phoneme extension the pipeline adds after a word. */
  val MaxTailMs = 60

  private var inputs: Dataset[DocInput] = _
  private var nDocs = 0
  /** Output directories of the timed passes, checked in `finish`. */
  private val outputs = ArrayBuffer.empty[Path]
  private var counters: Option[(CountingRecognizer, CountingRecognizer)] = None
  private val Cfg = Config()

  def prepare(h: Harness): Unit = {
    val spark = h.spark
    import spark.implicits._
    val rng = new scala.util.Random(h.seed)
    val docs = spark.read
      .parquet(h.root.resolve("perfbench/data/sf0.001/documents.parquet")
        .toString)
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .sortBy(_._1)
    val eligible = docs.toSeq.map { case (id, text) =>
      id -> text.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    }.filter(_._2.length >= WordsPerDoc)
    // a fixed ladder of reading paces (seconds per word), dealt by seed
    val paces = rng.shuffle((0 until Docs).map(i =>
      0.25 + 0.3 * i / (Docs - 1)))
    val picked = rng.shuffle(eligible).take(Docs).zip(paces).map {
      case ((id, ws), step) => synthesize(id, ws.take(WordsPerDoc), step, rng)
    }
    nDocs = picked.length
    inputs = spark.createDataset(picked)
    outputs.clear()
  }

  /** Audio at `step` seconds per word with some words missing, and a
    * transcript with some words dropped or replaced.
    */
  private def synthesize(id: Long, ws: Seq[String], step: Double,
      rng: scala.util.Random): DocInput = {
    val pos = rng.shuffle(ws.indices.toList)
    val missed = pos.take(Missed).toSet
    val dropped = pos.slice(Missed, Missed + Dropped).toSet
    val replaced = pos.slice(Missed + Dropped, Missed + Dropped + Replaced)
      .toSet
    val timeline = ws.zipWithIndex.collect {
      case (w, i) if !missed(i) => (w, i * step, i * step + step * 0.8)
    }
    val transcript = ws.zipWithIndex.collect {
      case (w, i) if replaced(i) => ws(rng.nextInt(ws.length)) + "x"
      case (w, i) if !dropped(i) => w
    }
    DocInput(id, transcript.mkString(" "),
      AmplitudeRecognizer.synthesize(timeline, SampleRate).bytes, SampleRate)
  }

  private def recognizers: (WordRecognizer, WordRecognizer) =
    counters match {
      case Some((b, v)) => (b, v)
      case None => (AmplitudeRecognizer(), AmplitudeRecognizer())
    }

  /** One pass: the pipeline and the four sinks into `out`. */
  private def once(h: Harness, out: Path): Unit = {
    val (base, validator) = recognizers
    val dir = out.toString
    h.op("AsrPipeline.run", "pipeline") {
      AsrPipeline.run(inputs, base, validator, Cfg)
    }.foreach { r =>
      h.op("Sinks.writeClips", "sinks")(Sinks.writeClips(r.segments, dir))
      h.op("Sinks.writeFullCorpus", "sinks")(
        Sinks.writeFullCorpus(r.segments, dir, Cfg.fullGapMs))
      h.op("Sinks.writeMetadata", "sinks")(Sinks.writeMetadata(r, dir))
      h.op("Sinks.writeWordCoverage", "sinks")(
        Sinks.writeWordCoverage(r.segments, dir))
    }
    h.clearCaches()
  }

  /** Two checked passes: the driver-side planning and scheduling code
    * this workload spends most of its time in is still warming after
    * the first.
    */
  def warmup(h: Harness): Unit = {
    for (i <- 1 to 2) {
      val out = h.work.resolve(s"asr-warmup-$i")
      once(h, out)
      check(h, out)
    }
    if (h.tr.traced) {
      val sc = h.sc
      def acc(n: String) = sc.longAccumulator(n)
      counters = Some((
        CountingRecognizer(AmplitudeRecognizer(), acc("base"), acc("base_ns")),
        CountingRecognizer(AmplitudeRecognizer(), acc("val"), acc("val_ns"))))
    }
  }

  def pass(h: Harness, rng: scala.util.Random): Long = {
    val out = h.work.resolve(s"asr-pass-${h.tr.pass}")
    outputs += out
    once(h, out)
    nDocs.toLong
  }

  // ------------------------------------------------------------ checks

  private final case class Summary(exported: Long, rejected: Long,
      equalRuns: Long, groups: Long)

  private def files(dir: Path, suffix: String): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator.asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(suffix)).toList.sorted
      finally s.close()
    }

  private def lines(dir: Path, suffix: String): Seq[String] =
    files(dir, suffix).flatMap(p => Files.readAllLines(p, UTF_8).asScala)
      .filter(_.nonEmpty)

  private def field(json: String, key: String): Long =
    ("\"" + key + "\":(\\d+)").r.findFirstMatchIn(json)
      .map(_.group(1).toLong).getOrElse(0L)

  private def summary(out: Path): Summary = {
    val rows = lines(out.resolve("summary_json"), ".json")
    Summary(rows.map(field(_, "exported")).sum,
      rows.map(field(_, "rejected")).sum,
      rows.map(field(_, "equal_runs")).sum,
      rows.map(field(_, "bridged_groups")).sum)
  }

  private def wavPcm(p: Path): Pcm = {
    val b = Files.readAllBytes(p)
    val sr = ByteBuffer.wrap(b, 24, 4).order(LITTLE_ENDIAN).getInt
    Pcm(java.util.Arrays.copyOfRange(b, 44, b.length), sr)
  }

  /** Every sink output of one pass against the recognizer and against
    * each other.
    */
  private def check(h: Harness, out: Path): Unit = {
    val rec = AmplitudeRecognizer()
    val wavs = files(out, ".wav").filter(_.getParent.getFileName.toString ==
      "clips")
    val texts = wavs.map(w => w.resolveSibling(
      w.getFileName.toString.stripSuffix(".wav") + ".txt"))
    // words as the pipeline reads them: trimmed, blanks dropped (fade
    // edges decode to control characters)
    def words(w: Path) = {
      val pcm = wavPcm(w)
      val ws = rec.transcribe("check", pcm).filter(_.text.trim.nonEmpty)
      // The end boundary is clamped before the next word and then
      // extended by up to MaxTailMs for the last phoneme (reference
      // order), so a clip may end on the onset of the next word.
      val tail = ws.reverse.takeWhile(
        _.start >= pcm.durationSeconds - MaxTailMs / 1000.0).size
      (ws.dropRight(tail).map(_.text.trim).mkString(" "), tail)
    }
    def heard(w: Path) = words(w)._1
    def text(t: Path) =
      if (Files.exists(t)) new String(Files.readAllBytes(t), UTF_8) else ""
    val heardAll = wavs.map(words)
    tailOnsets += heardAll.count(_._2 > 0)
    val bad = wavs.zip(texts).zip(heardAll).collect {
      case ((w, t), (got, _)) if got != text(t) => (w, t)
    }
    h.verify("Sinks.writeClips", bad.isEmpty,
      s"${bad.size} of ${wavs.size} clips re-transcribe differently, e.g. " +
        bad.headOption.map { case (w, t) =>
          s"${h.work.relativize(w)} hears '${heard(w)}', text '${text(t)}'"
        }.getOrElse(""))
    val s = summary(out)
    val tsvRows = lines(out.resolve("clips_tsv"), ".csv").size - 1
    h.verify("Sinks.writeMetadata",
      tsvRows == wavs.size && wavs.size == s.exported &&
        lines(out.resolve("rejections_json"), ".json").size == s.rejected,
      s"clips.tsv $tsvRows rows, ${wavs.size} wav files, ${s.exported} " +
        s"kept, ${s.rejected} rejected")
    h.verify("AsrPipeline.run",
      s.exported > 0 && s.exported + s.rejected == s.groups,
      s"kept ${s.exported} + rejected ${s.rejected} vs ${s.groups} groups")
    val corpus = files(out, "full.txt")
    val corpusOk = corpus.forall { f =>
      val clips = files(f.resolveSibling("clips"), ".txt")
      Files.exists(f.resolveSibling("full.wav")) &&
        new String(Files.readAllBytes(f), UTF_8) ==
          clips.map(c => new String(Files.readAllBytes(c), UTF_8))
            .mkString("\n")
    }
    h.verify("Sinks.writeFullCorpus",
      corpusOk && corpus.size == wavs.map(_.getParent).distinct.size,
      s"${corpus.size} corpus files for " +
        s"${wavs.map(_.getParent).distinct.size} docs with clips")
    val coverage = lines(out.resolve("word_coverage"), ".csv").drop(1)
      .map(_.split(",").last.toLong).sum
    val tokens = texts.map(t => new String(Files.readAllBytes(t), UTF_8)
      .toLowerCase.split("\\s+").count(_.nonEmpty)).sum
    h.verify("Sinks.writeWordCoverage", coverage == tokens,
      s"coverage counts $coverage tokens, clips hold $tokens")
  }

  // ------------------------------------------------------------ layers

  private var passStats = Seq.empty[(Summary, Long, Long)]
  /** Clips ending on the onset of the next word, over checked passes. */
  private var tailOnsets = 0L
  private var stageS = Map.empty[String, Double]

  override def finish(h: Harness): Unit = {
    tailOnsets = 0L
    passStats = outputs.toSeq.map { out =>
      check(h, out)
      val fs = files(out, "")
      (summary(out), fs.size.toLong, fs.map(Files.size).sum)
    }
    if (h.tr.traced) stageS = stages(h)
    outputs.foreach(Main.deleteTree)
  }

  /** Force each public stage of the pipeline on its own, once. */
  private def stages(h: Harness): Map[String, Double] = {
    val rec = AmplitudeRecognizer()
    def timed(n: String)(f: => Long) =
      n -> Stats.time(h.tr.span(n, "pipeline")(f))._2
    val spark = h.spark
    import spark.implicits._
    val docs = inputs.cache()
    docs.count()
    val books = AsrPipeline.bookWords(docs.map(d => (d.doc_id, d.text)),
      Cfg.numbersToWords).cache()
    val asr = AsrPipeline.asrWords(docs, rec, Cfg.numbersToWords).cache()
    val runs = Align.lcsEqualRuns(books, asr, Cfg.minRun, Cfg.lcsMaxChunk)
      .cache()
    val groups = Sessionize.mergeWithSmallGaps(runs, asr, Cfg.maxGapWords,
      Cfg.maxGapTime)
    val out = Seq(
      timed("book_words")(books.count()),
      timed("asr_words")(asr.count()),
      timed("align")(runs.count()),
      timed("sessionize")(groups.count()))
    h.clearCaches()
    out.toMap
  }

  def layerNames: Seq[(String, String)] = Seq(
    "asr.base_calls" -> "count", "asr.validator_calls" -> "count",
    "asr.validator_calls_per_clip" -> "count", "asr.base_s" -> "s",
    "asr.validator_s" -> "s",
    "pipeline.book_words_s" -> "s", "pipeline.asr_words_s" -> "s",
    "pipeline.align_s" -> "s", "pipeline.sessionize_s" -> "s",
    "pipeline.run_build_s" -> "s", "pipeline.equal_runs" -> "count",
    "pipeline.groups" -> "count", "pipeline.clips_kept" -> "count",
    "pipeline.clips_rejected" -> "count",
    "sinks.clips_s" -> "s", "sinks.full_corpus_s" -> "s",
    "sinks.metadata_s" -> "s", "sinks.word_coverage_s" -> "s",
    "sinks.jobs" -> "count", "sinks.files_written" -> "count",
    "sinks.bytes_written" -> "bytes", "sinks.clips_ending_on_onset" -> "count")

  def layers(h: Harness, passes: Int): Seq[Metric] = {
    val n = passes.toDouble
    val timed = h.tr.all.filter(_.pass >= 0)
    def secs(op: String) = timed.filter(_.name == op).map(_.seconds).sum / n
    val (_, sinkC) = h.tr.total(timed.filter(_.layer == "sinks"))
    val (base, validator) = counters.get
    val kept = passStats.map(_._1.exported).sum / n
    val rejected = passStats.map(_._1.rejected).sum / n
    Seq(
      Metric("asr.base_calls", base.calls.value / n, "count"),
      Metric("asr.validator_calls", validator.calls.value / n, "count"),
      Metric("asr.validator_calls_per_clip",
        validator.calls.value / n / math.max(1.0, kept + rejected), "count"),
      Metric("asr.base_s", base.nanos.value / 1e9 / n, "s"),
      Metric("asr.validator_s", validator.nanos.value / 1e9 / n, "s"),
      Metric("pipeline.book_words_s", stageS("book_words"), "s"),
      Metric("pipeline.asr_words_s", stageS("asr_words"), "s"),
      Metric("pipeline.align_s", stageS("align"), "s"),
      Metric("pipeline.sessionize_s", stageS("sessionize"), "s"),
      Metric("pipeline.run_build_s", secs("AsrPipeline.run"), "s"),
      Metric("pipeline.equal_runs", passStats.map(_._1.equalRuns).sum / n,
        "count"),
      Metric("pipeline.groups", passStats.map(_._1.groups).sum / n, "count"),
      Metric("pipeline.clips_kept", kept, "count"),
      Metric("pipeline.clips_rejected", rejected, "count"),
      Metric("sinks.clips_s", secs("Sinks.writeClips"), "s"),
      Metric("sinks.full_corpus_s", secs("Sinks.writeFullCorpus"), "s"),
      Metric("sinks.metadata_s", secs("Sinks.writeMetadata"), "s"),
      Metric("sinks.word_coverage_s", secs("Sinks.writeWordCoverage"), "s"),
      Metric("sinks.jobs", sinkC.jobs / n, "count"),
      Metric("sinks.files_written", passStats.map(_._2).sum / n, "count"),
      Metric("sinks.bytes_written", passStats.map(_._3).sum / n, "bytes"),
      Metric("sinks.clips_ending_on_onset", tailOnsets / n, "count"))
  }
}
