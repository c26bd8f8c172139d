package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.util.LongAccumulator
import org.scalatest.funsuite.AnyFunSuite

import graft.asr.{AmplitudeRecognizer, RecWord, WordRecognizer}
import graft.audio.Pcm
import graft.AsrPipeline._

/** Counts calls to the wrapped recognizer across executors. */
final case class CountingRecognizer(inner: WordRecognizer,
    calls: LongAccumulator) extends WordRecognizer {
  def transcribe(key: String, audio: Pcm): Seq[RecWord] = {
    calls.add(1L)
    inner.transcribe(key, audio)
  }
}

/** End-to-end pipeline test (SURVEY.md §5.2 item 4): synthetic docs
  * whose audio encodes the word sequence (AmplitudeRecognizer), a
  * transcript with scripted perturbations, and structural + numeric
  * assertions over segments, rejections, and summary — mirroring the
  * reference's example-driven validation (README.md:73–91).
  */
class AsrPipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkHarness.spark

  private val Sr = 16000
  private val rec = AmplitudeRecognizer()

  /** 30 words at 0.5 s spacing, each 0.4 s long. */
  private def timeline: Seq[(String, Double, Double)] =
    (0 until 30).map(i => (s"word$i", i * 0.5, i * 0.5 + 0.4))

  /** Transcript: word10 substituted, word20 deleted → three LCS runs
    * [0,10), [11,20), [21,30) split by 0.6 s time gaps into three
    * groups.
    */
  private def transcript: String = {
    val ws = (0 until 30).map(i =>
      if (i == 10) "zzz" else s"word$i").filterNot(_ == "word20")
    ws.mkString(" ")
  }

  /** Two LCS runs (word5 substituted in the transcript) separated by a
    * 0.6s time gap → two groups; the second run's words are squeezed
    * into a 0.86s span → too_short under min_dur 1.5.
    */
  private def shortTimeline: Seq[(String, Double, Double)] =
    (0 until 6).map(i => (s"word$i", i * 0.5, i * 0.5 + 0.4)) ++
      (6 until 10).map(i =>
        (s"word$i", 3.0 + (i - 6) * 0.22, 3.0 + (i - 6) * 0.22 + 0.2))

  private def shortTranscript: String =
    (0 until 10).map(i => if (i == 5) "zzz" else s"word$i").mkString(" ")

  private lazy val result: Result = {
    val s = spark
    import s.implicits._
    val audio = AmplitudeRecognizer.synthesize(timeline, Sr)
    val docs = Seq(DocInput(1L, transcript, audio.bytes, Sr)).toDS()
    AsrPipeline.run(docs, rec, rec, Config())
  }

  private lazy val segments = result.segments.collect().sortBy(_.segment)

  test("three perturbation-split groups all export") {
    assert(segments.length == 3)
    assert(segments.map(_.segment).toSeq ==
      Seq("segment_0000", "segment_0001", "segment_0002"))
    assert(result.rejections.count() == 0)
  }

  test("segment texts are the unperturbed word runs, in order") {
    val texts = segments.map(_.text).toSeq
    assert(texts(0) == (0 until 10).map(i => s"word$i").mkString(" "))
    assert(texts(1) == (11 until 20).map(i => s"word$i").mkString(" "))
    assert(texts(2) == (21 until 30).map(i => s"word$i").mkString(" "))
  }

  test("segments respect min duration and carry base-ASR confidence") {
    segments.foreach { s =>
      assert(s.duration_s >= 1.5, s"${s.segment} too short")
      assert(math.abs(s.avg_conf - 0.9) < 1e-9) // J3 maps to base conf
      assert(s.words > 0 && s.pieces == 1)
      assert(Seq("clean", "fixed").contains(s.acoustic_quality))
    }
  }

  test("adaptive next-word guard clamps the leaked-onset boundary") {
    // group 1: words 0..9; base clip = [0, w9.end+140ms] — the 140ms
    // end pad leaks the ONSET of word10 (starts exactly at 5.0s)
    // into the clip. The validator therefore decodes 11 words; the
    // kept span is [0,10) with a next word at 5.0s, so the end
    // boundary clamps to next_start − int(35·0.7) = 5000−24 = 4976ms
    // (validator confidence is 1.0 → the >0.75 guard branch —
    // reference quirk, claude_research_optimal.py:543–551). Start
    // pad clamps at 0. This is the phantom-word scenario the guard
    // machinery exists for.
    val s0 = segments(0)
    assert(math.abs(s0.duration_s - 4.976) < 0.003,
      s"unexpected duration ${s0.duration_s}")
  }

  test("summary counts are consistent") {
    val row = result.summary.collect()(0)
    assert(row.getAs[Long]("exported") == 3L)
    assert(row.getAs[Long]("rejected") == 0L)
    assert(row.getAs[Long]("equal_runs") == 3L)
    assert(row.getAs[Long]("bridged_groups") == 3L)
    assert(row.getAs[Double]("rejection_rate_pct") == 0.0)
  }

  test("short group is rejected as too_short with next-kept id quirk") {
    val s = spark
    import s.implicits._
    val audio = AmplitudeRecognizer.synthesize(shortTimeline, Sr)
    val docs = Seq(DocInput(7L, shortTranscript, audio.bytes, Sr)).toDS()
    val r = AsrPipeline.run(docs, rec, rec, Config())
    val segs = r.segments.collect()
    val rejs = r.rejections.collect()
    assert(segs.length == 1 && rejs.length == 1)
    assert(rejs(0).reason == "too_short")
    // quirk: rejected group logs the id the NEXT kept segment would
    // get; group order decides which
    if (rejs(0).group_id < segs(0).group_id)
      assert(rejs(0).segment == "segment_0000" &&
        segs(0).segment == "segment_0000")
    else assert(rejs(0).segment == "segment_0001")
  }

  test("timestamped batch dir matches the reference pattern (P9)") {
    val base = java.nio.file.Files.createTempDirectory("graft_p9").toString
    val at = java.time.ZonedDateTime.of(2024, 3, 7, 14, 5, 9, 0,
      java.time.ZoneOffset.UTC)
    val dir = Sinks.timestampedDir(base, at)
    assert(dir.endsWith("batch_20240307_140509"))
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir)))
  }

  test("sinks write wav/txt/tsv/corpus files") {
    val out = java.nio.file.Files.createTempDirectory("graft_e2e").toString
    Sinks.writeClips(result.segments, out)
    Sinks.writeFullCorpus(result.segments, out, 500)
    Sinks.writeMetadata(result, out)
    Sinks.writeWordCoverage(result.segments, out)
    val base = java.nio.file.Paths.get(out, "doc_1")
    assert(java.nio.file.Files.exists(base.resolve("clips/segment_0000.wav")))
    assert(java.nio.file.Files.exists(base.resolve("clips/segment_0002.txt")))
    val wav = java.nio.file.Files.readAllBytes(base.resolve("full.wav"))
    assert(new String(wav.slice(0, 4), "US-ASCII") == "RIFF")
    // corpus = 3 clips + 3 gaps; duration > sum of clip durations
    val pcmLen = wav.length - 44
    val expectMin = segments.map(_.duration_s).sum + 3 * 0.5
    assert(pcmLen / 2.0 / Sr >= expectMin - 0.05)
    assert(java.nio.file.Files.list(
      java.nio.file.Paths.get(out, "clips_tsv")).count() > 0)
  }

  /** Two docs: the three-group timeline above, and the two-group
    * too_short construction (one kept, one rejected) — exercises the
    * per-doc numbering reset and the next-kept-id quirk together.
    */
  private lazy val twoDocs: Dataset[DocInput] = {
    val s = spark
    import s.implicits._
    Seq(
      DocInput(1L, transcript,
        AmplitudeRecognizer.synthesize(timeline, Sr).bytes, Sr),
      DocInput(2L, shortTranscript,
        AmplitudeRecognizer.synthesize(shortTimeline, Sr).bytes, Sr)).toDS()
  }

  private lazy val twoDocResult: Result =
    AsrPipeline.run(twoDocs, rec, rec, Config())

  private def sha(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .take(8).map(x => f"$x%02x").mkString

  test("golden: two-doc segments, rejections and summary") {
    val segs = twoDocResult.segments.collect()
      .map(r => (r.doc_id, r.group_id, r.segment, r.text, r.duration_s,
        r.words, r.pieces, r.avg_conf, r.acoustic_quality, sha(r.pcm)))
      .sortBy(k => (k._1, k._2)).toSeq
    val rejs = twoDocResult.rejections.collect()
      .map(r => (r.doc_id, r.group_id, r.segment, r.reason, r.duration_ms,
        r.confidence))
      .sortBy(k => (k._1, k._2)).toSeq
    val summary = twoDocResult.summary.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("exported"),
        r.getAs[Long]("rejected"), r.getAs[Long]("equal_runs"),
        r.getAs[Long]("bridged_groups"),
        r.getAs[Double]("rejection_rate_pct"), r.getAs[String]("status")))
      .sortBy(_._1).toSeq
    def words(r: Range) = r.map(i => s"word$i").mkString(" ")
    assert(segs == Seq(
      (1L, 0L, "segment_0000", words(0 until 10), 4.976, 10, 1,
        0.9000000000000001, "clean", "f8c82492d8cad11d"),
      (1L, 1L, "segment_0001", words(11 until 20), 4.546, 9, 1,
        0.9000000000000001, "clean", "bd678dc2a1f423ce"),
      (1L, 2L, "segment_0002", words(21 until 30), 4.61, 9, 1,
        0.9000000000000001, "clean", "f438e44ba7077118"),
      (2L, 0L, "segment_0000", words(0 until 5), 2.476, 5, 1,
        0.9, "clean", "ef987170c2b47297")))
    // W6 quirk: the rejected group logs the id of the NEXT kept segment
    assert(rejs == Seq((2L, 1L, "segment_0001", "too_short", 1150L, 0.9)))
    assert(summary == Seq(
      (1L, 3L, 0L, 3L, 3L, 0.0, "success"),
      (2L, 1L, 1L, 2L, 2L, 50.0, "success")))
  }

  test("golden: clips.tsv written by writeMetadata (K2 shape)") {
    val out = java.nio.file.Files.createTempDirectory("graft_k2").toString
    Sinks.writeMetadata(twoDocResult, out)
    val csv = java.nio.file.Paths.get(out, "clips_tsv").toFile.listFiles
      .filter(_.getName.endsWith(".csv")).toSeq
    val lines = csv.flatMap(f =>
      java.nio.file.Files.readAllLines(f.toPath).asScala)
    assert(lines.head == Seq("path", "start", "end", "duration_s", "words",
      "pieces", "avg_conf", "acoustic_quality", "doc_id", "group_id")
      .mkString("\t"))
    assert(lines.tail.sorted == Seq(
      "clips/segment_0000.wav\t0.000\t2.476\t2.476\t5\t1\t0.900\tclean\t2\t0",
      "clips/segment_0000.wav\t0.000\t4.976\t4.976\t10\t1\t0.900\tclean\t1\t0",
      "clips/segment_0001.wav\t0.000\t4.546\t4.546\t9\t1\t0.900\tclean\t1\t1",
      "clips/segment_0002.wav\t0.000\t4.610\t4.610\t9\t1\t0.900\tclean\t1\t2"))
  }

  test("inference runs once per doc and once per clip across all sinks") {
    val sc = spark.sparkContext
    val base = CountingRecognizer(rec, sc.longAccumulator("base_calls"))
    val validator = CountingRecognizer(rec,
      sc.longAccumulator("validator_calls"))
    val r = AsrPipeline.run(twoDocs, base, validator, Config())
    val out = java.nio.file.Files.createTempDirectory("graft_once").toString
    Sinks.writeClips(r.segments, out)
    Sinks.writeFullCorpus(r.segments, out, 500)
    Sinks.writeMetadata(r, out)
    Sinks.writeWordCoverage(r.segments, out)
    val groups = r.summary.collect().map(_.getAs[Long]("bridged_groups")).sum
    assert(groups == 5L)
    assert(base.calls.value == 2L)
    assert(validator.calls.value == groups)
  }

  test("debug dumps (K7) hold each doc's ASR words in idx order") {
    val asr = AsrPipeline.asrWords(twoDocs, rec, numbersToWords = false)
    val out = java.nio.file.Files.createTempDirectory("graft_k7").toString
    Sinks.writeDebugDumps(asr, out)
    val dumps = spark.read.json(s"$out/asr_dumps").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("asr_full_raw"),
        r.getAs[String]("asr_full_norm")))
      .sortBy(_._1).toSeq
    def words(n: Int) = (0 until n).map(i => s"word$i").mkString(" ")
    assert(dumps == Seq((1L, words(30), words(30)),
      (2L, words(10), words(10))))
    val conf = spark.read.json(s"$out/asr_confidence").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("word"),
        r.getAs[Double]("confidence")))
    assert(conf.length == 40)
    assert(conf.groupBy(_._1).map { case (d, rs) => d -> rs.length } ==
      Map(1L -> 30, 2L -> 10))
    assert(conf.map(c => (c._1, c._2)).distinct.length == 40)
    assert(conf.forall(_._3 == 0.9))
  }

  /** Runs `body` under its own job group with `listener` attached and
    * drains the bus before returning, so the listener saw every event.
    */
  private def listening[T](listener: SparkListener, group: String)
      (body: => T): T = {
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try { val out = body; ListenerDrain(sc); out }
    finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }

  private object Aqe extends AdaptiveSparkPlanHelper

  test("run launches no job; its three frames read one cached table " +
    "with no exchange") {
    val group = "asr-run-build"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val r = listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }, group)(AsrPipeline.run(twoDocs, rec, rec, Config()))
    assert(jobs.get == 0)
    val plans = Seq(r.segments.toDF(), r.rejections.toDF(), r.summary)
      .map(_.queryExecution.executedPlan)
    val scans = plans.map(p =>
      Aqe.collect(p) { case s: InMemoryTableScanExec => s })
    assert(scans.map(_.size) == Seq(1, 1, 1))
    val cached = scans.map(_.head.relation.cacheBuilder)
    assert(cached.forall(_ eq cached.head))
    (plans :+ cached.head.cachedPlan).foreach { p =>
      assert(Aqe.collect(p) { case e: Exchange => e }.isEmpty, p.treeString)
    }
  }

  test("writeMetadata run first fills the pipeline cache in one task " +
    "per docs partition") {
    val parts = twoDocs.rdd.getNumPartitions
    assert(parts > 1)
    val group = "asr-metadata-first"
    val cacheStageTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val r = AsrPipeline.run(twoDocs, rec, rec, Config())
    val out = java.nio.file.Files.createTempDirectory("graft_cold").toString
    listening(new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group &&
            e.stageInfo.rddInfos.exists(_.storageLevel.isValid))
          cacheStageTasks.add(e.stageInfo.numTasks)
    }, group)(Sinks.writeMetadata(r, out))
    val tasks = cacheStageTasks.asScala.toSeq
    assert(tasks.nonEmpty && tasks.forall(_ == parts), tasks)
  }

  test("writeFullCorpus orders a doc's clips by group past segment_9999") {
    val s = spark
    import s.implicits._
    def clip(group: Long, text: String) = SegmentRow(9L, group,
      "segment_%04d".format(group), text, Pcm.silence(10, Sr).bytes, Sr,
      0.01, 1, 1, 0.9, "clean")
    val out = java.nio.file.Files.createTempDirectory("graft_k3").toString
    Sinks.writeFullCorpus(
      Seq(clip(10000L, "second"), clip(9999L, "first")).toDS(), out, 500)
    val txt = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "doc_9", "full.txt"))
    assert(new String(txt, "UTF-8") == "first\nsecond")
  }
}
