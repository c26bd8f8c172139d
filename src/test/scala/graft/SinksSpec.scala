package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{ListenerDrain, TaskContext, TaskKillInjector,
  TaskKilledException}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.asr.{AmplitudeRecognizer, RecWord, WordRecognizer}
import graft.audio.Pcm
import graft.AsrPipeline._

/** Sleeps before each call, so a task running inference is still
  * running when a kill reaches it.
  */
final case class SlowRecognizer(inner: WordRecognizer, ms: Long)
    extends WordRecognizer {
  def transcribe(key: String, audio: Pcm): Seq[RecWord] = {
    Thread.sleep(ms)
    inner.transcribe(key, audio)
  }
}

/** The sinks' files against Spark's own writers, their job counts, and
  * their output under task kills.
  */
class SinksSpec extends AnyFunSuite {
  private lazy val spark = SparkHarness.spark
  private val Sr = 8000

  // ---- output trees -----------------------------------------------------

  private val partUuid =
    "part-(\\d{5})-[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
      .r

  /** Every file under `root`: its relative path, with part-file UUIDs
    * masked, and its bytes.
    */
  private def tree(root: String): Map[String, Seq[Byte]] = {
    val base = Paths.get(root)
    val walk = Files.walk(base)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      partUuid.replaceAllIn(base.relativize(p).toString, "part-$1-*") ->
        Files.readAllBytes(p).toSeq
    }.toMap
    finally walk.close()
  }

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft_sinks_$name").toString

  private def text(tree: Map[String, Seq[Byte]], suffix: String): String =
    tree.collect { case (k, v) if k.endsWith(suffix) && !k.endsWith(".crc") =>
      new String(v.toArray, "UTF-8")
    }.mkString

  // ---- today's writers, the reference ------------------------------------

  /** K2 + K4 through Spark's CSV and JSON writers with the options
    * `writeMetadata` reproduces. `coalesce(1)` keeps the partition
    * order that `writeMetadata` writes in; a `repartition(1)` would
    * interleave partitions in shuffle-fetch order.
    */
  private def metadataReference(r: Result, out: String): Unit = {
    r.segments.select(
        concat(lit("clips/"), col("segment"), lit(".wav")).as("path"),
        format_string("%.3f", lit(0.0)).as("start"),
        format_string("%.3f", col("duration_s")).as("end"),
        format_string("%.3f", col("duration_s")).as("duration_s"),
        col("words"), col("pieces"),
        format_string("%.3f", col("avg_conf")).as("avg_conf"),
        col("acoustic_quality"), col("doc_id"), col("group_id"))
      .coalesce(1).write.mode("overwrite")
      .option("sep", "\t").option("header", true)
      .csv(s"$out/clips_tsv")
    r.rejections.toDF()
      .coalesce(1).write.mode("overwrite").json(s"$out/rejections_json")
    r.summary
      .coalesce(1).write.mode("overwrite").json(s"$out/summary_json")
  }

  private def coverageReference(segments: Dataset[SegmentRow],
      out: String): Unit =
    segments.toDF()
      .select(explode(split(lower(col("text")), "\\s+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("count"))
      .coalesce(1).sortWithinPartitions(col("count"), col("word"))
      .write.mode("overwrite")
      .option("header", true).csv(s"$out/word_coverage")

  // ---- hand-built outcome tables ------------------------------------------

  private def clip(doc: Long, group: Long, segment: String, kept: Boolean,
      reason: String = "", text: String = "", durationS: Double = 2.5,
      conf: Double = 0.9, quality: String = "clean") =
    ClipOutcome(doc, group, kept, reason, text,
      if (kept) Pcm.silence(5, Sr).bytes else Array.emptyByteArray, Sr,
      if (kept) durationS else 0.0, 4, 1, conf,
      if (kept) quality else "", 1234L, segment)

  private def doc(id: Long, outcomes: ClipOutcome*) = DocOutcomes(id,
    outcomes.size + 1L, outcomes.size.toLong, outcomes.count(_.kept).toLong,
    outcomes.count(!_.kept).toLong, outcomes)

  /** `docs` in 3 partitions, cached as `run` caches its table. */
  private def resultOf(docs: Seq[DocOutcomes]): Result = {
    val s = spark
    import s.implicits._
    AsrPipeline.project(Materialize.share(
      spark.createDataset(spark.sparkContext.parallelize(docs, 3))))
  }

  /** Kept and rejected clips, a doc with no outcomes, a doc with only
    * rejections, and strings that need CSV quoting or JSON escaping.
    */
  private val mixed = Seq(
    doc(1L, clip(1L, 0L, "segment_0000", kept = true, durationS = 4.9765),
      clip(1L, 1L, "segment_0001", kept = false, reason = "too_short"),
      clip(1L, 2L, "segment_0001", kept = true, conf = 0.12345)),
    doc(2L),
    doc(3L, clip(3L, 0L, "segment_0000", kept = false,
      reason = "say \"no\" \\ then\tstop")),
    doc(4L, clip(4L, 0L, "segment_0000", kept = true, quality = "lea\tk,\"y\"")),
    doc(5L, clip(5L, 0L, "seg \"0\"", kept = true)),
    doc(6L, clip(6L, 3L, "segment_0000", kept = false,
      reason = "acoustic_leakage")))

  test("writeMetadata writes the bytes of Spark's CSV and JSON writers: " +
    "quoting, escaping, a doc with no outcomes, 3 partitions") {
    val r = resultOf(mixed)
    val (got, want) = (tmp("meta"), tmp("meta_ref"))
    Sinks.writeMetadata(r, got)
    metadataReference(r, want)
    val g = tree(got)
    assert(g == tree(want))
    assert(g.keySet == Set("clips_tsv", "rejections_json", "summary_json")
      .flatMap(d => Seq(s"$d/_SUCCESS", s"$d/._SUCCESS.crc")) ++ Seq(
        "clips_tsv/part-00000-*-c000.csv",
        "clips_tsv/.part-00000-*-c000.csv.crc",
        "rejections_json/part-00000-*-c000.json",
        "rejections_json/.part-00000-*-c000.json.crc",
        "summary_json/part-00000-*-c000.json",
        "summary_json/.part-00000-*-c000.json.crc"), g.keySet)
    assert(text(g, ".csv").linesIterator.size == 5)
    assert(text(g, "summary_json/part-00000-*-c000.json")
      .linesIterator.size == 5)
  }

  test("writeMetadata with zero rejections leaves an empty JSON part " +
    "file, and with zero kept clips a header-only clips.tsv, as Spark's " +
    "writers do") {
    val keptOnly = mixed.map(d => d.copy(outcomes = d.outcomes.filter(_.kept),
      rejected = 0L))
    val rejectedOnly = mixed.map(d =>
      d.copy(outcomes = d.outcomes.filterNot(_.kept), exported = 0L))
    for ((name, docs) <- Seq("kept" -> keptOnly, "rejected" -> rejectedOnly)) {
      val r = resultOf(docs)
      val (got, want) = (tmp(s"meta_$name"), tmp(s"meta_${name}_ref"))
      Sinks.writeMetadata(r, got)
      metadataReference(r, want)
      assert(tree(got) == tree(want), name)
    }
    val g = tree {
      val out = tmp("meta_empty")
      Sinks.writeMetadata(resultOf(keptOnly), out)
      out
    }
    assert(text(g, "rejections_json/part-00000-*-c000.json").isEmpty)
    val h = tree {
      val out = tmp("meta_header")
      Sinks.writeMetadata(resultOf(rejectedOnly), out)
      out
    }
    assert(text(h, ".csv").linesIterator.toSeq == Seq(Seq("path", "start",
      "end", "duration_s", "words", "pieces", "avg_conf", "acoustic_quality",
      "doc_id", "group_id").mkString("\t")))
  }

  private def segmentsOf(texts: Seq[String]): Dataset[SegmentRow] = {
    val s = spark
    import s.implicits._
    val rows = texts.zipWithIndex.map { case (t, i) =>
      SegmentRow(i.toLong, 0L, "segment_0000", t, Array.emptyByteArray, Sr,
        1.0, 1, 1, 0.9, "clean")
    }
    spark.createDataset(spark.sparkContext.parallelize(rows, 3))
  }

  private val wordTexts = Seq("the cat, said \"hi\"", "The  CAT sat",
    "a,b a,b \"quoted\" back\\slash", "zebra the", "Ünïcode ünïcode x",
    "😀 emoji", "the end")

  test("writeWordCoverage writes the bytes of Spark's CSV writer, on the " +
    "driver and through its fallback, and with no clip at all") {
    for (texts <- Seq(wordTexts, Nil)) {
      val segs = segmentsOf(texts)
      val want = tmp("cov_ref")
      coverageReference(segs, want)
      val ref = tree(want)
      Seq(Sinks.writeWordCoverage(segs, _: String),
          Sinks.writeWordCoverage(segs, _: String, 1L)).foreach { write =>
        val got = tmp("cov")
        write(got)
        assert(tree(got) == ref, texts)
      }
      if (texts.nonEmpty) {
        val lines = text(ref, ".csv").linesIterator.toSeq
        assert(lines.contains("\"a,b\",2") &&
          lines.contains("\"\\\"quoted\\\"\",1"), lines)
      }
    }
  }

  // ---- job law ------------------------------------------------------------

  /** Jobs `body` runs, each with its shuffle bytes read + written. */
  private def jobsOf(body: => Any): Seq[Long] = {
    val sc = spark.sparkContext
    val jobs = mutable.ArrayBuffer.empty[Seq[Int]]
    val shuffle = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs += e.stageIds
      override def onStageCompleted(e: SparkListenerStageCompleted)
          : Unit = {
        val m = e.stageInfo.taskMetrics
        shuffle(e.stageInfo.stageId) +=
          m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
      }
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerDrain(sc) } finally sc.removeSparkListener(listener)
    jobs.toSeq.map(_.map(shuffle).sum)
  }

  test("on a warm cache, writeMetadata and writeWordCoverage each run " +
    "one job that shuffles nothing") {
    val r = resultOf(mixed)
    r.perDoc.count()
    assert(jobsOf(Sinks.writeMetadata(r, tmp("law_meta"))) == Seq(0L))
    assert(jobsOf(Sinks.writeWordCoverage(r.segments, tmp("law_cov"))) ==
      Seq(0L))
  }

  // ---- chaos ----------------------------------------------------------------

  test("a task attempt killed after it wrote part of its partition " +
    "leaves no trace in writeMetadata's or writeClips' output") {
    val s = spark
    import s.implicits._
    // the first attempt of each task is killed at its partition's
    // second doc, after the first doc's lines and files are written
    val killing = AsrPipeline.project(
      spark.createDataset(spark.sparkContext.parallelize(mixed, 3))
        .mapPartitions { it =>
          val first = TaskContext.get().attemptNumber() == 0
          it.zipWithIndex.map { case (d, i) =>
            if (first && i == 1) throw new TaskKilledException("after one doc")
            d
          }
        })
    val (got, want) = (tmp("retry"), tmp("retry_ref"))
    val (_, kills) = TaskKillInjector.during(spark.sparkContext,
        every = Int.MaxValue) {
      Sinks.writeMetadata(killing, got)
      Sinks.writeClips(killing.segments, got)
    }
    assert(kills == 6)
    val plain = resultOf(mixed)
    Sinks.writeMetadata(plain, want)
    Sinks.writeClips(plain.segments, want)
    assert(tree(got) == tree(want))
  }

  /** Four docs of 30 words at 0.5 s spacing; doc d misses word 3d in its
    * transcript and has word 20 replaced, so each splits into groups.
    */
  private lazy val docs: Dataset[DocInput] = {
    val s = spark
    import s.implicits._
    val timeline = (0 until 30).map(i => (s"word$i", i * 0.5, i * 0.5 + 0.4))
    val audio = AmplitudeRecognizer.synthesize(timeline, Sr).bytes
    val inputs = (1 to 4).map { d =>
      val ws = (0 until 30).filter(_ != 3 * d)
        .map(i => if (i == 20) "zzz" else s"word$i")
      DocInput(d.toLong, ws.mkString(" "), audio, Sr)
    }
    spark.createDataset(spark.sparkContext.parallelize(inputs, 4))
  }

  /** Each sink on its own fresh pipeline run into `out`, so every sink's
    * first stage runs inference and its tasks are slow enough to kill.
    */
  private def allSinks(out: String): Unit = {
    val rec = SlowRecognizer(AmplitudeRecognizer(), 40L)
    def fresh = AsrPipeline.run(docs, rec, rec, Config())
    Sinks.writeClips(fresh.segments, out)
    Sinks.writeFullCorpus(fresh.segments, out, 500)
    Sinks.writeMetadata(fresh, out)
    Sinks.writeWordCoverage(fresh.segments, out)
  }

  test("chaos: the four sinks under task kills write the tree an " +
    "undisturbed run writes") {
    val plain = tmp("plain")
    allSinks(plain)
    val want = tree(plain)
    assert(want.keys.count(_.endsWith(".wav")) > 4, want.keySet)
    val chaos = tmp("chaos")
    val (_, kills) = TaskKillInjector.during(spark.sparkContext)(
      allSinks(chaos))
    assert(kills > 0, "no task attempt was killed")
    assert(tree(chaos) == want, s"under $kills kills")
  }
}
