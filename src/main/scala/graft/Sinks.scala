package graft

import java.io.{OutputStream, OutputStreamWriter}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.io.IOUtils
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.audio.Pcm
import graft.AsrPipeline.{Result, SegmentRow}

/** K1–K5 output sinks (SURVEY.md §2.1). Every sink reads the frames
  * of one `AsrPipeline.run`, which are projections of its one cached
  * per-document outcome table: the pipeline runs with no shuffle, its
  * audio never moves and `docs` is read once, however many sinks
  * follow.
  *
  *  - Per-clip files (K1) and the per-doc corpus (K3) are written from
  *    the tasks, never collected. Each file is written under a
  *    task-attempt temp name in its directory and moved into place
  *    atomically, so a killed or retried task never leaves a partial
  *    file. The corpus fold is the one sink whose shuffle carries clip
  *    audio.
  *  - The single-file outputs (K2, K4, K5) keep Spark's writer layout:
  *    one `part-00000-<uuid>-c000` file and `_SUCCESS` per directory,
  *    written through the Hadoop `FileSystem` API. K2 and K4 are one
  *    job over the outcome table: each task stages its lines under the
  *    target directory, and the driver streams the committed attempts'
  *    files into the part file in partition order. K5 is one map-side
  *    count job whose result the driver sorts and writes.
  */
object Sinks {

  /** 16-bit mono RIFF/WAV container around raw PCM. */
  def wavBytes(p: Pcm): Array[Byte] = {
    val dataLen = p.bytes.length
    val buf = ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(p.sampleRate).putInt(p.sampleRate * 2)
      .putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
      .put(p.bytes)
    buf.array()
  }

  /** P9 — timestamped batch output directory, `base/batch_<ts>`
    * (gui.py:12–17 create_output_dir). The instant is a parameter so
    * runs are reproducible/testable; callers pass
    * `java.time.Instant.now()` (with the system zone) at the edge.
    */
  def timestampedDir(base: String, at: java.time.ZonedDateTime): String = {
    val ts = at.format(
      java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd_HHmmss"))
    val dir = Paths.get(base, s"batch_$ts")
    Files.createDirectories(dir)
    dir.toString
  }

  /** Writes `bytes` to `target` from inside a task: first under a
    * task-attempt temp name in the same directory, then moved into
    * place atomically. A retried attempt replaces the file whole.
    */
  private def writeAtomically(target: java.nio.file.Path,
      bytes: Array[Byte]): Unit = {
    val tmp = target.resolveSibling(
      s".${target.getFileName}.${TaskContext.get().taskAttemptId()}.tmp")
    try {
      Files.write(tmp, bytes)
      Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }

  /** K1 — per-clip wav + txt under `outDir/doc_<id>/clips/`. */
  def writeClips(segments: Dataset[SegmentRow], outDir: String): Unit =
    segments.foreachPartition { (it: Iterator[SegmentRow]) =>
      it.foreach { s =>
        val dir = Paths.get(outDir, s"doc_${s.doc_id}", "clips")
        Files.createDirectories(dir)
        writeAtomically(dir.resolve(s"${s.segment}.wav"),
          wavBytes(Pcm(s.pcm, s.sample_rate)))
        writeAtomically(dir.resolve(s"${s.segment}.txt"),
          s.text.getBytes(UTF_8))
      }
    }

  /** K3 — per-doc concatenated corpus: kept clips in segment order
    * with `fullGapMs` silence after each, plus newline-joined texts.
    * Segment order is group order (W6 numbers kept clips by group);
    * sorting by the `segment` string would put `segment_10000` before
    * `segment_1001`.
    */
  def writeFullCorpus(segments: Dataset[SegmentRow], outDir: String,
      fullGapMs: Int): Unit = {
    val spark = segments.sparkSession
    import spark.implicits._
    segments.groupByKey(_.doc_id).mapGroups { (docId, it) =>
      val segs = it.toArray.sortBy(_.group_id)
      val sr = segs.head.sample_rate
      val parts = segs.flatMap(s =>
        Seq(Pcm(s.pcm, sr), Pcm.silence(fullGapMs, sr))).toSeq
      (docId, wavBytes(Pcm.concat(parts, sr)),
        segs.map(_.text).mkString("\n"))
    }.foreachPartition {
      (it: Iterator[(Long, Array[Byte], String)]) =>
        it.foreach { case (docId, wav, txt) =>
          val dir = Paths.get(outDir, s"doc_$docId")
          Files.createDirectories(dir)
          writeAtomically(dir.resolve("full.wav"), wav)
          writeAtomically(dir.resolve("full.txt"), txt.getBytes(UTF_8))
        }
    }
  }

  /** Spark's single-file writer layout in `dir`, whose earlier output
    * the caller has deleted: one `part-00000-<uuid>-c000<suffix>` file
    * that `write` fills, then `_SUCCESS`.
    */
  private def writeSingleFile(fs: FileSystem, dir: Path, suffix: String)(
      write: OutputStream => Unit): Unit = {
    val out = fs.create(
      new Path(dir, s"part-00000-${UUID.randomUUID()}-c000$suffix"), false)
    try write(out) finally out.close()
    fs.create(new Path(dir, "_SUCCESS"), false).close()
  }

  /** One single-file output of [[writeLines]]: its directory under
    * `outDir`, its part-file suffix and its first line, if any.
    */
  private final case class LineFile(dir: String, suffix: String,
      header: Option[String])

  /** Writes `files(i)` from field i (an `array<string>` of lines) of
    * every row of `lines`, in ONE job with no exchange. Each task
    * stages its non-empty line sets under `<dir>/_temporary/`, one file
    * per task attempt, and returns their paths; the driver streams the
    * committed attempts' files into each part file in partition order,
    * so a killed or retried attempt's file is never read, and rows are
    * never collected. Like Spark's writer in overwrite mode, it first
    * deletes each target directory.
    */
  private def writeLines(lines: DataFrame, outDir: String,
      files: Seq[LineFile]): Unit = {
    val spark = lines.sparkSession
    val hadoopConf = spark.sessionState.newHadoopConf()
    val dirs = files.map(f => new Path(outDir, f.dir))
    val staging = dirs.map(d => new Path(d, "_temporary"))
    val fs = dirs.head.getFileSystem(hadoopConf)
    dirs.foreach(fs.delete(_, true))
    val conf = new SerializableConfiguration(hadoopConf)
    try {
      val staged = spark.sparkContext.runJob(lines.queryExecution.toRdd,
        (ctx: TaskContext, rows: Iterator[InternalRow]) => {
          val paths = staging.map(d => new Path(d,
            s"part-${ctx.partitionId()}-${ctx.taskAttemptId()}"))
          val taskFs = paths.head.getFileSystem(conf.value)
          val outs = new Array[OutputStream](paths.size)
          try rows.foreach { row =>
            for (i <- paths.indices) {
              val ls = row.getArray(i)
              for (j <- 0 until ls.numElements()) {
                if (outs(i) == null) outs(i) = taskFs.create(paths(i), false)
                ls.getUTF8String(j).writeTo(outs(i))
                outs(i).write('\n')
              }
            }
          } finally outs.foreach(o => if (o != null) o.close())
          paths.zip(outs).map { case (p, o) => Option(o).map(_ => p) }
        })
      files.indices.foreach { i =>
        writeSingleFile(fs, dirs(i), files(i).suffix) { out =>
          files(i).header.foreach(h => out.write((h + "\n").getBytes(UTF_8)))
          staged.flatMap(_(i)).foreach { p =>
            val in = fs.open(p)
            try IOUtils.copyBytes(in, out, 1 << 16, false) finally in.close()
          }
        }
      }
    } finally staging.foreach(fs.delete(_, true))
  }

  /** clips.tsv's header (claude_research_optimal.py:477, 666). */
  private val ClipsTsvHeader = Seq("path", "start", "end", "duration_s",
    "words", "pieces", "avg_conf", "acoustic_quality", "doc_id", "group_id")

  /** clips.tsv's fields, in header order, read from kept outcome
    * struct `o`.
    */
  private def clipsTsvFields(o: Column): Seq[Column] = Seq(
    concat(lit("clips/"), o("segment"), lit(".wav")),
    format_string("%.3f", lit(0.0)),
    format_string("%.3f", o("duration_s")),
    format_string("%.3f", o("duration_s")),
    o("words"), o("pieces"),
    format_string("%.3f", o("avg_conf")),
    o("acoustic_quality"), o("doc_id"), o("group_id"))

  /** K2 + K4 — clips.tsv (claude_research_optimal.py:477, 666),
    * rejections.json and summary.json per run, one file each, with the
    * bytes Spark's CSV (tab-separated, with header) and JSON writers
    * give the same rows. ONE job scans the per-document outcome table
    * once: each row is projected into its clips.tsv lines (`to_csv`),
    * its rejection lines and its summary line (`to_json`), and
    * [[writeLines]] stages and joins them. When this is the first sink
    * a caller runs, that job fills the pipeline cache in one task per
    * input partition.
    */
  def writeMetadata(result: Result, outDir: String): Unit = {
    val outcomes = col("outcomes")
    val lines = result.perDoc.select(
      transform(filter(outcomes, _("kept")), o =>
        to_csv(struct(clipsTsvFields(o): _*), Map("sep" -> "\t").asJava)),
      transform(filter(outcomes, o => !o("kept")), o =>
        to_json(struct(AsrPipeline.rejectionColumns(o): _*))),
      when(AsrPipeline.hasOutcomes,
        array(to_json(struct(AsrPipeline.summaryColumns: _*))))
        .otherwise(array().cast("array<string>")))
    writeLines(lines, outDir, Seq(
      LineFile("clips_tsv", ".csv", Some(ClipsTsvHeader.mkString("\t"))),
      LineFile("rejections_json", ".json", None),
      LineFile("summary_json", ".json", None)))
  }

  /** K7 — optional debug dumps (claude_research_optimal.py:448–454):
    * per-doc space-joined raw/norm ASR words and per-word confidence
    * JSON, written only when requested (the reference's --dump_asr).
    */
  def writeDebugDumps(asr: Dataset[graft.core.AsrWord],
      outDir: String): Unit = {
    val spark = asr.sparkSession
    import spark.implicits._
    asr.toDF()
      .groupBy($"doc_id")
      .agg(
        concat_ws(" ", sort_array(collect_list(struct($"idx", $"text")))
          .getField("text")).as("asr_full_raw"),
        concat_ws(" ", sort_array(collect_list(struct($"idx", $"norm")))
          .getField("norm")).as("asr_full_norm"))
      .coalesce(1).write.mode("overwrite").json(s"$outDir/asr_dumps")
    asr.toDF().select($"doc_id", $"text".as("word"), $"confidence")
      .coalesce(1).write.mode("overwrite").json(s"$outDir/asr_confidence")
  }

  /** Word counts the tasks may send the driver (a word counts once per
    * partition that sees it, so each partition may send this over the
    * partition count) before [[writeWordCoverage]] counts through a
    * shuffle instead. Measured on 2M Zipf-distributed tokens in
    * `local[4]`: the driver path was ~19% slower than the shuffle at
    * 261k distinct words over 64 partitions (852k counts sent) and ~19%
    * faster at 50k over 200 (788k sent). This bound sends both to the
    * shuffle, where giving up first costs 2–6%. On the four shapes it
    * keeps on the driver (2k–84k distinct words over 4–200 partitions)
    * the driver path was 10–42% faster.
    */
  private val WordCoverageMaxKeys = 500000L

  /** (count asc, word asc), words in UTF-8 byte order as Spark sorts
    * strings.
    */
  private val CountThenWord: Ordering[(UTF8String, Long)] = (a, b) => {
    val c = java.lang.Long.compare(a._2, b._2)
    if (c != 0) c else a._1.binaryCompare(b._1)
  }

  /** K5 — word-coverage CSV (batch_processor.py:39–45): whitespace
    * tokens of exported segment texts, (count asc, word asc), with the
    * bytes Spark's CSV writer (with header) gives. ONE map-side count
    * job ([[MapSide.combineAtMost]]); the driver sorts the counts and
    * writes the file through the generator Spark's CSV writer uses, so
    * quoting matches. A partition that sees more than its share of
    * `WordCoverageMaxKeys` distinct words stops counting there, and
    * the sink then counts with a `groupBy` and writes through Spark's
    * writer instead.
    */
  def writeWordCoverage(segments: Dataset[SegmentRow], outDir: String): Unit =
    writeWordCoverage(segments, outDir, WordCoverageMaxKeys)

  private[graft] def writeWordCoverage(segments: Dataset[SegmentRow],
      outDir: String, maxKeys: Long): Unit = {
    val spark = segments.sparkSession
    import spark.implicits._
    val words = segments.toDF()
      .select(explode(split(lower($"text"), "\\s+")).as("word"))
      .filter($"word" =!= "")
    MapSide.combineAtMost(words.queryExecution.toRdd, maxKeys,
        (a: Long, b: Long) => a + b) { r =>
      Iterator.single(r.getUTF8String(0).clone() -> 1L)
    } match {
      case Some(counts) =>
        val sorted = counts.toArray.sortInPlace()(CountThenWord)
        val dir = new Path(outDir, "word_coverage")
        val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
        fs.delete(dir, true)
        writeSingleFile(fs, dir, ".csv") { out =>
          val gen = new UnivocityGenerator(
            new StructType().add("word", StringType).add("count", LongType),
            new OutputStreamWriter(out, UTF_8),
            new CSVOptions(Map("header" -> "true"), true,
              spark.sessionState.conf.sessionLocalTimeZone))
          gen.writeHeaders()
          sorted.foreach { case (w, c) => gen.write(InternalRow(w, c)) }
          gen.flush()
        }
      case None =>
        words.groupBy($"word").agg(count(lit(1)).as("count"))
          .coalesce(1).sortWithinPartitions($"count", $"word")
          .write.mode("overwrite")
          .option("header", true).csv(s"$outDir/word_coverage")
    }
  }

  /** X122 — the PHYSICAL release writer behind X105's manifest: docs
    * land under `dir/data/` PARTITIONED BY (source, shard) with the
    * same token-budget shard rule as [[graft.operators.CorpusOps
    * .exportManifest]], sorted by id within each shard file, and the
    * manifest itself lands at `dir/manifest/` — so a consumer gets
    * the Dolma-style layout (one directory per shard, reproducible
    * bytes, a checksum table any engine re-derives in one query) and
    * a trainer's per-shard readers stream disjoint directories.
    *
    * Scale shape: shard assignment is the per-source running-sum
    * window (skinny — id + count only), the write is one
    * `repartition(source, shard)` exchange (each shard lands as one
    * task's sorted file), and the manifest agg is the X105 query.
    * Returns the manifest DataFrame (also persisted) for chaining.
    */
  def writeShardedCorpus(docs: org.apache.spark.sql.DataFrame,
      partitionCol: String, idCol: String, textCol: String,
      shardBudget: Long, dir: String): org.apache.spark.sql.DataFrame = {
    import graft.operators.{CorpusOps, Dedup}
    val counted = docs.select(col(partitionCol), col(idCol), col(textCol),
      size(coalesce(Dedup.tokens(col(textCol)),
        array().cast("array<string>"))).cast("long").as("n_tokens"))
    CorpusOps.tokenShards(counted, partitionCol, idCol, "n_tokens",
        shardBudget)
      .select(col(partitionCol), col("shard_id"), col(idCol),
        col(textCol), col("n_tokens"))
      .repartition(col(partitionCol), col("shard_id"))
      .sortWithinPartitions(col(idCol))
      .write.mode("overwrite").partitionBy(partitionCol, "shard_id")
      .parquet(s"$dir/data")
    val manifest = CorpusOps.exportManifest(docs, partitionCol, idCol,
      textCol, shardBudget)
    manifest.coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/manifest")
    manifest
  }
}
