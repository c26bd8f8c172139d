package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

import graft.audio.Pcm
import graft.AsrPipeline.{Result, SegmentRow}

/** K1–K4 output sinks (SURVEY.md §2.1). Per-clip binaries are written
  * from executors (`foreachPartition`) — no driver collect; the
  * concatenated corpus is an ordered per-doc fold, the one genuinely
  * ordered aggregation (A7), done per-doc inside mapGroups so each
  * task folds only its documents' clips.
  *
  * Every sink reads the frames of one `AsrPipeline.run`, which are
  * projections of its one cached outcome table: the pipeline runs with
  * no shuffle, its audio never moves and `docs` is read once, however
  * many sinks follow. The corpus fold is the one sink whose shuffle
  * carries clip audio; the single-file writes shuffle only their small
  * metadata rows into one task.
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

  /** K1 — per-clip wav + txt under `outDir/doc_<id>/clips/`. */
  def writeClips(segments: Dataset[SegmentRow], outDir: String): Unit =
    segments.foreachPartition { (it: Iterator[SegmentRow]) =>
      it.foreach { s =>
        val dir = Paths.get(outDir, s"doc_${s.doc_id}", "clips")
        Files.createDirectories(dir)
        Files.write(dir.resolve(s"${s.segment}.wav"),
          wavBytes(Pcm(s.pcm, s.sample_rate)))
        Files.write(dir.resolve(s"${s.segment}.txt"),
          s.text.getBytes("UTF-8"))
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
          Files.write(dir.resolve("full.wav"), wav)
          Files.write(dir.resolve("full.txt"), txt.getBytes("UTF-8"))
        }
    }
  }

  /** K2 + K4 — clips.tsv (claude_research_optimal.py:477, 666),
    * rejections.json, summary.json per run, one file each.
    * `repartition(1)`, not `coalesce(1)`: a coalesce would pull the
    * whole upstream stage into one task, so when this is the first sink
    * a caller runs, every document's inference would fill the
    * pipeline cache serially.
    */
  def writeMetadata(result: Result, outDir: String): Unit = {
    result.segments.select(
        concat(lit("clips/"), col("segment"), lit(".wav")).as("path"),
        format_string("%.3f", lit(0.0)).as("start"),
        format_string("%.3f", col("duration_s")).as("end"),
        format_string("%.3f", col("duration_s")).as("duration_s"),
        col("words"), col("pieces"),
        format_string("%.3f", col("avg_conf")).as("avg_conf"),
        col("acoustic_quality"), col("doc_id"), col("group_id"))
      .repartition(1).write.mode("overwrite")
      .option("sep", "\t").option("header", true)
      .csv(s"$outDir/clips_tsv")
    result.rejections.toDF()
      .repartition(1).write.mode("overwrite").json(s"$outDir/rejections_json")
    result.summary
      .repartition(1).write.mode("overwrite").json(s"$outDir/summary_json")
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

  /** K5 — word-coverage CSV (batch_processor.py:39–45): whitespace
    * tokens of exported segment texts, (count asc, word asc). The one
    * output file is sorted within its partition, so no range-partition
    * sampling job runs.
    */
  def writeWordCoverage(segments: Dataset[SegmentRow], outDir: String): Unit = {
    val spark = segments.sparkSession
    import spark.implicits._
    segments.toDF()
      .select(explode(split(lower($"text"), "\\s+")).as("word"))
      .filter($"word" =!= "")
      .groupBy($"word").agg(count(lit(1)).as("count"))
      .coalesce(1).sortWithinPartitions($"count", $"word")
      .write.mode("overwrite")
      .option("header", true).csv(s"$outDir/word_coverage")
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
