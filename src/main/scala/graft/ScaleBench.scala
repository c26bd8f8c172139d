package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-curve bench: times the engine-heavy queries at one SF dir
  * so runs at increasing scale (sf0.1 → the synthetic sf1 from
  * `scripts/gen_sf1.py`) yield measured wall-time exponents for
  * SCALING.md, instead of plan-reading arguments alone.
  *
  * Two query groups:
  *  - contract queries from [[SparkEntry.queries]] — their probe sets
  *    (e.g. `vec_id % stride = 0`) GROW with the corpus, so the knn
  *    entries measure workload×corpus growth together;
  *  - `fixed_*` ANN variants with the probe set pinned to the 80
  *    replica-0 vectors present at every scale — the production shape
  *    (a constant query batch against a growing corpus), isolating the
  *    corpus-growth exponent.
  *
  * Output: one JSON line per run, same shape as [[Bench]].
  */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession(GraftSession.cpus("32"))

    val contract = Seq("q_session_merge", "q_run_merge", "q_lcs_align",
      "q_asr_pipeline", "q_dedup_exact", "q_dedup_jaccard",
      "q_dedup_minhash", "q_dedup_simhash", "q_dedup_clusters",
      "q_dedup_incremental", "q_dedup_embedding", "q_tf_cosine",
      "q_search_similar", "q_distinctive_terms", "q_knn_brute",
      "q_knn_lsh", "q_knn_ivf",
      // corpus-prep / training-assembly family (r6): all claimed
      // linear except decontaminate/dup-span, whose gram-join cost is
      // Σ_gram df² — the same watch item as q_tf_cosine
      "q_decontaminate", "q_dup_span_coverage", "q_repetition_stats",
      "q_shuffle_shards", "q_chunk_docs", "q_length_batches",
      "q_mix_corpus", "q_corpus_clean",
      // r6 second wave: sketch/layout/topk family — all claimed
      // ~linear (bloom build+prune, MG summaries+recount, zkey map,
      // manifest agg, partial-agg topk, version-diff join)
      "q_bloom_prune", "q_heavy_hitters_sketch", "q_zorder_key",
      "q_manifest_prune", "q_topk_agg", "q_sample_n_per_group",
      "q_snapshot_diff", "q_knn_pq",
      // r6 third wave: containment prefix join (the Σ df·pdf watch
      // item, like jaccard), keeper window, VAD map, weighted-sample
      // scan predicate, ivfpq probed lists
      "q_dedup_containment", "q_dedup_keeper_policy", "q_vad_segments",
      "q_weighted_sample", "q_knn_ivfpq", "q_prep_pipeline",
      "q_exact_quantile_scan",
      // fourth wave (X62–X65 + outliers); q_market_share is omitted —
      // gen_sf1.py replicates documents/events/embeddings only, the
      // TPC-H tables are copied unscaled
      "q_bm25", "q_span_clean", "q_vocab_coverage", "q_bpe_pairs",
      "q_embedding_outliers", "q_semdedup", "q_split_leakproof",
      "q_mad_outliers", "q_next_token", "q_semdedup_incr",
      "q_bpe_merges", "q_wer", "q_typicality_bands", "q_negative_sample",
      "q_constraints", "q_cer",
      // r7 wave: any-offset substring dedup (gram-df join, Σ df²
      // bound), corpus BPE encode (pure scan + driver-side trainer),
      // self-clustered SemDeDup (scan-stage assignment + pair join)
      "q_span_clean_anyoffset", "q_bpe_encode", "q_semdedup_auto",
      // r7 second wave: packing (skinny prefix sum + seq_id group),
      // bigram-LM perplexity (vocab²-bounded prob join), Gopher rules
      // (pure scan), BPE fertility (encode scan + source agg)
      "q_pack_sequences", "q_doc_perplexity", "q_gopher_rules",
      "q_bpe_fertility", "q_temperature_mix",
      // r7 third wave: BLEU (clip join keyed by (doc, n, gram)),
      // memorization probe (gram-df witness join)
      "q_bleu", "q_memorization", "q_self_bleu",
      "q_vocab_growth", "q_heaps_fit", "q_zipf_fit", "q_silhouette",
      // r8 wave: KN perplexity (vocab²-bounded prob join, cf.
      // q_doc_perplexity), DSIR (constant bucket table broadcast),
      // source overlap (per-gram source-set agg, Σ_g |sources(g)|²),
      // UniMax (one token agg + sources-only window), Davies-Bouldin
      // (centroid family), Y4M frame walk (pure scan over synthetic
      // containers)
      "q_kn_perplexity", "q_dsir_weights", "q_source_overlap",
      "q_unimax_alloc", "q_davies_bouldin", "q_frame_sample",
      // r8 second wave: ROUGE-L (per-row LCS DP, no shuffle),
      // novelty curve (one windowed gram pass + presence agg),
      // span corruption (per-doc window + skinny rank + reassembly)
      "q_rouge_l", "q_ngram_novelty", "q_span_corruption",
      // skinny-table interval math only (no token arrays)
      "q_pack_boundaries",
      // X106–X110 selection wave: CH (centroid family), margin mining
      // (bipartite exact pair join — inherently quadratic like
      // q_knn_brute; see fixed_margin_mining for the constant-batch
      // form), curriculum (token⋈vocab join + two-phase rank),
      // quality classifier (gram window + one agg), BPE round-trip
      // (driver trainer + encode/decode scan)
      "q_calinski_harabasz", "q_margin_pairs", "q_curriculum",
      "q_quality_classifier", "q_bpe_roundtrip",
      // X111–X113: CDC (JIT rolling scan + skinny hash window),
      // anomaly (per-user window), contrastive pairs (pure scan)
      "q_cdc_chunks", "q_anomaly", "q_contrastive_pairs",
      // X114–X116: l-diversity (two skinny aggs), calibration (moment
      // broadcast + group rank window), PCA whitening (mapPartitions
      // covariance + literal projection scan)
      "q_l_diversity", "q_score_calibration", "q_pca_whiten",
      // X117-X118: chrF (char-gram clip join), unigram tokenizer
      // (driver EM on the vocab-sized word table + Viterbi scan)
      "q_chrf", "q_unigram_vocab", "q_unigram_encode",
      // X119-X120: bootstrap (bounded explode + replicate agg),
      // persisted IVF (build fit + partitioned write + DPP serve)
      "q_bootstrap_ci", "q_ann_index",
      // X121: WordPiece (driver vocab + memoized greedy scan)
      "q_wordpiece_encode",
      // X123-X124: grouped k-fold (cluster join + scan hash), SCD2
      // compaction (per-key lag-flag-cumsum + skinny run lead)
      "q_grouped_kfold", "q_scd2_intervals",
      // X125-X126: retention cohorts (distinct activity + cohort agg),
      // chi-square drift (category-sized grid)
      "q_retention_cohorts", "q_chi2_drift",
      // X127: typo pairs (deletion-key equi-join, vocab-sized)
      "q_typo_pairs",
      // X128: dashboard (X109 gram pass + skinny aggs)
      "q_quality_dashboard",
      // X129-X130: HLL snapshots (register agg: (group, reg) partial
      // agg + |groups|-row rebuild since r13), DAU/WAU (skinny
      // coverage explode); X236 HLL algebra (|groups|²-pair register
      // union over the same sketch table)
      "q_hll_snapshots", "q_hll_algebra", "q_active_trend",
      // X131: PSI (tiny boundary agg + buckets-sized counts)
      "q_psi_drift",
      // X132: Hilbert key (pure scan UDF + output sort)
      "q_hilbert_key",
      // X133: sorted-neighborhood (two-phase rank + bounded window join)
      "q_sorted_neighbors",
      // X134: vocab sweep (driver trainer + word-table re-encodes)
      "q_vocab_sweep")

    import graft.operators.Similarity
    // one persisted IVF index per scale dir, built on the warmup pass
    val annIndexDirs =
      new java.util.concurrent.ConcurrentHashMap[String, String]()
    // probe set pinned to replica-0 ids (< 2000 at every scale)
    def fixedProbes(emb: DataFrame): DataFrame =
      emb.filter(col("vec_id") < 2000 &&
        col("vec_id") % graft.queries.SimilarityQueries.QueryStride === 0)
    val fixed: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "fixed_knn_brute" -> ((s: SparkSession, dir: String) => {
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        Similarity.bruteForceTopK(fixedProbes(emb), emb, "vec_id",
          "embedding", 5)
      }),
      "fixed_knn_lsh" -> ((s: SparkSession, dir: String) => {
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        Similarity.lshTopK(fixedProbes(emb), emb, "vec_id", "embedding",
          5, tables = 24, planes = 4)
      }),
      "fixed_knn_ivf" -> ((s: SparkSession, dir: String) => {
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        Similarity.ivfTopK(fixedProbes(emb), emb, "vec_id", "embedding",
          5, nlist = 16, nprobe = 4)
      }),
      "fixed_knn_pq" -> ((s: SparkSession, dir: String) => {
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        Similarity.pqTopK(fixedProbes(emb), emb, "vec_id", "embedding",
          5, m = 16, ksub = 16, refine = 8)
      }),
      "fixed_knn_ivfpq" -> ((s: SparkSession, dir: String) => {
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        Similarity.ivfPqTopK(fixedProbes(emb), emb, "vec_id", "embedding",
          5, nlist = 8, nprobe = 4, m = 16, ksub = 16, refine = 8)
      }),
      // persisted-index SERVE with a fixed probe batch: build once
      // per (scale, JVM) on first call — the warmup pass — so the
      // timed passes measure the production shape (constant query
      // batch against the on-disk DPP-pruned list store); q_ann_index
      // itself rebuilds per pass, conflating build ∝ corpus with
      // serve ∝ probed lists
      "fixed_ann_serve" -> ((s: SparkSession, dir: String) => {
        // register the dir BEFORE building: if build throws mid-way
        // the end-of-run cleanup still sees (and deletes) the orphan.
        // On failure the entry is REMOVED again — a registered-but-
        // broken dir would make every later timed pass serve from a
        // partial index instead of rebuilding (and read as a bogusly
        // fast serve); the failed warmup must force a rebuild
        val idx = Option(annIndexDirs.get(dir)).getOrElse {
          val tmp = java.nio.file.Files
            .createTempDirectory("graft_scale_ivfidx").toString
          annIndexDirs.put(dir, tmp)
          try {
            graft.operators.IvfIndex.build(
              s.read.parquet(s"$dir/embeddings.parquet"),
              "vec_id", "embedding", nlist = 16, dir = tmp)
          } catch {
            case e: Throwable =>
              annIndexDirs.remove(dir)
              try {
                import java.nio.file.{Files, Path}
                import scala.jdk.CollectionConverters._
                val root = Path.of(tmp)
                val walk = Files.walk(root)
                try walk.iterator().asScala.toSeq.reverse
                  .foreach(Files.deleteIfExists(_))
                finally walk.close()
              } catch { case _: Throwable => () }
              throw e
          }
          tmp
        }
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        graft.operators.IvfIndex.search(s, idx, fixedProbes(emb),
          "vec_id", "embedding", k = 5, nprobe = 4)
      }),
      // negativeSample with buckets ∝ corpus (pool held at ~80 rows
      // per probed bucket) — the operator's documented sizing rule.
      // Since round 7 the contract query derives buckets the same way
      // (from a corpus count), so the two regimes should now agree;
      // this fixture stays as the direct-operator cross-check
      "scaled_negative_sample" -> ((s: SparkSession, dir: String) => {
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        val n = emb.count()
        val buckets = math.max(64L, n / 78L).toInt
        graft.operators.CorpusOps.negativeSample(emb, "vec_id", "label",
          k = 5, probes = 4, buckets = buckets, salt = "neg")
      }),
      // margin mining with the LEFT batch pinned to replica-0 evens
      // (~1000 at every scale) against the growing odd-id corpus —
      // the production shape (constant mining batch, growing index),
      // isolating the corpus-growth exponent the way fixed_knn_* do
      "fixed_margin_mining" -> ((s: SparkSession, dir: String) => {
        val emb = s.read.parquet(s"$dir/embeddings.parquet")
        Similarity.marginMining(
          emb.filter(col("vec_id") < 2000 && col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1),
          "vec_id", "embedding", k = 4)
      }))

    val all = contract.map(n => n -> SparkEntry.queries(n)) ++ fixed
    // same local-iteration filter as Bench
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val queries = only match {
      case Some(names) => all.filter(q => names(q._1))
      case None => all
    }
    val timedRuns = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val results = queries.map { case (name, fn) =>
      val t = try {
        Bench.force(fn(spark, sfDir)) // warmup: codegen + JIT
        (1 to timedRuns).map { _ =>
          Materialize.releaseAll(spark)
          val t0 = System.nanoTime()
          Bench.force(fn(spark, sfDir))
          (System.nanoTime() - t0) / 1e9
        }.min
      } catch { case _: Throwable => -1.0 }
      Materialize.releaseAll(spark)
      System.err.println(f"[scale] $name%-28s $t%.4f s")
      name -> t
    }
    def fmt(v: Double): String = f"$v%.4f"
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    println(
      s"""{"metric":"scale_total","value":${fmt(total)},"unit":"sec","queries":$qs,"sf":"$sfDir"}""")
    // fixed_ann_serve's per-scale index is corpus-sized — delete it,
    // or repeated scale sweeps fill /tmp
    annIndexDirs.values.forEach { d =>
      import java.nio.file.{Files, Path}
      import scala.jdk.CollectionConverters._
      val root = Path.of(d)
      if (Files.exists(root)) {
        val walk = Files.walk(root)
        try walk.iterator().asScala.toSeq.reverse
          .foreach(Files.deleteIfExists(_))
        finally walk.close()
      }
    }
    spark.stop()
  }
}
