package graft.queries

import org.apache.spark.sql.functions._

import graft.Materialize
import graft.operators.Dedup
import graft.queries.QueryDef.table

/** Deduplication contract queries (north star X1) over `documents`:
  * exact, exact-Jaccard over 3-word shingles, MinHash+LSH, SimHash.
  *
  * The LSH/SimHash paths use xxhash64 and are not reproducible in
  * ANSI SQL → rows-only driver check + ScalaTest verification against
  * the exact-Jaccard ground truth (DedupSpec).
  */
object DedupQueries {

  /** 4-word shingles: on a small-vocabulary corpus 3-grams collide
    * coincidentally (sum df² ≈ 33M at sf0.1 → quadratic join pain);
    * k=4 collapses that to 0.6M while keeping every planted
    * near-dup pair with ≥0.27 margin to the 0.5 threshold.
    */
  val ShingleK = 4
  val JaccardThreshold = 0.5
  /** 64 minhashes = 16 bands × 4 rows → P(candidate) = 1−(1−J⁴)¹⁶:
    * ≈1.0 at J≥0.8 (the planted near-dup band), ≈0.008 at J=0.1.
    */
  val NumHashes = 64
  val Bands = 16
  val RowsPerBand = 4

  /** The X369 release DAG through the PACKING stage — clean →
    * keeper near-dup dedup → benchmark decontamination → temperature
    * mix → concat-and-split pack. Shared by the `q_release_dag`
    * contract query (which exports this frame's manifest and checks
    * it against the 6-stage chained oracle) and the r13 sharded-
    * writer E2E spec (which physically writes the SAME survivors
    * with [[graft.Sinks.writeShardedCorpus]] and re-derives the
    * manifest from the files on disk) — so the bytes a release
    * would ship and the numbers the oracle certifies come from one
    * DAG by construction.
    *
    * Stage boundaries are cut (`Materialize.cut`): each survivor
    * frame feeds ≥2 downstream branches (the shingle self-join +
    * the anti-join; temperatureMix reads its input twice for sizes
    * + join), so an unmaterialized DAG re-runs the clean stage ~6×.
    * In production these boundaries are the stage parquet writes;
    * solo min-of-5 10.5 s → 5.0 s.
    */
  def releaseDagPacked(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    import graft.operators.{Contamination, CorpusOps}
    val docs = table(spark, dir, "documents")
    val cleaned = CorpusOps.cleanCorpus(docs, "doc_id", "text",
      TextAnalysisQueries.Stopwords,
      keepLangs = Seq("en", "de", "fr", "es"),
      minTokens = 25, minQuality = 0.5)
    val s1 = docs.join(
        cleaned.filter($"kept").select($"doc_id"), Seq("doc_id"))
      .transform(Materialize.cut)
    val pairs = Dedup.jaccardPairsExact(
      s1.select($"doc_id",
        Dedup.hashedShingles($"text", ShingleK).as("shingles")),
      "doc_id", JaccardThreshold)
    val dropped = Dedup.selectKeepers(Dedup.resolveClusters(pairs),
        docs.select($"doc_id", $"n_chars".as("score")),
        "doc_id", "score")
      .filter(!$"is_kept").select($"doc_id")
    val s2 = s1.join(dropped, Seq("doc_id"), "left_anti")
      .transform(Materialize.cut)
    val bench = docs.filter(
      $"doc_id" % CorpusPrepQueries.BenchMod === 0)
    val cands = s2.filter(
      $"doc_id" % CorpusPrepQueries.BenchMod =!= 0)
    val flagged = Contamination.flagContaminated(cands, bench,
        "doc_id", "text", CorpusPrepQueries.ContamK,
        CorpusPrepQueries.ContamThreshold)
      .filter($"flagged").select($"doc_id")
    val s3 = cands.join(flagged, Seq("doc_id"), "left_anti")
      .transform(Materialize.cut)
    val s4 = CorpusOps.temperatureMix(s3, "doc_id", "source",
      alpha = 0.5,
      targetFraction = CorpusPrepQueries.TempTargetFraction,
      salt = CorpusPrepQueries.MixSalt)
    CorpusOps.packSequences(s4, "doc_id", "text",
      CorpusPrepQueries.PackSeqLen)
  }

  /** Shared: the scan+shingle subtree is read by all four dedup
    * queries (Spark's CacheManager matches by analyzed plan, so each
    * query's fresh build of this DataFrame hits the same cache).
    */
  private def shingled(spark: org.apache.spark.sql.SparkSession, dir: String) =
    Materialize.share(table(spark, dir, "documents")
      .select(col("doc_id"),
        Dedup.hashedShingles(col("text"), ShingleK).as("shingles")))

  /** DuckDB expression mirroring Dedup.shingles/tokens. */
  private val shingleSql = {
    val gram = (1 to ShingleK).map(j => s"w[i+$j]").mkString(" || chr(1) || ")
    s"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS w
      FROM documents
    ), sh AS (
      SELECT doc_id, list_distinct(
        CASE WHEN len(w) < $ShingleK THEN []
             ELSE list_transform(range(len(w) - ${ShingleK - 1}),
                    i -> $gram)
        END) AS shingles
      FROM toks
    )"""
  }

  /** DuckDB twin of the composed X369 release DAG — every stage CTE
    * is the (already hash-green) single-stage oracle re-targeted at
    * the previous stage's survivors: clean (q_corpus_clean's t/m) →
    * keeper dedup (q_prep_pipeline's pairs/reach/keeper over s1) →
    * decontamination (q_decontaminate's grams over s2, benchmark
    * from the FULL corpus) → temperature mix (q_temperature_mix's
    * sizes/rates derived from s3's own counts) → packing
    * (q_pack_sequences' global prefix over s4) → manifest
    * (q_export_manifest over the packed sequences, source
    * 'release').
    */
  private lazy val releaseDagSql: String = {
    val scores = TextAnalysisQueries.Stopwords.map { case (l, ws) =>
      s"${TextAnalysisQueries.hitsSql(ws)} AS s_$l"
    }.mkString(",\n            ")
    val shingle = (1 to ShingleK).map(j => s"w[i+$j]")
      .mkString(" || chr(1) || ")
    val k = CorpusPrepQueries.ContamK
    val gramK = (1 to k).map(j => s"w[i+$j]").mkString(" || chr(1) || ")
    val bm = CorpusPrepQueries.BenchMod
    val seqLen = CorpusPrepQueries.PackSeqLen
    s"""
    WITH RECURSIVE t AS (
      SELECT doc_id, source, text,
        list_filter(string_split_regex(lower(text), '\\s+'),
          x -> x <> '') AS w,
        length(text) AS n_chars,
        length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))
          AS n_alnum,
        $scores
      FROM documents
    ), m AS (
      SELECT doc_id, source, w,
        len(w) AS n_tokens,
        0.4 * least(len(w) / 100.0, 1.0)
          + 0.3 * (n_alnum * 1.0 / n_chars)
          + 0.3 * least(3 * s_en * 1.0 / len(w), 1.0) AS quality,
        CASE
          WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es
            AND s_en >= s_zh THEN 'en'
          WHEN s_de >= s_fr AND s_de >= s_es AND s_de >= s_zh THEN 'de'
          WHEN s_fr >= s_es AND s_fr >= s_zh THEN 'fr'
          WHEN s_es >= s_zh THEN 'es'
          ELSE 'zh'
        END AS predicted,
        doc_id = min(doc_id) OVER (PARTITION BY md5(lower(text)))
          AS is_canonical
      FROM t
    ), s1 AS (
      SELECT doc_id, source, w FROM m
      WHERE is_canonical AND n_tokens >= 25 AND quality >= 0.5
        AND predicted IN ('en', 'de', 'fr', 'es')
    ), shs AS (
      SELECT doc_id, list_distinct(
        CASE WHEN len(w) < $ShingleK THEN []
             ELSE list_transform(range(len(w) - ${ShingleK - 1}),
                    i -> $shingle)
        END) AS shingles
      FROM s1
    ), prs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2
      FROM shs a JOIN shs b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0 /
            (len(a.shingles) + len(b.shingles)
             - len(list_intersect(a.shingles, b.shingles)))
            >= $JaccardThreshold
    ), edges AS (
      SELECT d1 AS src, d2 AS dst FROM prs
      UNION SELECT d2, d1 FROM prs
    ), reach AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ), clustered AS (
      SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
      FROM reach GROUP BY src
    ), keeper AS (
      SELECT c.doc_id,
             row_number() OVER (PARTITION BY c.cluster_id
               ORDER BY d.n_chars DESC, c.doc_id) = 1 AS is_kept
      FROM clustered c JOIN documents d USING (doc_id)
    ), s2 AS (
      SELECT * FROM s1
      WHERE doc_id NOT IN
        (SELECT doc_id FROM keeper WHERE NOT is_kept)
    ), bgrams AS (
      SELECT DISTINCT g FROM (
        SELECT unnest(list_distinct(
          CASE WHEN len(w) < $k THEN []
               ELSE list_transform(range(len(w) - ${k - 1}),
                      i -> $gramK)
          END)) AS g
        FROM t WHERE doc_id % $bm = 0)
    ), cgrams AS (
      SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(w) < $k THEN []
             ELSE list_transform(range(len(w) - ${k - 1}),
                    i -> $gramK)
        END)) AS g
      FROM s2 WHERE doc_id % $bm <> 0
    ), contam AS (
      SELECT c.doc_id, count(*) AS n_grams, count(b.g) AS n_hit
      FROM cgrams c LEFT JOIN bgrams b USING (g)
      GROUP BY 1
    ), s3 AS (
      SELECT s2.doc_id, s2.source, s2.w
      FROM s2 LEFT JOIN contam USING (doc_id)
      WHERE s2.doc_id % $bm <> 0
        AND coalesce(n_hit * 1.0 / n_grams, 0.0)
            < ${CorpusPrepQueries.ContamThreshold}
    ), sizes AS (
      SELECT source, count(*) AS n,
             CAST(round(sqrt(CAST(count(*) AS DOUBLE)) * 1e6)
                  AS BIGINT) AS wgt
      FROM s3 GROUP BY source
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS tn,
             CAST(sum(wgt) AS BIGINT) AS tw
      FROM sizes
    ), rates AS (
      SELECT s.source,
             least(1.0, ${CorpusPrepQueries.TempTargetFraction}
                   * CAST(t.tn AS DOUBLE) * s.wgt
                   / (CAST(t.tw AS DOUBLE) * s.n)) AS rate
      FROM sizes s, tot t
    ), s4 AS (
      SELECT d.doc_id, d.w
      FROM s3 d JOIN rates r USING (source)
      WHERE CAST(('0x' || substr(md5('${CorpusPrepQueries.MixSalt}'
              || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            < CAST(round(r.rate * 4294967296.0) AS BIGINT)
    ), offs AS (
      SELECT doc_id, w, len(w) AS n,
        coalesce(sum(len(w)) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
      FROM s4
    ), tok AS (
      SELECT st + i - 1 AS gpos, w[i] AS tk
      FROM offs, unnest(range(1, n + 1)) AS u(i)
    ), seqs AS (
      SELECT CAST(gpos // $seqLen AS BIGINT) AS seq_id,
             string_agg(tk, ' ' ORDER BY gpos) AS seq_text
      FROM tok GROUP BY 1
    ), counted AS (
      SELECT 'release' AS source, seq_id,
             len(list_filter(string_split_regex(lower(seq_text),
               '\\s+'), x -> x <> '')) AS nt,
             ('0x' || substr(md5(seq_text), 1, 8))::BIGINT AS h
      FROM seqs
    ), sharded AS (
      SELECT source, seq_id, nt, h,
             CAST(coalesce(sum(nt) OVER (PARTITION BY source
               ORDER BY seq_id ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0)
               // ${CurationQueries.ManifestBudget} AS BIGINT)
               AS shard_id
      FROM counted
    )
    SELECT source, shard_id,
           count(*) AS n_docs,
           CAST(sum(nt) AS BIGINT) AS n_tokens,
           min(seq_id) AS first_id,
           max(seq_id) AS last_id,
           CAST(sum(h) AS BIGINT) AS checksum
    FROM sharded
    GROUP BY 1, 2
    ORDER BY source, shard_id
    """.trim
  }

  /** DuckDB twin of md5Hash64 + simhashWith + simhashPairs. The hash
    * is read as four 16-bit limbs (c3 = hex chars 1–4, most
    * significant) because DuckDB's BIGINT `<<` overflow-checks — bits
    * are tested per-limb with `>>`/`&`, and the packed signature is
    * assembled in HUGEINT then wrapped to signed 64-bit to match
    * Spark's LongType two's-complement value, so the final pair check
    * is the same `bit_count(xor(...))` both engines run.
    */
  private val simhashPairSql = {
    val bitSums = (0 until 64).map { j =>
      s"sum(CASE WHEN (c${j / 16} >> ${j % 16}) & 1 = 1 THEN 1 ELSE -1 END) AS b$j"
    }.mkString(",\n             ")
    val packed = (0 until 64).map { j =>
      s"CASE WHEN b$j >= 0 THEN ${BigInt(1) << j}::HUGEINT ELSE 0::HUGEINT END"
    }.mkString(" +\n             ")
    s"""$shingleSql, ex AS (
      SELECT doc_id, unnest(shingles) AS g FROM sh
    ), limbs AS (
      SELECT doc_id,
             ('0x' || substr(md5(g), 1, 4))::BIGINT AS c3,
             ('0x' || substr(md5(g), 5, 4))::BIGINT AS c2,
             ('0x' || substr(md5(g), 9, 4))::BIGINT AS c1,
             ('0x' || substr(md5(g), 13, 4))::BIGINT AS c0
      FROM ex
    ), bits AS (
      SELECT doc_id,
             $bitSums
      FROM limbs GROUP BY doc_id
    ), sig AS (
      SELECT doc_id,
             (hv - CASE WHEN hv >= 9223372036854775808::HUGEINT
                        THEN 18446744073709551616::HUGEINT
                        ELSE 0::HUGEINT END)::BIGINT AS simhash
      FROM (SELECT doc_id,
             ($packed) AS hv FROM bits)
    )
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 7
    ORDER BY d1, d2"""
  }

  private val jaccardPairSql = s"""$shingleSql
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           round(len(list_intersect(a.shingles, b.shingles)) * 1.0 /
                 (len(a.shingles) + len(b.shingles)
                  - len(list_intersect(a.shingles, b.shingles))), 6) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0 /
          (len(a.shingles) + len(b.shingles)
           - len(list_intersect(a.shingles, b.shingles))) >= $JaccardThreshold
    ORDER BY d1, d2"""

  val defs: Seq[QueryDef] = Seq(

    // X1a: exact dedup — group by a canonical form of the content,
    // keep the lowest doc_id. At scale the group key is xxhash64 of
    // the canonical text (8-byte shuffle key); the oracle-facing
    // output carries only (keep_id, n_copies) so both forms agree.
    QueryDef(
      "q_dedup_exact",
      Some("""
        SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        FROM documents
        GROUP BY md5(lower(text))
        ORDER BY keep_id
      """.trim),
      "X1 exact dedup by canonical content hash")(
      (spark, dir) => {
        import spark.implicits._
        table(spark, dir, "documents")
          .groupBy(xxhash64(lower($"text")))
          .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
          .select($"keep_id", $"n_copies")
          .orderBy($"keep_id")
      }),

    // X1b: exact n-gram Jaccard near-dup pairs (ground truth for the
    // approximate paths), via prefix filtering — candidates only
    // where RARE shingles collide, then array_intersect verify; the
    // naive Σdf² join is spec-only.
    QueryDef(
      "q_dedup_jaccard",
      Some(jaccardPairSql),
      "X1 exact 3-shingle Jaccard near-dup pairs (prefix-filtered)")(
      (spark, dir) => {
        import spark.implicits._
        Dedup.jaccardPairsExact(shingled(spark, dir), "doc_id",
            JaccardThreshold)
          .select($"d1", $"d2", round($"jaccard", 6).as("jaccard"))
          .orderBy($"d1", $"d2")
      }),

    // X1c: MinHash+LSH near-dup — the 100 TB path. Same output
    // contract as q_dedup_jaccard: LSH proposes candidates (linear
    // equi-shuffle), exact Jaccard verifies them. With 16×4 banding
    // the planted J≥0.8 pairs are found w.p. ≈1−10⁻⁴ per pair, and
    // xxhash64 is deterministic, so equality with the exact oracle
    // was verified once on the sf0.01 data and cannot flake.
    QueryDef(
      "q_dedup_minhash",
      Some(jaccardPairSql),
      "X1 MinHash(64)+LSH(16x4) near-dup with exact verify")(
      (spark, dir) => {
        import spark.implicits._
        val docs = shingled(spark, dir)
        val exploded = docs.select($"doc_id", explode($"shingles").as("g"))
        val sigs = Dedup.minhashSignature(exploded, "doc_id", "g", NumHashes)
        val cand = Dedup.candidatePairs(
          Dedup.bandBuckets(sigs, "doc_id", Bands, RowsPerBand), "doc_id")
        Dedup.verifyPairs(docs, "doc_id", cand, JaccardThreshold)
          .select($"d1", $"d2", round($"jaccard", 6).as("jaccard"))
          .orderBy($"d1", $"d2")
      }),

    // X1g: incremental near-dup — odd doc_ids play the "new batch",
    // even doc_ids the existing corpus: new-side band buckets join
    // corpus-side band buckets (the corpus is never self-paired).
    // Oracle: the exact asymmetric Jaccard join. Equality holds for
    // the same reason as q_dedup_minhash (banding recall ≈1 at the
    // planted J≥0.8 band, verified deterministic).
    QueryDef(
      "q_dedup_incremental",
      Some(s"""$shingleSql
        SELECT a.doc_id AS d1, b.doc_id AS d2,
               round(len(list_intersect(a.shingles, b.shingles)) * 1.0 /
                     (len(a.shingles) + len(b.shingles)
                      - len(list_intersect(a.shingles, b.shingles))), 6)
                 AS jaccard
        FROM sh a JOIN sh b
          ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
        WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0 /
              (len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles)))
              >= $JaccardThreshold
        ORDER BY d1, d2"""),
      "X1g incremental near-dup: new batch vs existing corpus")(
      (spark, dir) => {
        import spark.implicits._
        val docs = shingled(spark, dir)
        Dedup.incrementalNearDupes(
            docs.filter($"doc_id" % 2 === 1),
            docs.filter($"doc_id" % 2 === 0),
            "doc_id", NumHashes, Bands, RowsPerBand, JaccardThreshold)
          .select($"d1", $"d2", round($"jaccard", 6).as("jaccard"))
          .orderBy($"d1", $"d2")
      }),

    // X1f: near-dup cluster resolution — pairs (X1b's exact Jaccard
    // join) → connected components → canonical keeper (min doc id).
    // Spark side is iterative min-label propagation (Dedup.
    // resolveClusters, O(component diameter) rounds of joins); the
    // oracle computes the same components with a recursive
    // reachability CTE — tractable because dup components are tiny.
    QueryDef(
      "q_dedup_clusters",
      Some(s"""${shingleSql.replaceFirst("WITH", "WITH RECURSIVE")},
        pairs AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0 /
                (len(a.shingles) + len(b.shingles)
                 - len(list_intersect(a.shingles, b.shingles)))
                >= $JaccardThreshold
        ), edges AS (
          SELECT d1 AS src, d2 AS dst FROM pairs
          UNION SELECT d2, d1 FROM pairs
        ), reach AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        )
        SELECT src AS doc_id,
               least(src, min(dst)) AS cluster_id,
               least(src, min(dst)) = src AS is_kept
        FROM reach GROUP BY src
        ORDER BY doc_id
      """.trim),
      "X1 near-dup cluster resolution: components + canonical keeper")(
      (spark, dir) => {
        import spark.implicits._
        val pairs = Dedup.jaccardPairsExact(shingled(spark, dir), "doc_id",
          JaccardThreshold)
        Dedup.resolveClusters(pairs)
          .select($"doc_id", $"cluster_id",
            ($"cluster_id" === $"doc_id").as("is_kept"))
          .orderBy($"doc_id")
      }),

    // Containment near-dup: |A∩B| / min(|A|,|B|) — catches a doc
    // embedded whole in a longer one, which symmetric Jaccard
    // structurally misses (J → 0 as the host grows). Prefix filter
    // on the smaller side's rarest shingles, exact verify; docs with
    // no shingles can't be candidates (explode drops them), mirrored
    // by the oracle's len > 0 guard.
    QueryDef(
      "q_dedup_containment",
      Some(s"""$shingleSql
        SELECT a.doc_id AS d1, b.doc_id AS d2,
               round(len(list_intersect(a.shingles, b.shingles)) * 1.0 /
                     least(len(a.shingles), len(b.shingles)), 6)
                 AS containment
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(a.shingles) > 0 AND len(b.shingles) > 0
          AND len(list_intersect(a.shingles, b.shingles)) * 1.0 /
              least(len(a.shingles), len(b.shingles)) >= $JaccardThreshold
        ORDER BY d1, d2
      """.trim),
      "X1 containment (asymmetric) near-dup pairs, prefix-filtered")(
      (spark, dir) => {
        import spark.implicits._
        Dedup.containmentPairs(shingled(spark, dir), "doc_id",
            JaccardThreshold)
          .select($"d1", $"d2", round($"containment", 6).as("containment"))
          .orderBy($"d1", $"d2")
      }),

    // Score-based canonical keeper: same components as
    // q_dedup_clusters, but production policy — keep the LONGEST
    // member (n_chars desc, ties → min doc_id) instead of min-id.
    // The keeper choice is one window over the skinny cluster table.
    QueryDef(
      "q_dedup_keeper_policy",
      Some(s"""${shingleSql.replaceFirst("WITH", "WITH RECURSIVE")},
        pairs AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0 /
                (len(a.shingles) + len(b.shingles)
                 - len(list_intersect(a.shingles, b.shingles)))
                >= $JaccardThreshold
        ), edges AS (
          SELECT d1 AS src, d2 AS dst FROM pairs
          UNION SELECT d2, d1 FROM pairs
        ), reach AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        ), clustered AS (
          SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
          FROM reach GROUP BY src
        )
        SELECT c.doc_id, c.cluster_id, d.n_chars AS score,
               row_number() OVER (PARTITION BY c.cluster_id
                 ORDER BY d.n_chars DESC, c.doc_id) = 1 AS is_kept
        FROM clustered c JOIN documents d USING (doc_id)
        ORDER BY doc_id
      """.trim),
      "X1 keeper policy: longest member survives each dup cluster")(
      (spark, dir) => {
        import spark.implicits._
        val pairs = Dedup.jaccardPairsExact(shingled(spark, dir), "doc_id",
          JaccardThreshold)
        Dedup.selectKeepers(Dedup.resolveClusters(pairs),
            table(spark, dir, "documents")
              .select($"doc_id", $"n_chars".as("score")),
            "doc_id", "score")
          .orderBy($"doc_id")
      }),

    // Composed prep pipeline — the canonical "dedup, then chunk"
    // sequence as ONE DAG under ONE oracle: jaccard near-dup
    // clusters → longest-member keeper (X54) → survivors →
    // overlapping context-window chunking (X37). Each stage is
    // independently oracled elsewhere; this query proves the
    // composition (anti-join wiring, stage boundaries) is exact too.
    QueryDef(
      "q_prep_pipeline",
      Some {
        val cs = CorpusPrepQueries.ChunkSize
        val st = CorpusPrepQueries.ChunkStride
        s"""${shingleSql.replaceFirst("WITH", "WITH RECURSIVE")},
        pairs AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0 /
                (len(a.shingles) + len(b.shingles)
                 - len(list_intersect(a.shingles, b.shingles)))
                >= $JaccardThreshold
        ), edges AS (
          SELECT d1 AS src, d2 AS dst FROM pairs
          UNION SELECT d2, d1 FROM pairs
        ), reach AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        ), clustered AS (
          SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
          FROM reach GROUP BY src
        ), keeper AS (
          SELECT c.doc_id,
                 row_number() OVER (PARTITION BY c.cluster_id
                   ORDER BY d.n_chars DESC, c.doc_id) = 1 AS is_kept
          FROM clustered c JOIN documents d USING (doc_id)
        ), surv AS (
          SELECT doc_id, text FROM documents
          WHERE doc_id NOT IN (SELECT doc_id FROM keeper WHERE NOT is_kept)
        ), toks2 AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\\s+'),
                             t -> t <> '') AS w
          FROM surv
        ), c2 AS (
          SELECT doc_id, w, len(w) AS n FROM toks2
        ), idx AS (
          SELECT doc_id, w, unnest(range(
            CASE WHEN n = 0 THEN 0
                 ELSE 1 + CASE WHEN n <= $cs THEN 0
                          ELSE (n - $cs + $st - 1) // $st END
            END)) AS chunk_id
          FROM c2
        )
        SELECT doc_id, chunk_id,
          len(w[chunk_id*$st+1 : chunk_id*$st+$cs]) AS n_chunk_tokens,
          array_to_string(w[chunk_id*$st+1 : chunk_id*$st+$cs], ' ')
            AS chunk_text
        FROM idx
        ORDER BY doc_id, chunk_id
      """.trim
      },
      "composed pipeline: keeper-dedup survivors -> context chunks")(
      (spark, dir) => {
        import spark.implicits._
        import graft.operators.CorpusOps
        val docs = table(spark, dir, "documents")
        val pairs = Dedup.jaccardPairsExact(shingled(spark, dir),
          "doc_id", JaccardThreshold)
        val dropped = Dedup.selectKeepers(Dedup.resolveClusters(pairs),
            docs.select($"doc_id", $"n_chars".as("score")),
            "doc_id", "score")
          .filter(!$"is_kept").select($"doc_id")
        val survivors = docs.join(dropped, Seq("doc_id"), "left_anti")
        CorpusOps.chunkDocs(survivors, "doc_id", "text",
            CorpusPrepQueries.ChunkSize, CorpusPrepQueries.ChunkStride)
          .orderBy($"doc_id", $"chunk_id")
      }),

    // X369: the composed nightly RELEASE DAG as ONE oracled query —
    // cleanCorpus (X3) → keeper near-dup dedup (X1/X54) →
    // benchmark decontamination (X33) → temperature mix (X85) →
    // concat-and-split packing (X81) → shard manifest (X105). Every
    // stage is independently hash-oracled elsewhere; this proves the
    // full export path's WIRING (survivor anti-joins, stage
    // boundaries, the re-derived mix rates over the post-dedup
    // corpus) is exact end to end — the query a release owner runs
    // before shipping a training corpus.
    QueryDef(
      "q_release_dag",
      Some(releaseDagSql),
      "composed release DAG: clean -> dedup -> decontam -> mix -> " +
        "pack -> manifest")(
      (spark, dir) => {
        import spark.implicits._
        import graft.operators.CorpusOps
        // r16: 'source' is the constant literal "release", so the
        // partitioned manifest window would run with an empty
        // partition spec (single task over every packed sequence);
        // the Const form computes the same prefix sums two-phase
        CorpusOps.exportManifestConst(
            releaseDagPacked(spark, dir),
            "source", "release", "seq_id", "seq_text",
            CurationQueries.ManifestBudget)
          .orderBy($"source", $"shard_id")
      }),

    // X1f over X1e: connected components of the exact cosine pair
    // graph — the "which embeddings are the same content" rollup a
    // near-dup pass feeds into canonicalization. Same Spark operator
    // (Dedup.resolveClusters — pair source is an input, the component
    // math is pair-agnostic) and same recursive-CTE oracle shape as
    // q_dedup_clusters, composed over the q_dedup_embedding pair
    // predicate.
    QueryDef(
      "q_embedding_clusters",
      Some("""
        WITH RECURSIVE v AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ), pairs AS (
          SELECT a.vec_id AS d1, b.vec_id AS d2
          FROM v a JOIN v b ON a.vec_id < b.vec_id
          WHERE list_dot_product(a.e, b.e) /
                (sqrt(list_dot_product(a.e, a.e)) *
                 sqrt(list_dot_product(b.e, b.e))) >= 0.4
        ), edges AS (
          SELECT d1 AS src, d2 AS dst FROM pairs
          UNION SELECT d2, d1 FROM pairs
        ), reach AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        )
        SELECT src AS vec_id,
               least(src, min(dst)) AS cluster_id,
               least(src, min(dst)) = src AS is_kept
        FROM reach GROUP BY src
        ORDER BY vec_id
      """.trim),
      "X1 embedding near-dup components + canonical keeper")(
      (spark, dir) => {
        import spark.implicits._
        import graft.operators.Similarity
        val pairs = Similarity.cosinePairsBlocked(
            table(spark, dir, "embeddings"), "vec_id", "embedding",
            threshold = 0.4, numBlocks = 16)
          .select($"v1".as("d1"), $"v2".as("d2"))
        Dedup.resolveClusters(pairs)
          .select($"doc_id".as("vec_id"), $"cluster_id",
            ($"cluster_id" === $"doc_id").as("is_kept"))
          .orderBy($"vec_id")
      }),

    // X69: leak-proof train/val/test split — split assignment hashes
    // the near-dup CLUSTER id (jaccard components), so no component
    // ever straddles splits: the near-dup-of-train-doc-in-test leak
    // is structurally impossible. Bands are the md5-threshold
    // predicate of X5 over the cluster key; thresholds are computed
    // by the same Scala rounding as the operator so the oracle
    // replays assignment bit-for-bit.
    QueryDef(
      "q_split_leakproof",
      Some {
        val t1 = math.round(0.8 * 4294967296.0)
        val t2 = math.round(0.9 * 4294967296.0)
        s"""${shingleSql.replaceFirst("WITH", "WITH RECURSIVE")},
        pairs AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0 /
                (len(a.shingles) + len(b.shingles)
                 - len(list_intersect(a.shingles, b.shingles)))
                >= $JaccardThreshold
        ), edges AS (
          SELECT d1 AS src, d2 AS dst FROM pairs
          UNION SELECT d2, d1 FROM pairs
        ), reach AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        ), comp AS (
          SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
          FROM reach GROUP BY src
        ), m AS (
          SELECT d.doc_id,
                 coalesce(c.cluster_id, d.doc_id) AS cluster_id
          FROM documents d LEFT JOIN comp c USING (doc_id)
        ), h AS (
          SELECT doc_id, cluster_id,
                 ('0x' || substr(md5('split0' ||
                    CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT AS hv
          FROM m
        )
        SELECT doc_id, cluster_id,
               CASE WHEN hv < $t1 THEN 'train'
                    WHEN hv < $t2 THEN 'val'
                    ELSE 'test' END AS split
        FROM h
        ORDER BY doc_id""".stripMargin.trim
      },
      "X69 leak-proof 80/10/10 split keyed on near-dup cluster ids")(
      (spark, dir) => {
        import spark.implicits._
        val docs = table(spark, dir, "documents")
        val clusters = Dedup.resolveClusters(
          Dedup.jaccardPairsExact(shingled(spark, dir), "doc_id",
            JaccardThreshold))
        graft.operators.CorpusOps.leakProofSplit(docs, "doc_id", clusters,
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), "split0")
          .orderBy($"doc_id")
      }),

    // X133: sorted-neighborhood near-dup candidates — the third
    // blocking family (prefix-key sort + bounded window + exact
    // Jaccard verify). The oracle replays the identical rank, window
    // pairing, and verification.
    QueryDef(
      "q_sorted_neighbors",
      Some(s"""$shingleSql,
        keyed AS (
          SELECT t.doc_id, array_to_string(t.w[1:3], ' ') AS key,
                 s.shingles
          FROM toks t JOIN sh s USING (doc_id)
        ), ranked AS (
          SELECT doc_id, shingles,
                 row_number() OVER (ORDER BY key, doc_id) - 1 AS r
          FROM keyed
        ), cand AS (
          SELECT a.doc_id AS da, b.doc_id AS db,
                 a.shingles AS s1, b.shingles AS s2
          FROM ranked a JOIN ranked b
            ON b.r > a.r AND b.r <= a.r + 4
        ), j AS (
          SELECT da, db,
                 round(CAST(len(list_intersect(s1, s2)) AS DOUBLE) /
                   (len(s1) + len(s2) - len(list_intersect(s1, s2))), 6)
                   AS jaccard
          FROM cand
          WHERE len(s1) + len(s2) - len(list_intersect(s1, s2)) > 0
        )
        SELECT least(da, db) AS d1, greatest(da, db) AS d2, jaccard
        FROM j WHERE jaccard >= $JaccardThreshold
        ORDER BY d1, d2
      """.trim),
      "X133 sorted-neighborhood blocking (window 5) + Jaccard verify")(
      (spark, dir) => {
        import spark.implicits._
        Dedup.sortedNeighborPairs(table(spark, dir, "documents"),
            "doc_id", "text", shingleK = ShingleK, windowSize = 5,
            prefixTokens = 3, threshold = JaccardThreshold)
          .orderBy($"d1", $"d2")
      }),

    // X127: edit-distance-1 typo pairs over the vocabulary — SymSpell
    // deletion-key candidates + exact levenshtein verify; the oracle
    // is the naive all-pairs form, so the candidate generation's
    // COMPLETENESS (not just precision) is what the hash checks.
    QueryDef(
      "q_typo_pairs",
      Some("""
        WITH words AS (
          SELECT w, CAST(count(*) AS BIGINT) AS n FROM (
            SELECT unnest(list_filter(
              string_split_regex(lower(text), '\s+'),
              x -> x <> '')) AS w
            FROM documents) GROUP BY w
        )
        SELECT a.w AS w1, b.w AS w2, a.n AS c1, b.n AS c2,
               CAST(levenshtein(a.w, b.w) AS INTEGER) AS dist
        FROM words a JOIN words b ON a.w < b.w
        WHERE levenshtein(a.w, b.w) <= 1
        ORDER BY w1, w2
      """.trim),
      "X127 edit-distance-1 typo pairs (SymSpell deletion keys)")(
      (spark, dir) => {
        import spark.implicits._
        Dedup.typoPairs(table(spark, dir, "documents"), "text")
          .orderBy($"w1", $"w2")
      }),

    // X123: grouped k-fold CV assignment — same cluster derivation as
    // q_split_leakproof, fold = md5(cluster) % 5; near-dup docs can
    // never straddle a fold boundary.
    QueryDef(
      "q_grouped_kfold",
      Some(s"""${shingleSql.replaceFirst("WITH", "WITH RECURSIVE")},
        pairs AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE len(list_intersect(a.shingles, b.shingles)) * 1.0 /
                (len(a.shingles) + len(b.shingles)
                 - len(list_intersect(a.shingles, b.shingles)))
                >= $JaccardThreshold
        ), edges AS (
          SELECT d1 AS src, d2 AS dst FROM pairs
          UNION SELECT d2, d1 FROM pairs
        ), reach AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        ), comp AS (
          SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
          FROM reach GROUP BY src
        ), m AS (
          SELECT d.doc_id,
                 coalesce(c.cluster_id, d.doc_id) AS cluster_id
          FROM documents d LEFT JOIN comp c USING (doc_id)
        )
        SELECT doc_id, cluster_id,
               CAST(('0x' || substr(md5('fold' ||
                  CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT % 5
                 AS INTEGER) AS fold
        FROM m
        ORDER BY doc_id""".stripMargin.trim),
      "X123 grouped 5-fold CV assignment keyed on near-dup clusters")(
      (spark, dir) => {
        import spark.implicits._
        val docs = table(spark, dir, "documents")
        val clusters = Dedup.resolveClusters(
          Dedup.jaccardPairsExact(shingled(spark, dir), "doc_id",
            JaccardThreshold))
        graft.operators.CorpusOps.groupedKFold(docs, "doc_id", clusters,
            k = 5, salt = "fold")
          .orderBy($"doc_id")
      }),

    // X72: incremental SemDeDup — the vec_id % 25 == 0 slice plays the
    // incoming batch, the rest the existing corpus; each new vector
    // reports its best same-label corpus match at cos ≥ 0.3 (ties to
    // the smaller corpus id) or comes back novel. Corpus vectors are
    // never paired with each other (the X23 semantics on embeddings).
    QueryDef(
      "q_semdedup_incr",
      Some("""
        WITH v AS (
          SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings
        ), nw AS (SELECT * FROM v WHERE vec_id % 25 = 0),
        corp AS (SELECT * FROM v WHERE vec_id % 25 <> 0),
        m AS (
          SELECT nw.vec_id AS new_id, corp.vec_id AS dup_of,
                 list_dot_product(nw.e, corp.e) /
                 (sqrt(list_dot_product(nw.e, nw.e)) *
                  sqrt(list_dot_product(corp.e, corp.e))) AS cosr,
                 row_number() OVER (PARTITION BY nw.vec_id
                   ORDER BY list_dot_product(nw.e, corp.e) /
                     (sqrt(list_dot_product(nw.e, nw.e)) *
                      sqrt(list_dot_product(corp.e, corp.e))) DESC,
                     corp.vec_id) AS rk
          FROM nw JOIN corp ON nw.label = corp.label
          WHERE list_dot_product(nw.e, corp.e) /
                (sqrt(list_dot_product(nw.e, nw.e)) *
                 sqrt(list_dot_product(corp.e, corp.e))) >= 0.3
        ), best AS (
          SELECT new_id, dup_of, round(cosr, 6) AS cos
          FROM m WHERE rk = 1
        )
        SELECT nw.vec_id AS new_id, nw.label,
               best.dup_of IS NOT NULL AS is_dup, best.dup_of, best.cos
        FROM nw LEFT JOIN best ON nw.vec_id = best.new_id
        ORDER BY new_id
      """.trim),
      "X72 incremental SemDeDup: new batch vs corpus, best match or novel")(
      (spark, dir) => {
        import spark.implicits._
        import graft.operators.Similarity
        val emb = table(spark, dir, "embeddings")
        Similarity.incrementalSemDedup(
            emb.filter($"vec_id" % 25 === 0),
            emb.filter($"vec_id" % 25 =!= 0),
            "vec_id", "embedding", "label", tau = 0.3)
          .orderBy($"new_id")
      }),

    // X67: SemDeDup — cluster-scoped embedding dedup (pairs only
    // WITHIN each cluster, components, min-id keeper). The cluster
    // equi-join caps the quadratic term at Σ_c n_c² (the paper's
    // point); with the deterministic `label` column as the cluster
    // assignment the whole pipeline — pair predicate (same vec_dot
    // fold as the oracle's list_dot_product), components, keeper —
    // reproduces in SQL. τ=0.3 yields a non-trivial same-label pair
    // graph on this data (111 pairs at sf0.01).
    QueryDef(
      "q_semdedup",
      Some("""
        WITH RECURSIVE v AS (
          SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings
        ), pairs AS (
          SELECT a.vec_id AS d1, b.vec_id AS d2
          FROM v a JOIN v b
            ON a.label = b.label AND a.vec_id < b.vec_id
          WHERE list_dot_product(a.e, b.e) /
                (sqrt(list_dot_product(a.e, a.e)) *
                 sqrt(list_dot_product(b.e, b.e))) >= 0.3
        ), edges AS (
          SELECT d1 AS src, d2 AS dst FROM pairs
          UNION SELECT d2, d1 FROM pairs
        ), reach AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        ), comp AS (
          SELECT src AS vec_id, least(src, min(dst)) AS component_id
          FROM reach GROUP BY src
        )
        SELECT v.vec_id, v.label,
               coalesce(c.component_id, v.vec_id) AS component_id,
               coalesce(c.component_id, v.vec_id) = v.vec_id AS is_kept
        FROM v LEFT JOIN comp c USING (vec_id)
        ORDER BY vec_id
      """.trim),
      "X67 SemDeDup: within-cluster cosine components + min-id keeper")(
      (spark, dir) => {
        import spark.implicits._
        import graft.operators.Similarity
        Similarity.semDedup(table(spark, dir, "embeddings"),
            "vec_id", "embedding", "label", tau = 0.3)
          .orderBy($"vec_id")
      }),

    // X80: SemDeDup with its OWN distributed KMeans assignment — the
    // full pipeline for an unlabeled corpus: bounded-sample Lloyd
    // fit, centroids as plan literals, scan-stage argmin assignment
    // (zero shuffles before the pair join — plan-audited), then X67's
    // cluster-scoped components. Full hash oracle (r13): the fit is
    // the integer-state Lloyd (Similarity.fitCentersL), so the oracle
    // chains the unrolled KMeans CTEs in front of q_semdedup's
    // pair/component SQL with the computed clusters in place of the
    // label column. SimilaritySpec additionally bounds pair recall
    // vs the label-clustered run.
    QueryDef(
      "q_semdedup_auto",
      Some {
        val km = graft.queries.SimilarityQueries
          .duckKmeansCtes(k = 10, iters = 10)
        s"""
        WITH RECURSIVE $km,
        v AS MATERIALIZED (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
        ), vc AS MATERIALIZED (
          SELECT v.vec_id, a.cid, v.e FROM v JOIN afin a USING (vec_id)
        ), pairs AS (
          SELECT a.vec_id AS d1, b.vec_id AS d2
          FROM vc a JOIN vc b
            ON a.cid = b.cid AND a.vec_id < b.vec_id
          WHERE list_dot_product(a.e, b.e) /
                (sqrt(list_dot_product(a.e, a.e)) *
                 sqrt(list_dot_product(b.e, b.e))) >= 0.3
        ), edges AS (
          SELECT d1 AS src, d2 AS dst FROM pairs
          UNION SELECT d2, d1 FROM pairs
        ), reach AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        ), comp AS (
          SELECT src AS vec_id, least(src, min(dst)) AS component_id
          FROM reach GROUP BY src
        )
        SELECT vc.vec_id, vc.cid AS cluster_id,
               coalesce(c.component_id, vc.vec_id) AS component_id,
               coalesce(c.component_id, vc.vec_id) = vc.vec_id AS is_kept
        FROM vc LEFT JOIN comp c USING (vec_id)
        ORDER BY vec_id
        """.trim
      },
      "X80 SemDeDup over self-computed KMeans clusters (k=10)")(
      (spark, dir) => {
        import spark.implicits._
        import graft.operators.Similarity
        Similarity.semDedupAuto(table(spark, dir, "embeddings"),
            "vec_id", "embedding", tau = 0.3, k = 10)
          .orderBy($"vec_id")
      }),

    // X1e: embedding-cosine near-dup pairs — EXACT, block-partitioned
    // (Similarity.cosinePairsBlocked): the n² work distributes across
    // block-pair tasks with one corpus/numBlocks-sized block per task
    // and NO full-corpus broadcast, so the same plan shape survives a
    // corpus that outgrows executor memory. Cosine is the same
    // sequential-fold double math as the oracle, so membership at the
    // threshold is exact. (Sign-LSH bucketing is NOT used here: at
    // threshold 0.4 completeness-preserving LSH generates more
    // candidates than the all-pairs join itself — see the operator's
    // scaladoc; LSH remains the path for tight near-dup thresholds.)
    QueryDef(
      "q_dedup_embedding",
      Some("""
        WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
        SELECT a.vec_id AS v1, b.vec_id AS v2,
               round(list_dot_product(a.e, b.e) /
                 (sqrt(list_dot_product(a.e, a.e)) *
                  sqrt(list_dot_product(b.e, b.e))), 6) AS cos
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.e, b.e) /
              (sqrt(list_dot_product(a.e, a.e)) *
               sqrt(list_dot_product(b.e, b.e))) >= 0.4
        ORDER BY v1, v2
      """.trim),
      "X1 embedding-cosine near-dup pairs (exact baseline)")(
      (spark, dir) => {
        import spark.implicits._
        import graft.operators.Similarity
        Similarity.cosinePairsBlocked(table(spark, dir, "embeddings"),
            "vec_id", "embedding", threshold = 0.4, numBlocks = 16)
          .select($"v1", $"v2", round($"cos0", 6).as("cos"))
          .orderBy($"v1", $"v2")
      }),

    // X1d: SimHash near-dup — 64-bit signatures, 8×8-bit chunk
    // blocking (complete for hamming ≤ 7, see Dedup.simhashPairs), so
    // the chunk-join output is EXACTLY {pairs : hamming ≤ 7} and an
    // oracle that computes all such pairs directly must hash-match.
    // On this data planted near-dups sit at low hamming while random
    // pairs concentrate near 32, so ≤7 separates cleanly. The shingle
    // hash here is md5Hash64 (not the production xxhash64 — see
    // Dedup.simhash) precisely so DuckDB can replay signature
    // construction bit-for-bit: string shingles via the row-local
    // explodedShingles pass, four md5 limbs per shingle, 64 bit-sums,
    // bit_count(xor) pair check. Recall vs exact Jaccard additionally
    // asserted in DedupSpec for both hash choices.
    QueryDef(
      "q_dedup_simhash",
      Some(simhashPairSql),
      "X1 SimHash(64) near-dup pairs, chunk-blocked, md5-portable hash")(
      (spark, dir) => {
        import spark.implicits._
        val exploded = Dedup.explodedShingles(
          table(spark, dir, "documents"), "doc_id", "text", ShingleK)
        val sigs = Dedup.simhashWith(exploded, "doc_id",
          Dedup.md5Hash64($"g"))
        Dedup.simhashPairs(sigs, "doc_id", maxHamming = 7)
          .select($"d1", $"d2", $"hamming")
          .orderBy($"d1", $"d2")
      }),

    // X145: mergeable MinHash signature store — per-source 32-slot
    // md5 signatures and pairwise Jaccard estimates from signatures
    // alone (the constant-state scale path beside q_source_overlap's
    // exact intersection). md5 slot hashes replay verbatim in SQL.
    QueryDef(
      "q_minhash_sketch",
      Some("""
        WITH toks AS (
          SELECT source,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             t -> t <> '') AS w
          FROM documents
        ), sh AS (
          SELECT DISTINCT source AS key,
                 array_to_string(w[i:i+2], chr(1)) AS g
          FROM toks, unnest(range(1, len(w) - 1)) AS r(i)
          WHERE len(w) >= 3
        ), mh AS (
          SELECT key, slot,
                 min(CAST(('0x' || substr(md5('mhs'
                   || CAST(slot AS VARCHAR) || ':' || g), 1, 8))
                   AS BIGINT)) AS min_hash
          FROM sh, unnest(range(0, 32)) AS u(slot)
          GROUP BY 1, 2
        )
        SELECT a.key AS key_a, b.key AS key_b,
               CAST(count(*) AS BIGINT) AS n_slots,
               CAST(sum(CASE WHEN a.min_hash = b.min_hash
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
               round(CAST(sum(CASE WHEN a.min_hash = b.min_hash
                              THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*), 6) AS est_jaccard
        FROM mh a JOIN mh b ON a.slot = b.slot AND a.key < b.key
        GROUP BY 1, 2
        ORDER BY key_a, key_b
      """.trim),
      "X145 mergeable MinHash signature store + pairwise estimates")(
      (spark, dir) => {
        import spark.implicits._
        val sigs = Dedup.minhashSketch(table(spark, dir, "documents"),
          "source", "text", slots = 32, shingleK = 3)
        Dedup.minhashJaccard(sigs)
          .orderBy($"key_a", $"key_b")
      }),
  )
}
