package graft.queries

import org.apache.spark.sql.functions._

import graft.Materialize
import graft.operators.{CorpusOps, InvertedIndex}
import graft.queries.QueryDef.table

/** Corpus-statistics contract queries: per-column data profiling,
  * exact heavy hitters, and the inverted-index text-similarity
  * family (sparse tf cosine join, distinctive terms) — the
  * retrieval/QA-side operators of a training-data pipeline
  * (SURVEY.md §2.10 north stars, extended).
  */
object CorpusStatsQueries {

  /** Bigram term-count subtree, shared so the CacheManager
    * unifies it across the queries below when they run in one session
    * (same analyzed plan ⇒ same cache entry, as with the dedup
    * shingle subtree).
    */
  private def bigramCounts(spark: org.apache.spark.sql.SparkSession,
      dir: String) =
    Materialize.share(InvertedIndex.termCounts(
      table(spark, dir, "documents"), "doc_id", "text", n = 2))

  val defs: Seq[QueryDef] = Seq(

    // X131: PSI drift between the even-id (baseline) and odd-id
    // (current) snapshot halves over n_chars deciles — banded on the
    // BASELINE's quantile cuts with add-one smoothing; integer counts
    // → hash-exact at round(6).
    QueryDef(
      "q_psi_drift",
      Some {
        val cuts = (0 until 9).map(i =>
          s"quantile_cont(v, 0.${i + 1}) AS c$i").mkString(", ")
        val band = (0 until 9).map(i => s"(v > c$i)::INT").mkString(" + ")
        s"""
        WITH s AS (
          SELECT CAST(n_chars AS DOUBLE) AS v, doc_id % 2 = 0 AS b
          FROM documents
        ), bounds AS (
          SELECT $cuts FROM s WHERE b
        ), banded AS (
          SELECT $band AS band, b FROM s, bounds
        ), counts AS (
          SELECT band,
                 CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS cb,
                 CAST(sum(CASE WHEN NOT b THEN 1 ELSE 0 END) AS BIGINT)
                   AS cc
          FROM banded GROUP BY band
        ), tot AS (
          SELECT CAST(sum(cb) AS BIGINT) AS nb,
                 CAST(sum(cc) AS BIGINT) AS nc
          FROM counts
        ), p AS (
          SELECT CAST(cb + 1 AS DOUBLE) / (nb + 10) AS p,
                 CAST(cc + 1 AS DOUBLE) / (nc + 10) AS q, nb, nc
          FROM counts, tot
        )
        SELECT max(nb) AS n_baseline, max(nc) AS n_current,
               round(sum((p - q) * ln(p / q)), 6) AS psi,
               CASE WHEN sum((p - q) * ln(p / q)) < 0.1 THEN 'stable'
                    WHEN sum((p - q) * ln(p / q)) < 0.25 THEN 'moderate'
                    ELSE 'major' END AS verdict
        FROM p
        """.trim
      },
      "X131 PSI drift (n_chars deciles, even vs odd snapshot halves)")(
      (spark, dir) => {
        import spark.implicits._
        CorpusOps.psi(table(spark, dir, "documents"), "n_chars",
          isBaseline = $"doc_id" % 2 === 0, buckets = 10)
      }),

    // X128: per-source quality dashboard — size, exact-dup ratio,
    // X109 keep rate, and language entropy in one |sources|-row
    // report. All integer-derived ratios → hash-exact.
    QueryDef(
      "q_quality_dashboard",
      Some("""
        WITH toks AS (
          SELECT doc_id, source, lang,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS w,
                 md5(text) AS h
          FROM documents
        ), grams AS (
          SELECT doc_id, w[i] AS g
          FROM toks, unnest(range(1, len(w) + 1)) AS r(i)
          UNION ALL
          SELECT doc_id, w[i] || chr(1) || w[i+1] AS g
          FROM toks, unnest(range(1, len(w))) AS r(i)
        ), sc AS (
          SELECT doc_id,
                 CAST(sum(CAST(('0x' || substr(md5('qclfw' || CAST(
                     CAST(('0x' || substr(md5('qclf' || g), 1, 8)) AS BIGINT)
                       % 1024 AS VARCHAR)), 1, 8)) AS BIGINT)
                   - 2147483648) AS BIGINT) AS sq
          FROM grams GROUP BY doc_id
        ), per AS (
          SELECT t.source, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(len(t.w)) AS BIGINT) AS total_tokens,
                 CAST(count(DISTINCT t.h) AS BIGINT) AS uniq,
                 CAST(sum(CASE WHEN coalesce(sc.sq >= 0, false)
                               THEN 1 ELSE 0 END) AS BIGINT) AS kept
          FROM toks t LEFT JOIN sc USING (doc_id)
          GROUP BY t.source
        ), lc AS (
          SELECT source, lang, CAST(count(*) AS BIGINT) AS c
          FROM toks GROUP BY 1, 2
        ), le AS (
          SELECT source,
                 round(CAST(round(ln(CAST(sum(c) AS BIGINT)) * 1e9, 0)
                         AS BIGINT) / 1e9
                   - CAST(CAST(sum(c * CAST(round(ln(c) * 1e9, 0)
                         AS BIGINT)) AS BIGINT) AS DOUBLE)
                     / (CAST(sum(c) AS BIGINT) * 1e9), 6) AS lang_entropy
          FROM lc GROUP BY source
        )
        SELECT p.source, p.n_docs, p.total_tokens,
               round(CAST(p.total_tokens AS DOUBLE) / p.n_docs, 6)
                 AS mean_tokens,
               round(CAST(p.uniq AS DOUBLE) / p.n_docs, 6) AS uniq_ratio,
               round(CAST(p.kept AS DOUBLE) / p.n_docs, 6) AS keep_rate,
               le.lang_entropy
        FROM per p JOIN le USING (source)
        ORDER BY p.source
      """.trim),
      "X128 per-source quality dashboard (size, dup, keep, entropy)")(
      (spark, dir) => {
        import spark.implicits._
        CorpusOps.qualityDashboard(table(spark, dir, "documents"),
            "doc_id", "text", "source", "lang")
          .orderBy($"source")
      }),

    // X126: χ² independence of (source, lang) — the corpus-mixture
    // drift alarm, over the full r×c grid including zero-observed
    // cells. Integer counts, fixed-shape arithmetic → hash-exact at
    // round(6).
    QueryDef(
      "q_chi2_drift",
      Some("""
        WITH cells AS (
          SELECT source AS r, lang AS c, CAST(count(*) AS BIGINT) AS o
          FROM documents GROUP BY 1, 2
        ), rt AS (
          SELECT r, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY r
        ), ct AS (
          SELECT c, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY c
        ), tot AS (
          SELECT CAST(sum(o) AS BIGINT) AS n,
                 CAST(count(DISTINCT r) AS BIGINT) AS nr,
                 CAST(count(DISTINCT c) AS BIGINT) AS nc
          FROM cells
        ), grid AS (
          SELECT rt.r, ct.c, rt.rt, ct.ct,
                 coalesce(cells.o, 0) AS o,
                 CAST(rt.rt AS DOUBLE) * ct.ct / tot.n AS e,
                 tot.n, tot.nr, tot.nc
          FROM rt CROSS JOIN ct
          LEFT JOIN cells ON cells.r = rt.r AND cells.c = ct.c
          CROSS JOIN tot
        )
        SELECT max(n) AS n, max(nr) AS n_rows_cat, max(nc) AS n_cols_cat,
               (max(nr) - 1) * (max(nc) - 1) AS dof,
               round(sum((o - e) * (o - e) / e), 6) AS chi2,
               round(sqrt(sum((o - e) * (o - e) / e)
                 / (max(n) * least(max(nr) - 1, max(nc) - 1))), 6)
                 AS cramers_v
        FROM grid
      """.trim),
      "X126 chi-square source-language independence (drift alarm)")(
      (spark, dir) =>
        CorpusOps.contingencyChi2(table(spark, dir, "documents"),
          "source", "lang")),

    // Per-column data profiling — the standard first query against an
    // unknown 100 TB table: one scan computes count/distinct/min/max
    // for every column (the multi-distinct agg expands the input
    // internally, still one pass over storage), then pivots to one
    // row per column. Strings compare bytewise in both engines, so
    // min/max oracle exactly.
    QueryDef(
      "q_profile",
      Some("""
        SELECT 'doc_id' AS col_name, count(doc_id) AS n_nonnull,
               count(DISTINCT doc_id) AS n_distinct,
               CAST(min(doc_id) AS VARCHAR) AS min_value,
               CAST(max(doc_id) AS VARCHAR) AS max_value
        FROM documents
        UNION ALL
        SELECT 'lang', count(lang), count(DISTINCT lang),
               CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
        FROM documents
        UNION ALL
        SELECT 'n_chars', count(n_chars), count(DISTINCT n_chars),
               CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
        FROM documents
        UNION ALL
        SELECT 'source', count(source), count(DISTINCT source),
               CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
        FROM documents
        UNION ALL
        SELECT 'text', count(text), count(DISTINCT text),
               CAST(min(text) AS VARCHAR), CAST(max(text) AS VARCHAR)
        FROM documents
        ORDER BY col_name
      """.trim),
      "per-column profile (count/distinct/min/max) of documents")(
      (spark, dir) => {
        import spark.implicits._
        val cols = Seq("doc_id", "lang", "n_chars", "source", "text")
        val aggs = cols.flatMap(c => Seq(
          count(col(c)).as(s"cnt_$c"),
          count_distinct(col(c)).as(s"dst_$c"),
          min(col(c)).cast("string").as(s"min_$c"),
          max(col(c)).cast("string").as(s"max_$c")))
        table(spark, dir, "documents")
          .agg(aggs.head, aggs.tail: _*)
          .select(explode(array(cols.map(c => struct(
            lit(c).as("col_name"),
            col(s"cnt_$c").as("n_nonnull"),
            col(s"dst_$c").as("n_distinct"),
            col(s"min_$c").as("min_value"),
            col(s"max_$c").as("max_value"))): _*)).as("p"))
          .select($"p.*")
          .orderBy($"col_name")
      }),

    // Exact heavy hitters: global top-20 tokens by corpus frequency.
    // orderBy+limit compiles to TakeOrderedAndProject — a per-
    // partition top-k then a driver-side merge of 20-row heaps, no
    // global sort of the vocabulary (plan-audited).
    QueryDef(
      "q_heavy_hitters",
      Some("""
        SELECT t AS token, count(*) AS n
        FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            x -> x <> '')) AS t
              FROM documents)
        GROUP BY t
        ORDER BY n DESC, token
        LIMIT 20
      """.trim),
      "exact top-20 corpus tokens (TakeOrderedAndProject top-k)")(
      (spark, dir) => {
        import spark.implicits._
        table(spark, dir, "documents")
          .select(explode(graft.operators.Dedup.tokens($"text")).as("token"))
          .groupBy($"token").agg(count(lit(1)).as("n"))
          .orderBy($"n".desc, $"token")
          .limit(20)
      }),

    // Sparse cosine similarity join over the bigram inverted index:
    // pairs meet through shared terms (equi-join on term, cost
    // Σ_term df² with df capped), never all-pairs. All sums are
    // integer term counts, so the cosine doubles are bit-identical
    // across engines (sqrt/division on exact integers).
    QueryDef(
      "q_tf_cosine",
      Some("""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS ts
          FROM documents
        ), tc AS (
          SELECT doc_id, ts[i] || ' ' || ts[i+1] AS term, count(*) AS tf
          FROM toks, unnest(range(1, len(ts))) AS r(i)
          GROUP BY 1, 2
        ), kept AS (
          SELECT tc.* FROM tc
          JOIN (SELECT term FROM tc GROUP BY term HAVING count(*) <= 100)
            USING (term)
        ), norms AS (
          SELECT doc_id, sum(tf*tf) AS n2 FROM kept GROUP BY doc_id
        ), dots AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, sum(a.tf*b.tf) AS dot
          FROM kept a JOIN kept b
            ON a.term = b.term AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT d1, d2,
               round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS cos
        FROM dots
        JOIN norms na ON dots.d1 = na.doc_id
        JOIN norms nb ON dots.d2 = nb.doc_id
        WHERE dot / (sqrt(na.n2) * sqrt(nb.n2)) >= 0.5
        ORDER BY d1, d2
      """.trim),
      "inverted-index bigram tf-cosine pairs at >= 0.5, df cap 100")(
      (spark, dir) => {
        import spark.implicits._
        InvertedIndex.tfCosinePairs(bigramCounts(spark, dir), "doc_id",
            threshold = 0.5, dfCap = 100)
          .select($"d1", $"d2", round($"cos", 6).as("cos"))
          .orderBy($"d1", $"d2")
      }),

    // "More like this" search: top-10 docs by bigram tf-cosine to
    // doc 0 — the probe vector is the index's own rows for doc 0, so
    // the whole query (including the probe) reproduces in SQL.
    QueryDef(
      "q_search_similar",
      Some("""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS ts
          FROM documents
        ), tc AS (
          SELECT doc_id, ts[i] || ' ' || ts[i+1] AS term, count(*) AS tf
          FROM toks, unnest(range(1, len(ts))) AS r(i)
          GROUP BY 1, 2
        ), kept AS (
          SELECT tc.* FROM tc
          JOIN (SELECT term FROM tc GROUP BY term HAVING count(*) <= 100)
            USING (term)
        ), norms AS (
          SELECT doc_id, sum(tf*tf) AS n2 FROM kept GROUP BY doc_id
        ), probe AS (
          SELECT term, tf AS qtf FROM kept WHERE doc_id = 0
        ), dots AS (
          SELECT kept.doc_id, sum(kept.tf * probe.qtf) AS dot
          FROM kept JOIN probe USING (term)
          WHERE kept.doc_id <> 0
          GROUP BY kept.doc_id
        )
        SELECT d.doc_id,
               round(d.dot / (sqrt(n.n2) *
                 (SELECT sqrt(n2) FROM norms WHERE doc_id = 0)), 6) AS cos
        FROM dots d JOIN norms n ON d.doc_id = n.doc_id
        ORDER BY d.dot / (sqrt(n.n2) *
          (SELECT sqrt(n2) FROM norms WHERE doc_id = 0)) DESC, d.doc_id
        LIMIT 10
      """.trim),
      "top-10 docs by bigram tf-cosine to doc 0 (inverted-index probe)")(
      (spark, dir) => {
        import spark.implicits._
        InvertedIndex.searchSimilar(bigramCounts(spark, dir), "doc_id",
            probeId = 0L, k = 10, dfCap = 100)
          .select($"doc_id", round($"cos", 6).as("cos"))
      }),

    // Multi-probe "more like this": the same index search for a BATCH
    // of probes — candidates still arrive via the term equi-join (one
    // shuffle of (probe, doc, dot) triples), each probe ranks in its
    // own window partition. Proves the single-probe shape generalizes
    // without a per-probe corpus pass.
    QueryDef(
      "q_search_similar_multi",
      Some("""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS ts
          FROM documents
        ), tc AS (
          SELECT doc_id, ts[i] || ' ' || ts[i+1] AS term, count(*) AS tf
          FROM toks, unnest(range(1, len(ts))) AS r(i)
          GROUP BY 1, 2
        ), kept AS (
          SELECT tc.* FROM tc
          JOIN (SELECT term FROM tc GROUP BY term HAVING count(*) <= 100)
            USING (term)
        ), norms AS (
          SELECT doc_id, sum(tf*tf) AS n2 FROM kept GROUP BY doc_id
        ), probes AS (
          SELECT doc_id AS probe_id, term, tf AS qtf FROM kept
          WHERE doc_id IN (0, 7, 19)
        ), dots AS (
          SELECT probes.probe_id, kept.doc_id, sum(kept.tf * probes.qtf) AS dot
          FROM kept JOIN probes USING (term)
          WHERE kept.doc_id <> probes.probe_id
          GROUP BY 1, 2
        ), ranked AS (
          SELECT d.probe_id, d.doc_id,
                 d.dot / (sqrt(n.n2) * sqrt(pn.n2)) AS cosr,
                 row_number() OVER (
                   PARTITION BY d.probe_id
                   ORDER BY d.dot / (sqrt(n.n2) * sqrt(pn.n2)) DESC,
                            d.doc_id) AS rk
          FROM dots d
          JOIN norms n ON d.doc_id = n.doc_id
          JOIN norms pn ON d.probe_id = pn.doc_id
        )
        SELECT probe_id, doc_id, CAST(rk AS BIGINT) AS rk,
               round(cosr, 6) AS cos
        FROM ranked WHERE rk <= 10
        ORDER BY probe_id, rk
      """.trim),
      "top-10 docs by bigram tf-cosine per probe batch {0,7,19}")(
      (spark, dir) => {
        import spark.implicits._
        InvertedIndex.searchSimilarMany(bigramCounts(spark, dir), "doc_id",
            probeIds = Seq(0L, 7L, 19L), k = 10, dfCap = 100)
          .select($"probe_id", $"doc_id", $"rk".cast("long").as("rk"),
            round($"cos", 6).as("cos"))
          .orderBy($"probe_id", $"rk")
      }),

    // PII redaction: emails/cards/IPs/phones scrubbed by an ordered
    // regexp_replace chain (scan-stage, codegen'd — no shuffle), with
    // per-pattern hit counts. The PII is synthesized deterministically
    // from doc_id so both engines construct, match, and replace the
    // identical strings — oracling the full regex dialect parity.
    QueryDef(
      "q_redact",
      Some("""
        WITH synth AS (
          SELECT doc_id,
                 'user' || CAST(doc_id AS VARCHAR) ||
                 '@example.com call +1 (555) 010-' ||
                 lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
                 ' card 4111111111111111 from 10.0.0.' ||
                 CAST(doc_id % 256 AS VARCHAR) || ' ' ||
                 substr(text, 1, 40) AS raw
          FROM documents
        )
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                 raw,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\b\d{13,19}\b', '<CARD>', 'g'),
                 '\b\d{1,3}(\.\d{1,3}){3}\b', '<IP>', 'g'),
                 '\+?\d[\d() .-]{6,}\d', '<PHONE>', 'g') AS redacted,
               len(regexp_extract_all(raw,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
               len(regexp_extract_all(raw, '\b\d{13,19}\b')) AS n_card,
               len(regexp_extract_all(raw,
                 '\b\d{1,3}(\.\d{1,3}){3}\b')) AS n_ipv4
        FROM synth
        ORDER BY doc_id
      """.trim),
      "PII redaction chain + hit counts over synthesized PII")(
      (spark, dir) => {
        import spark.implicits._
        import graft.functions.Redact
        val raw = concat(
          lit("user"), $"doc_id".cast("string"),
          lit("@example.com call +1 (555) 010-"),
          lpad(($"doc_id" % 10000).cast("string"), 4, "0"),
          lit(" card 4111111111111111 from 10.0.0."),
          ($"doc_id" % 256).cast("string"), lit(" "),
          substring($"text", 1, 40))
        val counts = Redact.hitCounts(raw)
          .filter(c => c._1 != "phone") // phone overlaps card/ip runs;
                                        // counted patterns are disjoint
          .map { case (n, c) => c.cast("long").as(s"n_$n") }
        table(spark, dir, "documents")
          .select(Seq($"doc_id", Redact.redact(raw).as("redacted")) ++
            counts: _*)
          .orderBy($"doc_id")
      }),

    // Distinctive terms: top-3 bigrams per doc by the integer ratio
    // score ⌊tf·1e6/df⌋ — high where a term is frequent in THIS doc
    // but rare corpus-wide; 64-bit integer arithmetic end to end, so
    // ranking and value reproduce exactly in any engine.
    QueryDef(
      "q_distinctive_terms",
      Some("""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS ts
          FROM documents
        ), tc AS (
          SELECT doc_id, ts[i] || ' ' || ts[i+1] AS term, count(*) AS tf
          FROM toks, unnest(range(1, len(ts))) AS r(i)
          GROUP BY 1, 2
        ), dfv AS (
          SELECT term, count(*) AS df FROM tc GROUP BY term
        ), scored AS (
          SELECT tc.doc_id, tc.term, tc.tf, dfv.df,
                 tc.tf * 1000000 // dfv.df AS score,
                 row_number() OVER (PARTITION BY tc.doc_id
                   ORDER BY tc.tf * 1000000 // dfv.df DESC, tc.term) AS rk
          FROM tc JOIN dfv USING (term)
        )
        SELECT doc_id, term, tf, df, score, rk
        FROM scored WHERE rk <= 3
        ORDER BY doc_id, rk
      """.trim),
      "top-3 distinctive bigrams per doc, integer tf/df ratio score")(
      (spark, dir) => {
        import spark.implicits._
        InvertedIndex.distinctiveTerms(bigramCounts(spark, dir), "doc_id",
            k = 3)
          .orderBy($"doc_id", $"rk")
      }),

    // Exact heavy hitters WITHOUT the full-vocabulary shuffle
    // q_heavy_hitters pays: per-partition Misra-Gries summaries (≤ k
    // counters, narrow) give a provably complete candidate superset;
    // an exact recount of candidates only (isin literal, scan-stage)
    // yields {token : freq ≥ ⌈0.002·n⌉} with exact counts — the
    // sketch choices never leak into the result, so a plain GROUP
    // BY/HAVING oracle hash-matches. k=1023 satisfies the 1/(k+1) <
    // 0.002 completeness floor with ~8× headroom.
    QueryDef(
      "q_heavy_hitters_sketch",
      Some("""
        WITH t AS (
          SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                        x -> x <> '')) AS token
          FROM documents
        ), total AS (SELECT count(*) AS n FROM t)
        SELECT token, count(*) AS n
        FROM t
        GROUP BY token
        HAVING count(*) >= (SELECT CAST(ceil(0.002 * n) AS BIGINT) FROM total)
        ORDER BY token
      """.trim),
      "exact ≥0.2% tokens via two-pass Misra-Gries candidates")(
      (spark, dir) => {
        import spark.implicits._
        import graft.operators.{Dedup, HeavyHitters}
        val toks = table(spark, dir, "documents")
          .select(explode(Dedup.tokens($"text")).as("token"))
        HeavyHitters.exactByFraction(toks, "token",
            minFraction = 0.002, k = 1023)
          .orderBy($"token")
      }),

    // X71: corpus bigram LM statistics — top-3 successors per token
    // with conditional probability; integer counts, exact division,
    // integer ranking. The count-based next-token table every
    // perplexity-style corpus diagnostic starts from.
    QueryDef(
      "q_next_token",
      Some("""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS ts
          FROM documents
        ), pairs AS (
          SELECT ts[i] AS prev, ts[i+1] AS next
          FROM toks, unnest(range(1, len(ts))) AS r(i)
        ), counts AS (
          SELECT prev, next, count(*) AS cnt FROM pairs GROUP BY 1, 2
        ), totals AS (
          SELECT prev, CAST(sum(cnt) AS BIGINT) AS total
          FROM counts GROUP BY prev
        ), ranked AS (
          SELECT c.prev, c.next, c.cnt, t.total,
                 row_number() OVER (PARTITION BY c.prev
                   ORDER BY c.cnt DESC, c.next) AS rk
          FROM counts c JOIN totals t USING (prev)
        )
        SELECT prev, next, cnt, total,
               round(CAST(cnt AS DOUBLE) / total, 6) AS p,
               CAST(rk AS BIGINT) AS rk
        FROM ranked WHERE rk <= 3
        ORDER BY prev, rk
      """.trim),
      "X71 top-3 next-token conditional probabilities per token")(
      (spark, dir) => {
        import spark.implicits._
        InvertedIndex.nextTokenStats(
            table(spark, dir, "documents"), "doc_id", "text", k = 3)
          .select($"prev", $"next", $"cnt", $"total", $"p",
            $"rk".cast("long").as("rk"))
          .orderBy($"prev", $"rk")
      }),

    // X89: vocabulary growth curve — cumulative tokens and cumulative
    // DISTINCT vocabulary after each doc; "distinct so far" becomes a
    // min-first-doc agg + prefix sums (fully distributed, oracle
    // replays the same arithmetic with a window). Pure integers.
    QueryDef(
      "q_vocab_growth",
      Some("""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS w
          FROM documents
        ), tok AS (
          SELECT doc_id, unnest(w) AS t FROM toks
        ), cnts AS (
          SELECT doc_id, count(*) AS n FROM tok GROUP BY 1
        ), news AS (
          SELECT d0 AS doc_id, count(*) AS nv FROM
            (SELECT t, min(doc_id) AS d0 FROM tok GROUP BY t)
          GROUP BY 1
        )
        SELECT d.doc_id,
          CAST(coalesce(c.n, 0) AS BIGINT) AS n_tokens,
          CAST(coalesce(v.nv, 0) AS BIGINT) AS new_types,
          CAST(sum(coalesce(c.n, 0)) OVER w AS BIGINT) AS cum_tokens,
          CAST(sum(coalesce(v.nv, 0)) OVER w AS BIGINT) AS vocab_size
        FROM documents d
        LEFT JOIN cnts c USING (doc_id)
        LEFT JOIN news v USING (doc_id)
        WINDOW w AS (ORDER BY d.doc_id ROWS UNBOUNDED PRECEDING)
        ORDER BY d.doc_id
      """.trim),
      "X89 cumulative token/vocabulary growth per doc (Heaps curve)")(
      (spark, dir) => {
        import spark.implicits._
        CorpusOps.vocabGrowth(
            table(spark, dir, "documents"), "doc_id", "text")
          .orderBy($"doc_id")
      }),

    // X89b: Heaps-law exponent by exact least squares on the log-log
    // curve — ln values quantized to integer nano-units so both
    // engines sum identical integers (libm 1-ulp log drift is ~1e-6
    // quanta); closed form evaluated in the same expression shape.
    QueryDef(
      "q_heaps_fit",
      Some("""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS w
          FROM documents
        ), tok AS (
          SELECT doc_id, unnest(w) AS t FROM toks
        ), cnts AS (
          SELECT doc_id, count(*) AS n FROM tok GROUP BY 1
        ), news AS (
          SELECT d0 AS doc_id, count(*) AS nv FROM
            (SELECT t, min(doc_id) AS d0 FROM tok GROUP BY t)
          GROUP BY 1
        ), growth AS (
          SELECT sum(coalesce(c.n, 0)) OVER w AS cum_tokens,
                 sum(coalesce(v.nv, 0)) OVER w AS vocab_size
          FROM documents d
          LEFT JOIN cnts c USING (doc_id)
          LEFT JOIN news v USING (doc_id)
          WINDOW w AS (ORDER BY d.doc_id ROWS UNBOUNDED PRECEDING)
        ), pts AS (
          SELECT
            CAST(round(ln(CAST(cum_tokens AS DOUBLE)) * 1e9) AS HUGEINT) AS x,
            CAST(round(ln(CAST(vocab_size AS DOUBLE)) * 1e9) AS HUGEINT) AS y
          FROM growth WHERE cum_tokens > 0 AND vocab_size > 0
        ), m AS (
          SELECT count(*) AS np, sum(x) AS sx, sum(y) AS sy,
                 sum(x * y) AS sxy, sum(x * x) AS sxx
          FROM pts
        )
        SELECT n_points, round(beta_raw, 6) AS beta,
               round(exp((sy_d - beta_raw * sx_d) / (np_d * 1e9)), 6) AS k
        FROM (
          SELECT CAST(np AS BIGINT) AS n_points,
            CAST(np AS DOUBLE) AS np_d,
            CAST(sx AS DOUBLE) AS sx_d, CAST(sy AS DOUBLE) AS sy_d,
            (CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS beta_raw
          FROM m
        )
      """.trim),
      "X89b Heaps-law V=k*n^beta exact least-squares fit")(
      (spark, dir) => {
        import spark.implicits._
        CorpusOps.heapsFit(CorpusOps.vocabGrowth(
            table(spark, dir, "documents"), "doc_id", "text"))
      }),

    // X90: Zipf rank-frequency exponent — same quantized-log exact
    // least squares as q_heaps_fit, over the ranked unigram table.
    QueryDef(
      "q_zipf_fit",
      Some("""
        WITH counts AS (
          SELECT t, count(*) AS c FROM (
            SELECT unnest(list_filter(
              string_split_regex(lower(text), '\s+'), x -> x <> '')) AS t
            FROM documents)
          GROUP BY t
        ), ranked AS (
          SELECT c, row_number() OVER (ORDER BY c DESC, t) AS r
          FROM counts
        ), pts AS (
          SELECT CAST(round(ln(CAST(r AS DOUBLE)) * 1e9) AS HUGEINT) AS x,
                 CAST(round(ln(CAST(c AS DOUBLE)) * 1e9) AS HUGEINT) AS y
          FROM ranked
        ), m AS (
          SELECT count(*) AS np, sum(x) AS sx, sum(y) AS sy,
                 sum(x * y) AS sxy, sum(x * x) AS sxx
          FROM pts
        )
        SELECT n_points, round(beta_raw, 6) AS beta,
               round(exp((sy_d - beta_raw * sx_d) / (np_d * 1e9)), 6) AS k
        FROM (
          SELECT CAST(np AS BIGINT) AS n_points,
            CAST(np AS DOUBLE) AS np_d,
            CAST(sx AS DOUBLE) AS sx_d, CAST(sy AS DOUBLE) AS sy_d,
            (CAST(np AS DOUBLE) * CAST(sxy AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / (CAST(np AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS beta_raw
          FROM m
        )
      """.trim),
      "X90 Zipf rank-frequency exponent (quantized-log exact fit)")(
      (spark, dir) => {
        import spark.implicits._
        CorpusOps.zipfFit(table(spark, dir, "documents"), "text")
      }),

    // X82: per-doc perplexity under the corpus's own bigram LM — the
    // CCNet-style LM quality signal with the corpus as its own LM.
    // Probabilities are exact integer ratios; per-bigram -log2 values
    // are identical doubles in both engines; only the per-doc SUM
    // order differs (ulp-level), absorbed by round(6).
    QueryDef(
      "q_doc_perplexity",
      Some("""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS ts
          FROM documents
        ), pairs AS (
          SELECT doc_id, ts[i] AS prev, ts[i+1] AS next
          FROM toks, unnest(range(1, len(ts))) AS r(i)
        ), counts AS (
          SELECT prev, next, count(*) AS cnt FROM pairs GROUP BY 1, 2
        ), totals AS (
          SELECT prev, CAST(sum(cnt) AS BIGINT) AS total
          FROM counts GROUP BY prev
        ), nll AS (
          SELECT c.prev, c.next,
                 -- same expression shape as Spark's log(2.0, p) =
                 -- ln(p)/ln(2), so per-bigram doubles match bit-exactly
                 -(ln(CAST(c.cnt AS DOUBLE) / t.total) / ln(2)) AS v
          FROM counts c JOIN totals t USING (prev)
        )
        SELECT p.doc_id, count(*) AS n_bigrams,
               round(sum(n.v) / count(*), 6) AS mean_nll,
               round(pow(2.0, sum(n.v) / count(*)), 6) AS ppl
        FROM pairs p JOIN nll n USING (prev, next)
        GROUP BY p.doc_id
        ORDER BY p.doc_id
      """.trim),
      "X82 per-doc perplexity under the corpus bigram LM")(
      (spark, dir) => {
        import spark.implicits._
        InvertedIndex.docPerplexity(
            table(spark, dir, "documents"), "doc_id", "text")
          .orderBy($"doc_id")
      }),

    // X92: per-doc perplexity under an interpolated KNESER-NEY
    // smoothed bigram LM (Chen & Goodman's fixed-discount form, the
    // KenLM/CCNet scoring model) — absolute discounting plus the
    // continuation-probability backoff, vs q_doc_perplexity's
    // unsmoothed MLE. All counts exact integers; each per-bigram
    // probability is one fixed-shape double expression in both
    // engines; per-doc sum order absorbed by round(6).
    QueryDef(
      "q_kn_perplexity",
      Some("""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS ts
          FROM documents
        ), pairs AS (
          SELECT doc_id, ts[i] AS prev, ts[i+1] AS next
          FROM toks, unnest(range(1, len(ts))) AS r(i)
        ), counts AS (
          SELECT prev, next, count(*) AS cnt FROM pairs GROUP BY 1, 2
        ), ctx AS (
          SELECT prev, CAST(sum(cnt) AS BIGINT) AS ctx,
                 count(*) AS n1fw
          FROM counts GROUP BY prev
        ), bw AS (
          SELECT next, count(*) AS n1bw FROM counts GROUP BY next
        ), bt AS (SELECT count(*) AS btypes FROM counts),
        nll AS (
          SELECT c.prev, c.next,
            -(ln(greatest(CAST(c.cnt AS DOUBLE) - 0.75, 0.0) / t.ctx
                 + (0.75 * t.n1fw / t.ctx)
                   * (CAST(b.n1bw AS DOUBLE) / bt.btypes))
              / ln(2)) AS v
          FROM counts c JOIN ctx t USING (prev) JOIN bw b USING (next), bt
        )
        SELECT p.doc_id, count(*) AS n_bigrams,
               round(sum(n.v) / count(*), 6) AS mean_nll,
               round(pow(2.0, sum(n.v) / count(*)), 6) AS ppl
        FROM pairs p JOIN nll n USING (prev, next)
        GROUP BY p.doc_id
        ORDER BY p.doc_id
      """.trim),
      "X92 per-doc perplexity under an interpolated Kneser-Ney bigram LM")(
      (spark, dir) => {
        import spark.implicits._
        InvertedIndex.knPerplexity(
            table(spark, dir, "documents"), "doc_id", "text")
          .orderBy($"doc_id")
      }),

    // X94: pairwise source-overlap matrix — exact Jaccard of distinct
    // 3-word shingle sets per source pair, the corpus-composition
    // diagnostic before mixing. Spark never self-joins the gram
    // table (per-shingle source SETS pair-explode in the scan); the
    // oracle's self-join is the |sources|-bounded DuckDB shorthand.
    QueryDef(
      "q_source_overlap",
      Some("""
        WITH toks AS (
          SELECT source,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS w
          FROM documents
        ), g AS (
          SELECT DISTINCT source AS s,
                 w[i] || chr(1) || w[i+1] || chr(1) || w[i+2] AS g
          FROM toks, unnest(range(1, len(w) - 1)) AS r(i)
        ), sizes AS (SELECT s, count(*) AS n FROM g GROUP BY s),
        common AS (
          SELECT a.s AS source_a, b.s AS source_b, count(*) AS n_common
          FROM g a JOIN g b ON a.g = b.g AND a.s < b.s
          GROUP BY 1, 2
        )
        SELECT sa.s AS source_a, sb.s AS source_b,
               sa.n AS n_a, sb.n AS n_b,
               CAST(coalesce(c.n_common, 0) AS BIGINT) AS n_common,
               round(CAST(coalesce(c.n_common, 0) AS DOUBLE)
                 / (sa.n + sb.n - coalesce(c.n_common, 0)), 6) AS jaccard
        FROM sizes sa JOIN sizes sb ON sa.s < sb.s
        LEFT JOIN common c ON c.source_a = sa.s AND c.source_b = sb.s
        ORDER BY source_a, source_b
      """.trim),
      "X94 exact pairwise source-overlap (3-shingle Jaccard matrix)")(
      (spark, dir) => {
        import spark.implicits._
        CorpusOps.sourceOverlap(
            table(spark, dir, "documents"), "source", "text", k = 3)
          .orderBy($"source_a", $"source_b")
      }),

    // X98: n-gram novelty curve — for n ≤ 4, the fraction of the
    // holdout slice's (src19) distinct n-grams never seen in the
    // train slice: novelty@n, the generalization-health companion to
    // q_decontaminate. One windowed pass assembles all orders; one
    // (n, gram) presence agg; pure integer counts.
    QueryDef(
      "q_ngram_novelty",
      Some("""
        WITH toks AS (
          SELECT doc_id, source = 'src19' AS hold,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS w
          FROM documents
        ), g AS (
          SELECT 1 AS n, hold, w[i] AS g
          FROM toks, unnest(range(1, len(w) + 1)) AS r(i)
          UNION ALL
          SELECT 2, hold, w[i] || chr(1) || w[i+1]
          FROM toks, unnest(range(1, len(w))) AS r(i)
          UNION ALL
          SELECT 3, hold, w[i] || chr(1) || w[i+1] || chr(1) || w[i+2]
          FROM toks, unnest(range(1, len(w) - 1)) AS r(i)
          UNION ALL
          SELECT 4, hold,
                 w[i] || chr(1) || w[i+1] || chr(1) || w[i+2]
                   || chr(1) || w[i+3]
          FROM toks, unnest(range(1, len(w) - 2)) AS r(i)
        ), f AS (
          SELECT n, g,
                 max(CASE WHEN hold THEN 1 ELSE 0 END) AS inh,
                 max(CASE WHEN NOT hold THEN 1 ELSE 0 END) AS intr
          FROM g GROUP BY 1, 2
        )
        SELECT n, count(*) AS n_holdout_grams,
               CAST(sum(CASE WHEN intr = 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_novel,
               round(CAST(sum(CASE WHEN intr = 0 THEN 1 ELSE 0 END)
                 AS DOUBLE) / count(*), 6) AS novelty_rate
        FROM f WHERE inh = 1
        GROUP BY n ORDER BY n
      """.trim),
      "X98 novelty@n of the src19 holdout vs the train slice")(
      (spark, dir) => {
        import spark.implicits._
        graft.operators.Contamination.ngramNovelty(
            table(spark, dir, "documents"), "doc_id", "text",
            isHoldout = $"source" === "src19", maxN = 4)
          .orderBy($"n")
      }),

    // X66: Okapi BM25 "more like this": top-10 docs for probe doc 0 under
    // the standard lexical relevance function (tf saturation k1=1.2,
    // length normalization b=0.75) over the unigram index — the
    // retrieval-grade twin of q_search_similar's tf-cosine. Every
    // count (N, df, tf, dl) is a 64-bit integer; each (term, doc)
    // contribution evaluates the identical ln/division expression in
    // both engines, and ranking is on the 6-dp-rounded score (ties on
    // doc id) so sum-order ulp drift cannot reorder. No df cap here:
    // this corpus's 31-token vocabulary makes every term ubiquitous,
    // and BM25's idf (not a prune) is the weighting — the operator's
    // dfCap knob stays for real corpora where stopword skipping pays.
    QueryDef(
      "q_bm25",
      Some("""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS ts
          FROM documents
        ), tc AS (
          SELECT doc_id, t AS term, count(*) AS tf
          FROM (SELECT doc_id, unnest(ts) AS t FROM toks)
          GROUP BY 1, 2
        ), dfv AS (
          SELECT term, count(*) AS df FROM tc GROUP BY term
        ), dl AS (
          SELECT doc_id, sum(tf) AS dl FROM tc GROUP BY doc_id
        ), consts AS (
          SELECT count(*) AS n_docs, sum(dl) AS tot FROM dl
        ), probe AS (
          SELECT tc.term, dfv.df FROM tc JOIN dfv USING (term)
          WHERE tc.doc_id = 0
        ), scored AS (
          SELECT tc.doc_id,
                 sum(ln(1.0 + (c.n_docs - p.df + 0.5) / (p.df + 0.5)) *
                     (tc.tf * 2.2 /
                      (tc.tf + 1.2 * (0.25 +
                        0.75 * dl.dl * c.n_docs / c.tot)))) AS s
          FROM tc
          JOIN probe p USING (term)
          JOIN dl USING (doc_id)
          CROSS JOIN consts c
          WHERE tc.doc_id <> 0
          GROUP BY tc.doc_id
        )
        SELECT doc_id, round(s, 6) AS score
        FROM scored
        ORDER BY score DESC, doc_id
        LIMIT 10
      """.trim),
      "top-10 docs for probe 0 by Okapi BM25 over the unigram index")(
      (spark, dir) => {
        import spark.implicits._
        val tc = InvertedIndex.termCounts(
          table(spark, dir, "documents"), "doc_id", "text", n = 1)
        InvertedIndex.bm25Rank(tc, "doc_id", probeId = 0L, k = 10,
            k1 = 1.2, b = 0.75, dfCap = Int.MaxValue)
          .orderBy($"score".desc, $"doc_id")
      }),

    // X139: windowed PMI pairs — ±3 skip-gram co-occurrence with
    // nano-quantized logs (the quantizedLogFit convention), top-50 by
    // association. Hash-exact: counts are ints, PMI ordering and
    // round(6) values replay from the same quantized integers.
    QueryDef(
      "q_pmi_pairs",
      Some("""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             t -> t <> '') AS w
          FROM documents
        ), pairs AS (
          SELECT w[i] AS "left", w[i+d] AS "right"
          FROM toks, unnest([1,2,3]) AS dd(d),
               unnest(range(1, len(w) + 1)) AS r(i)
          WHERE i + d <= len(w)
        ), pc AS (
          SELECT "left", "right", CAST(count(*) AS BIGINT) AS n_pair
          FROM pairs GROUP BY 1, 2
        ), cl AS (
          SELECT "left", CAST(sum(n_pair) AS BIGINT) AS c FROM pc GROUP BY 1
        ), cr AS (
          SELECT "right", CAST(sum(n_pair) AS BIGINT) AS c FROM pc GROUP BY 1
        ), tot AS (SELECT CAST(sum(n_pair) AS BIGINT) AS n FROM pc),
        scored AS (
          SELECT pc."left", pc."right", pc.n_pair,
                 CAST(round(ln(CAST(pc.n_pair AS DOUBLE)) * 1e9) AS BIGINT)
                 + CAST(round(ln(CAST(tot.n AS DOUBLE)) * 1e9) AS BIGINT)
                 - CAST(round(ln(CAST(cl.c AS DOUBLE)) * 1e9) AS BIGINT)
                 - CAST(round(ln(CAST(cr.c AS DOUBLE)) * 1e9) AS BIGINT)
                   AS pmi_nano
          FROM pc
          JOIN cl USING ("left") JOIN cr USING ("right") CROSS JOIN tot
          WHERE pc.n_pair >= 5
        )
        SELECT "left", "right", n_pair,
               round(pmi_nano / 1e9, 6) AS pmi
        FROM scored
        ORDER BY pmi_nano DESC, "left", "right"
        LIMIT 50
      """.trim),
      "X139 windowed PMI co-occurrence, top-50 pairs (support >= 5)")(
      (spark, dir) => {
        import spark.implicits._
        InvertedIndex.windowedPmi(table(spark, dir, "documents"),
          "doc_id", "text", window = 3, minCount = 5, k = 50)
      }),

    // X140: Stupid Backoff scoring — LM counts from the md5-selected
    // half, every doc scored with the bigram->unigram->OOV ladder.
    // Fixed-shape double logs per position, round(6) per doc.
    QueryDef(
      "q_stupid_backoff",
      Some("""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             t -> t <> '') AS w
          FROM documents
        ), pos AS (
          SELECT doc_id, i - 1 AS p, w[i] AS t, len(w) AS n
          FROM toks, unnest(range(1, len(w) + 1)) AS r(i)
        ), tr AS (
          SELECT * FROM pos
          WHERE CAST(('0x' || substr(md5('sb' || CAST(doc_id AS VARCHAR)),
                1, 8)) AS BIGINT) < 2147483648
        ), bc AS (
          SELECT a.t AS prev, b.t AS next, CAST(count(*) AS BIGINT) AS c
          FROM tr a JOIN tr b
            ON a.doc_id = b.doc_id AND b.p = a.p + 1
          GROUP BY 1, 2
        ), uc AS (
          SELECT t, CAST(count(*) AS BIGINT) AS c FROM tr GROUP BY 1
        ), ntr AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tr),
        rest AS (
          SELECT a.doc_id,
                 CASE WHEN bc.c IS NOT NULL
                      THEN ln(CAST(bc.c AS DOUBLE))
                           - ln(CAST(up.c AS DOUBLE))
                      WHEN un.c IS NOT NULL
                      THEN ln(0.4) + ln(CAST(un.c AS DOUBLE))
                           - ln(CAST(ntr.n AS DOUBLE))
                      ELSE 2.0 * ln(0.4) - ln(CAST(ntr.n AS DOUBLE))
                 END AS lp,
                 CASE WHEN bc.c IS NULL THEN 1 ELSE 0 END AS back,
                 CASE WHEN un.c IS NULL THEN 1 ELSE 0 END AS oov
          FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
          LEFT JOIN bc ON bc.prev = a.t AND bc.next = b.t
          LEFT JOIN uc up ON up.t = a.t
          LEFT JOIN uc un ON un.t = b.t
          CROSS JOIN ntr
        ), first AS (
          SELECT pos.doc_id,
                 CASE WHEN uc.c IS NOT NULL
                      THEN ln(CAST(uc.c AS DOUBLE))
                           - ln(CAST(ntr.n AS DOUBLE))
                      ELSE ln(0.4) - ln(CAST(ntr.n AS DOUBLE))
                 END AS lp,
                 0 AS back,
                 CASE WHEN uc.c IS NULL THEN 1 ELSE 0 END AS oov
          FROM pos LEFT JOIN uc ON uc.t = pos.t CROSS JOIN ntr
          WHERE pos.p = 0
        ), allp AS (
          SELECT * FROM rest UNION ALL SELECT * FROM first
        ), agg AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                 CAST(sum(back) AS BIGINT) AS n_backoff,
                 CAST(sum(oov) AS BIGINT) AS n_oov,
                 round(sum(lp), 6) AS sb_logprob
          FROM allp GROUP BY doc_id
        )
        SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
               coalesce(a.n_backoff, 0) AS n_backoff,
               coalesce(a.n_oov, 0) AS n_oov,
               coalesce(a.sb_logprob, 0.0) AS sb_logprob
        FROM documents d LEFT JOIN agg a USING (doc_id)
        ORDER BY d.doc_id
      """.trim),
      "X140 Stupid Backoff doc scoring (fit on md5 half, score all)")(
      (spark, dir) => {
        import spark.implicits._
        InvertedIndex.stupidBackoff(table(spark, dir, "documents"),
            "doc_id", "text", alpha = 0.4, salt = "sb")
          .orderBy($"doc_id")
      }),
  )
}
