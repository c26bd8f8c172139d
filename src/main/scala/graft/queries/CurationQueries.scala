package graft.queries

import org.apache.spark.sql.functions._

import graft.Materialize
import graft.operators.{Cms, CorpusOps, PageRank, Privacy}
import QueryDef.table

/** Corpus-curation wave (SURVEY §2.10 X101–X105): graph-prior
  * ranking, privacy profiling, MLM masking prep, CMS frequency
  * estimation, and the reproducible release manifest. Every query
  * follows the repo determinism contract — integer or md5-derived
  * arithmetic only on the hashed path, so the DuckDB oracle replays
  * the exact computation.
  */
object CurationQueries {

  /** PageRank iterations — few enough to keep the bench query lean,
    * enough that ranks order by connectivity, not initialization.
    */
  private val PrIters = 10

  private val AnonK = 5

  val ManifestBudget = 300L  // shared with the sharded-writer E2E spec

  /** Unrolled integer-PageRank oracle: pr0..prN CTE chain, one per
    * iteration — DuckDB recursive CTEs disallow the aggregate in the
    * recursive term, so the fixed iteration count is spelled out.
    */
  private def pagerankSql(iters: Int): String = {
    val head = s"""
      WITH e0 AS (
        SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      ), edges AS (
        SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
      ), deg AS (
        SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
        FROM edges GROUP BY 1
      ), nodes AS (
        SELECT DISTINCT src AS node FROM edges
      ), params AS (
        SELECT CAST(count(*) AS BIGINT) AS n FROM nodes
      ), pr0 AS (
        SELECT node,
               CAST(1000000000 // (SELECT n FROM params) AS BIGINT) AS r
        FROM nodes
      )"""
    val steps = (1 to iters).map { i =>
      s""", pr$i AS (
        SELECT n.node,
          CAST((SELECT CAST(3000000000 AS BIGINT) // (20 * n) FROM params)
            + ((17 * coalesce(c.s, 0)) // 20) AS BIGINT) AS r
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS node, sum(p.r // d.deg) AS s
          FROM pr${i - 1} p
          JOIN edges e ON e.src = p.node
          JOIN deg d ON d.node = p.node
          GROUP BY e.dst) c ON n.node = c.node
      )"""
    }.mkString
    val tail = s"""
      SELECT node, r AS "rank" FROM pr$iters
      ORDER BY "rank" DESC, node"""
    (head + steps + tail).trim
  }


  /** Unrolled label-propagation oracle (X143): lp0..lpN CTE chain —
    * same reason as [[pagerankSql]], the vote argmax can't live in a
    * recursive term. Tie-break: count desc, then smallest label.
    */
  private def labelPropSql(iters: Int): String = {
    val tail = s"""
      SELECT node, lab AS label FROM lp$iters
      ORDER BY node"""
    (labelPropChain(iters) + tail).trim
  }

  /** The label-prop WITH-chain without a final SELECT, so other
    * oracles (q_modularity) can append their own readout CTEs.
    */
  private def labelPropChain(iters: Int): String = {
    val head = s"""
      WITH e0 AS (
        SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      ), edges AS (
        SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
      ), nodes AS (
        SELECT DISTINCT src AS node FROM edges
      ), seeds AS (
        SELECT DISTINCT src AS node,
               CAST(CAST(substr(src, 2) AS BIGINT) % 4 AS BIGINT) AS seed
        FROM e0
        WHERE CAST(substr(src, 2) AS BIGINT) % 7 = 0
      ), lp0 AS (
        SELECT n.node, s.seed AS lab
        FROM nodes n LEFT JOIN seeds s USING (node)
      )"""
    val steps = (1 to iters).map { i =>
      s""", lp$i AS (
        SELECT n.node, coalesce(s.seed, v.vl) AS lab
        FROM nodes n
        LEFT JOIN seeds s USING (node)
        LEFT JOIN (
          SELECT node, vl FROM (
            SELECT e.dst AS node, p.lab AS vl, count(*) AS c,
                   row_number() OVER (PARTITION BY e.dst
                     ORDER BY count(*) DESC, p.lab) AS rk
            FROM lp${i - 1} p JOIN edges e ON e.src = p.node
            WHERE p.lab IS NOT NULL
            GROUP BY e.dst, p.lab)
          WHERE rk = 1) v USING (node)
      )"""
    }.mkString
    head + steps
  }

  def defs: Seq[QueryDef] = Seq(

    // X101: integer PageRank over the customer↔supplier graph
    // (orders⋈lineitem distinct pairs, symmetrized) — the web-graph
    // curation prior, with damping 17/20 and ranks on the 1e9 grid so
    // both engines iterate in exact integer arithmetic.
    QueryDef(
      "q_pagerank",
      Some(pagerankSql(PrIters)),
      "X101 deterministic integer PageRank, 10 iterations")(
      (spark, dir) => {
        import spark.implicits._
        val o = table(spark, dir, "orders")
          .select($"o_orderkey", $"o_custkey")
        val l = table(spark, dir, "lineitem")
          .select($"l_orderkey", $"l_suppkey")
        // iterate on packed LONG node ids (customer 2k, supplier
        // 2k+1) — long hash joins beat string joins in the 10× hot
        // loop; the rank result is isomorphic, so mapping back to the
        // oracle's 'c…'/'s…' labels at the end is a pure projection
        val e = o.join(l, $"o_orderkey" === $"l_orderkey")
          .select(($"o_custkey" * 2).as("src"),
            ($"l_suppkey" * 2 + 1).as("dst"))
          .distinct()
        val sym = e.union(e.select($"dst".as("src"), $"src".as("dst")))
        PageRank.run(sym, "src", "dst", iters = PrIters, symmetric = true)
          .select(
            when($"node" % 2 === 0, concat(lit("c"), expr("node div 2")))
              .otherwise(concat(lit("s"), expr("(node - 1) div 2")))
              .as("node"),
            $"rank")
          .orderBy($"rank".desc, $"node")
      }),

    // X102: k-anonymity generalization ladder over the documents'
    // quasi-identifiers (lang, source, 100-char length band) — each
    // doc settles at the first QI level whose anonymity set reaches
    // k=5; the catch-all level reports sub-k sizes for suppression.
    QueryDef(
      "q_k_anonymity",
      Some(s"""
        WITH d AS (
          SELECT doc_id, lang, source, n_chars // 100 AS band
          FROM documents
        ), c AS (
          SELECT doc_id,
                 count(*) OVER (PARTITION BY lang, source, band) AS k0,
                 count(*) OVER (PARTITION BY lang, source) AS k1,
                 count(*) OVER (PARTITION BY lang) AS k2
          FROM d
        )
        SELECT doc_id,
               CAST(CASE WHEN k0 >= $AnonK THEN 0
                         WHEN k1 >= $AnonK THEN 1
                         ELSE 2 END AS INTEGER) AS level,
               CAST(CASE WHEN k0 >= $AnonK THEN k0
                         WHEN k1 >= $AnonK THEN k1
                         ELSE k2 END AS BIGINT) AS k
        FROM c
        ORDER BY doc_id
      """.trim),
      "X102 k-anonymity ladder: (lang,source,band) -> (lang,source) -> (lang)")(
      (spark, dir) => {
        import spark.implicits._
        Privacy.anonymityLadder(
            table(spark, dir, "documents"),
            keyCols = Seq("doc_id"),
            levels = Seq(
              Seq($"lang", $"source", expr("n_chars div 100")),
              Seq($"lang", $"source"),
              Seq($"lang")),
            k = AnonK)
          .orderBy($"doc_id")
      }),

    // X114: l-diversity profile — the homogeneity-attack companion to
    // X102: per (lang, source) class, how many distinct length bands
    // the class's docs take, plus entropy-l from exact integer
    // nano-log sums.
    QueryDef(
      "q_l_diversity",
      Some("""
        WITH d AS (
          SELECT lang, source, n_chars // 100 AS band FROM documents
        ), cv AS (
          SELECT lang, source, band, CAST(count(*) AS BIGINT) AS c
          FROM d GROUP BY 1, 2, 3
        ), cls AS (
          SELECT lang, source, CAST(sum(c) AS BIGINT) AS n_rows,
                 CAST(count(*) AS BIGINT) AS distinct_l,
                 CAST(sum(c * CAST(round(ln(c) * 1e9, 0) AS BIGINT))
                      AS BIGINT) AS slc
          FROM cv GROUP BY 1, 2
        )
        SELECT lang, source, n_rows, distinct_l,
               round(exp(CAST(round(ln(n_rows) * 1e9, 0) AS BIGINT) / 1e9
                         - CAST(slc AS DOUBLE) / (n_rows * 1e9)), 6)
                 AS entropy_l,
               distinct_l >= 3 AS meets_l
        FROM cls
        ORDER BY lang, source
      """.trim),
      "X114 l-diversity profile per (lang, source) class, l=3")(
      (spark, dir) => {
        import spark.implicits._
        Privacy.lDiversity(table(spark, dir, "documents"),
            qiCols = Seq("lang", "source"),
            sensitive = expr("n_chars div 100"), l = 3L)
          .orderBy($"lang", $"source")
      }),

    // X103: deterministic whole-word MLM masking — BERT's 15% /
    // 80-10-10 policy with every choice drawn from md5(doc‖pos‖word),
    // replacement words from a 64-bucket vocabulary fold. The oracle
    // replays the full hash math, so any drift in selection, action
    // split, or bucket pick breaks the reassembled strings.
    QueryDef(
      "q_mlm_mask",
      Some(s"""
        WITH toks0 AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\\s+'),
                   t -> t <> '') AS w
          FROM documents
        ), tok AS (
          SELECT doc_id, i - 1 AS pos, w[i] AS t
          FROM toks0, unnest(range(1, len(w) + 1)) AS u(i)
        ), hh AS (
          SELECT doc_id, pos, t,
                 ('0x' || substr(dig, 1, 8))::BIGINT AS h1,
                 ('0x' || substr(dig, 9, 8))::BIGINT AS h2,
                 ('0x' || substr(dig, 17, 8))::BIGINT AS h3
          FROM (SELECT *,
                  md5('mlm:' || doc_id || '#' || pos || '#' || t) AS dig
                FROM tok)
        ), vrep AS (
          SELECT ('0x' || substr(md5('mlm-v:' || w), 1, 8))::BIGINT % 64
                   AS bkt,
                 substr(min(md5('mlm-v:' || w) || ':' || w), 34) AS rep
          FROM (SELECT DISTINCT t AS w FROM tok) GROUP BY 1
        ), dec AS (
          SELECT hh.doc_id, hh.pos, hh.t,
                 hh.h1 % 100 < 15 AS sel, hh.h2 % 10 AS act, v.rep
          FROM hh LEFT JOIN vrep v ON v.bkt = hh.h3 % 64
        ), agg AS (
          SELECT doc_id, count(*) AS n_tokens,
                 CAST(sum(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_masked,
                 string_agg(CASE WHEN NOT sel THEN t
                                 WHEN act < 8 THEN '[MASK]'
                                 WHEN act = 8 THEN coalesce(rep, t)
                                 ELSE t END, ' ' ORDER BY pos)
                   AS masked_text,
                 string_agg(CASE WHEN sel THEN pos || ':' || t END,
                   ' ' ORDER BY pos) AS targets
          FROM dec GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(a.n_tokens, 0) AS n_tokens,
               coalesce(a.n_masked, 0) AS n_masked,
               coalesce(a.masked_text, '') AS masked_text,
               coalesce(a.targets, '') AS targets
        FROM (SELECT DISTINCT doc_id FROM documents) d
        LEFT JOIN agg a USING (doc_id)
        ORDER BY d.doc_id
      """.trim),
      "X103 deterministic BERT whole-word masking (15%, 80/10/10)")(
      (spark, dir) => {
        import spark.implicits._
        CorpusOps.mlmMask(table(spark, dir, "documents"), "doc_id", "text")
          .orderBy($"doc_id")
      }),

    // X104: Count-Min Sketch frequency estimates for the 20 heaviest
    // users vs their exact counts — 4×64 grid forces collisions at
    // 150 keys, so the overestimate column exercises the min-over-
    // rows bound. Deterministic hashes make the sketch itself
    // oracle-replayable, unusual for a sketch.
    QueryDef(
      "q_cms_counts",
      Some("""
        WITH keys AS (
          SELECT user_id, CAST(user_id AS VARCHAR) AS k,
                 count(*) AS exact_cnt
          FROM events GROUP BY 1, 2
        ), cells AS (
          SELECT j,
                 ('0x' || substr(md5('cms' || j || ':'
                    || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 64
                   AS bucket,
                 count(*) AS cnt
          FROM events, unnest([0, 1, 2, 3]) AS u(j)
          GROUP BY 1, 2
        ), probes AS (
          SELECT keys.user_id, keys.exact_cnt, u.j AS j,
                 ('0x' || substr(md5('cms' || u.j || ':'
                    || keys.k), 1, 8))::BIGINT % 64 AS bucket
          FROM keys, unnest([0, 1, 2, 3]) AS u(j)
        ), est AS (
          SELECT p.user_id, p.exact_cnt,
                 min(coalesce(c.cnt, 0)) AS cms_est
          FROM probes p
          LEFT JOIN cells c ON c.j = p.j AND c.bucket = p.bucket
          GROUP BY 1, 2
        )
        SELECT user_id, exact_cnt, cms_est,
               cms_est - exact_cnt AS overestimate
        FROM est
        ORDER BY exact_cnt DESC, user_id
        LIMIT 20
      """.trim),
      "X104 Count-Min Sketch estimates vs exact for the top-20 users")(
      (spark, dir) => {
        import spark.implicits._
        val ev = QueryDef.events(spark, dir)
        val sk = Cms.sketch(ev, "user_id")
        val top = ev.groupBy($"user_id")
          .agg(count(lit(1)).as("exact_cnt"))
          .orderBy($"exact_cnt".desc, $"user_id")
          .limit(20)
        Cms.estimate(sk, top.select($"user_id"), "user_id")
          .join(broadcast(top), Seq("user_id"))
          .select($"user_id", $"exact_cnt", $"cms_est",
            ($"cms_est" - $"exact_cnt").as("overestimate"))
          .orderBy($"exact_cnt".desc, $"user_id")
      }),

    // X105: reproducible release manifest — per-source token-budget
    // shards with counts, id ranges, and the order-independent
    // md5-sum checksum a consumer re-derives in one SQL query.
    QueryDef(
      "q_export_manifest",
      Some(s"""
        WITH counted AS (
          SELECT source, doc_id,
                 len(list_filter(string_split_regex(lower(text), '\\s+'),
                   t -> t <> '')) AS nt,
                 ('0x' || substr(md5(text), 1, 8))::BIGINT AS h
          FROM documents
        ), sh AS (
          SELECT source, doc_id, nt, h,
                 CAST(coalesce(sum(nt) OVER (PARTITION BY source
                   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) // $ManifestBudget AS BIGINT)
                   AS shard_id
          FROM counted
        )
        SELECT source, shard_id,
               count(*) AS n_docs,
               CAST(sum(nt) AS BIGINT) AS n_tokens,
               min(doc_id) AS first_id,
               max(doc_id) AS last_id,
               CAST(sum(h) AS BIGINT) AS checksum
        FROM sh
        GROUP BY 1, 2
        ORDER BY source, shard_id
      """.trim),
      "X105 reproducible shard manifest with order-independent checksums")(
      (spark, dir) => {
        import spark.implicits._
        CorpusOps.exportManifest(table(spark, dir, "documents"),
            "source", "doc_id", "text", ManifestBudget)
          .orderBy($"source", $"shard_id")
      }),

    // X142: blocklist phrase filter — phrases ship as plan literals,
    // the n-gram membership test is a pure array expression in the
    // scan; counts all occurrences, density-gated keep. Hash-exact.
    QueryDef(
      "q_blocklist_filter",
      Some("""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             t -> t <> '') AS w
          FROM documents
        ), m AS (
          SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
                 CAST(
                   len(list_filter(w, t -> t = 'spark')) +
                   len(list_filter(
                     [w[i] || ' ' || w[i+1] for i in range(1, len(w))],
                     g -> g IN ('hash join', 'order sort'))) +
                   len(list_filter(
                     [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                      for i in range(1, len(w) - 1)],
                     g -> g = 'table scan merge'))
                 AS BIGINT) AS n_matches
          FROM toks
        )
        SELECT doc_id, n_tokens, n_matches,
               round(CASE WHEN n_tokens = 0 THEN 0.0
                     ELSE CAST(n_matches AS DOUBLE) / n_tokens END, 6)
                 AS match_ratio,
               (CASE WHEN n_tokens = 0 THEN 0.0
                     ELSE CAST(n_matches AS DOUBLE) / n_tokens END)
                 <= 0.05 AS keep
        FROM m
        ORDER BY doc_id
      """.trim),
      "X142 blocklist phrase filter (1-3 token phrases, density gate)")(
      (spark, dir) => {
        import spark.implicits._
        CorpusOps.blocklistFilter(table(spark, dir, "documents"),
            "doc_id", "text",
            phrases = Seq("spark", "hash join", "order sort",
              "table scan merge"),
            maxRatio = 0.05)
          .orderBy($"doc_id")
      }),

    // X143: label propagation over the same customer-supplier graph
    // as q_pagerank — custkey%7 seeds carry custkey%4 labels, 5
    // synchronous majority-vote iterations with smallest-label ties,
    // replayed verbatim by the unrolled CTE chain. Hash-exact.
    QueryDef(
      "q_label_prop",
      Some(labelPropSql(5)),
      "X143 semi-supervised label propagation, 5 iterations")(
      (spark, dir) => {
        import spark.implicits._
        val o = table(spark, dir, "orders")
          .select($"o_orderkey", $"o_custkey")
        val l = table(spark, dir, "lineitem")
          .select($"l_orderkey", $"l_suppkey")
        val e = o.join(l, $"o_orderkey" === $"l_orderkey")
          .select(($"o_custkey" * 2).as("src"),
            ($"l_suppkey" * 2 + 1).as("dst"))
          .distinct()
          .transform(Materialize.cut) // sym + seeds reuse one edge build
        val sym = e.union(e.select($"dst".as("src"), $"src".as("dst")))
        val seeds = e.select($"src".as("node")).distinct()
          .filter(expr("(node div 2) % 7") === 0)
          .select($"node", (expr("node div 2") % 4).as("seed"))
        graft.operators.PageRank.labelPropagation(sym, "src", "dst",
            seeds, "node", "seed", iters = 5)
          .select(
            when($"node" % 2 === 0, concat(lit("c"), expr("node div 2")))
              .otherwise(concat(lit("s"), expr("(node - 1) div 2")))
              .as("node"),
            $"label")
          .orderBy($"node")
      }),

    // X392: Newman modularity of the q_label_prop communities on the
    // same customer-supplier graph — the acceptance gate on the
    // clustering; Q·4m² is an exact integer (unlabeled nodes become
    // singleton communities), the oracle appends the modularity
    // readout CTEs to the identical unrolled label-prop chain.
    QueryDef(
      "q_modularity",
      Some((labelPropChain(5) + s"""
        , comm AS (
          SELECT node, coalesce(CAST(lab AS VARCHAR), 'u' || node)
            AS c
          FROM lp5
        ), m AS (
          SELECT CAST(count(*) AS BIGINT) AS m FROM e0
        ), intra AS (
          SELECT ca.c, CAST(count(*) AS BIGINT) AS e_c
          FROM e0
          JOIN comm ca ON ca.node = e0.src
          JOIN comm cb ON cb.node = e0.dst
          WHERE ca.c = cb.c
          GROUP BY 1
        ), dmass AS (
          SELECT comm.c, CAST(count(*) AS BIGINT) AS d_c
          FROM edges JOIN comm ON comm.node = edges.src
          GROUP BY 1
        ), per AS (
          SELECT d.c, 4 * m.m * coalesce(i.e_c, 0) - d.d_c * d.d_c
            AS q
          FROM dmass d LEFT JOIN intra i ON i.c = d.c, m
        )
        SELECT CAST(count(*) AS BIGINT) AS n_communities,
               m.m AS n_edges,
               CAST(sum(q) AS BIGINT) AS q_num,
               round(CAST(sum(q) AS DOUBLE)
                 / (4.0 * m.m * m.m), 6) AS modularity
        FROM per, m GROUP BY m.m
      """).trim),
      "X392 modularity of the 5-iteration label-prop communities")(
      (spark, dir) => {
        import spark.implicits._
        val o = table(spark, dir, "orders")
          .select($"o_orderkey", $"o_custkey")
        val l = table(spark, dir, "lineitem")
          .select($"l_orderkey", $"l_suppkey")
        // checkpoint the distinct edge list ONCE: sym, seeds and the
        // modularity readout all reuse it (the q_release_dag stage-
        // boundary lesson — without this the orders ⋈ lineitem
        // distinct join re-executed for every downstream reference)
        val e = o.join(l, $"o_orderkey" === $"l_orderkey")
          .select(($"o_custkey" * 2).as("src"),
            ($"l_suppkey" * 2 + 1).as("dst"))
          .distinct()
          .transform(Materialize.cut)
        val sym = e.union(e.select($"dst".as("src"), $"src".as("dst")))
        val seeds = e.select($"src".as("node")).distinct()
          .filter(expr("(node div 2) % 7") === 0)
          .select($"node", (expr("node div 2") % 4).as("seed"))
        val labels = graft.operators.PageRank.labelPropagation(
          sym, "src", "dst", seeds, "node", "seed", iters = 5)
        // e is the checkpointed distinct (even custnode, odd suppnode)
        // pair list — parity makes (src,dst)/(dst,src) collisions
        // impossible, so it is already a canonical undirected pair set
        // and the operator's re-canonicalization shuffle is skipped
        graft.operators.GraphStats.modularity(e, "src", "dst",
          labels, "node", "label", edgesCanonical = true)
      }),

    // X146: readability metrics — vowel-group syllables, punctuation
    // sentences, Flesch + FK grade; exact int inputs, fixed-shape
    // double formulas, hash-exact at 6 dp.
    QueryDef(
      "q_readability",
      Some("""
        WITH toks AS (
          SELECT doc_id, text,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             t -> t <> '') AS w
          FROM documents
        ), m AS (
          SELECT doc_id,
                 CAST(len(w) AS BIGINT) AS n_words,
                 CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                   AS BIGINT) AS n_sentences,
                 CAST(coalesce(list_sum(
                   [greatest(1, len(regexp_extract_all(t, '[aeiouy]+')))
                    for t in w]), 0) AS BIGINT) AS n_syllables
          FROM toks
        )
        SELECT doc_id, n_words, n_sentences, n_syllables,
               round(206.835
                 - 1.015 * (CAST(n_words AS DOUBLE)
                            / CAST(n_sentences AS DOUBLE))
                 - 84.6 * (CASE WHEN n_words > 0
                           THEN CAST(n_syllables AS DOUBLE)
                                / CAST(n_words AS DOUBLE)
                           ELSE 0.0 END), 6) AS flesch,
               round(0.39 * (CAST(n_words AS DOUBLE)
                             / CAST(n_sentences AS DOUBLE))
                 + 11.8 * (CASE WHEN n_words > 0
                           THEN CAST(n_syllables AS DOUBLE)
                                / CAST(n_words AS DOUBLE)
                           ELSE 0.0 END)
                 - 15.59, 6) AS fk_grade
        FROM m
        ORDER BY doc_id
      """.trim),
      "X146 Flesch / Flesch-Kincaid readability metrics per doc")(
      (spark, dir) => {
        import spark.implicits._
        CorpusOps.readability(table(spark, dir, "documents"),
            "doc_id", "text")
          .orderBy($"doc_id")
      }),

    // X147: exact ROC-AUC (Mann-Whitney with half-credit ties) of the
    // doc-length score separating lang='en' — the operator contract;
    // U2 doubling keeps the tie credit integral, one exact rational.
    QueryDef(
      "q_roc_auc",
      Some("""
        WITH ps AS (
          SELECT n_chars AS s,
                 CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                   AS BIGINT) AS c1,
                 CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)
                   AS BIGINT) AS c0
          FROM documents GROUP BY 1
        ), cum AS (
          SELECT s, c1, c0,
                 coalesce(sum(c0) OVER (ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum0
          FROM ps
        ), agg AS (
          SELECT CAST(sum(c1) AS BIGINT) AS n_pos,
                 CAST(sum(c0) AS BIGINT) AS n_neg,
                 CAST(sum(c1 * (2 * cum0 + c0)) AS BIGINT) AS u2
          FROM cum
        )
        SELECT n_pos, n_neg,
               CASE WHEN n_pos > 0 AND n_neg > 0 THEN
                 round(CAST(u2 AS DOUBLE) / (2.0 * n_pos * n_neg), 6)
               END AS auc
        FROM agg
      """.trim),
      "X147 exact ROC-AUC (rank identity, tie-aware) of length vs en")(
      (spark, dir) => {
        import spark.implicits._
        graft.operators.RankEval.rocAuc(
          table(spark, dir, "documents")
            .select($"n_chars", ($"lang" === "en").as("is_en")),
          "n_chars", "is_en")
      }),

    // X148: Cohen's kappa between two deterministic raters on a
    // shared 3-label space — exact contingency counts, fixed-shape
    // double formula.
    QueryDef(
      "q_cohens_kappa",
      Some("""
        WITH r AS (
          SELECT CAST(n_chars % 3 AS VARCHAR) AS a,
                 CAST((n_chars + doc_id) % 3 AS VARCHAR) AS b
          FROM documents
        ), cells AS (
          SELECT a, b, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY 1, 2
        ), tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
        ag AS (
          SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS agree
          FROM cells WHERE a = b
        ), ma AS (SELECT a, CAST(sum(c) AS BIGINT) AS ca FROM cells GROUP BY 1),
        mb AS (SELECT b, CAST(sum(c) AS BIGINT) AS cb FROM cells GROUP BY 1),
        ch AS (
          SELECT CAST(coalesce(sum(ca * cb), 0) AS BIGINT) AS e
          FROM ma JOIN mb ON ma.a = mb.b
        )
        SELECT t.n AS n_items,
               round(CAST(ag.agree AS DOUBLE) / t.n, 6)
                 AS observed_agreement,
               round(CAST(ch.e AS DOUBLE) / (t.n * t.n), 6)
                 AS expected_agreement,
               CASE WHEN CAST(ch.e AS DOUBLE) / (t.n * t.n) < 1.0 THEN
                 round((CAST(ag.agree AS DOUBLE) / t.n
                        - CAST(ch.e AS DOUBLE) / (t.n * t.n))
                       / (1.0 - CAST(ch.e AS DOUBLE) / (t.n * t.n)), 6)
               END AS kappa
        FROM tot t, ag, ch
      """.trim),
      "X148 Cohen's kappa between two deterministic raters")(
      (spark, dir) => {
        import spark.implicits._
        graft.operators.RankEval.cohensKappa(
          table(spark, dir, "documents")
            .select(($"n_chars" % 3).as("ra"),
              (($"n_chars" + $"doc_id") % 3).as("rb")),
          "ra", "rb")
      }),

    // X149a: Welch's t-test on doc length between lang='en' and the
    // rest — exact decimal Σx/Σx² sums, fixed-shape t/dof formula.
    QueryDef(
      "q_welch_ttest",
      Some("""
        WITH q AS (
          SELECT lang, CAST(round(n_chars * 1e6) AS HUGEINT) AS v
          FROM documents
        ), s AS (
          SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                 CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                 CAST(sum(CASE WHEN lang = 'en' THEN v ELSE 0 END) AS HUGEINT) AS sa,
                 CAST(sum(CASE WHEN lang <> 'en' THEN v ELSE 0 END) AS HUGEINT) AS sb,
                 CAST(sum(CASE WHEN lang = 'en' THEN v * v ELSE 0 END) AS HUGEINT) AS ssa,
                 CAST(sum(CASE WHEN lang <> 'en' THEN v * v ELSE 0 END) AS HUGEINT) AS ssb
          FROM q
        ), f AS (
          SELECT n_a, n_b,
                 CAST(sa AS DOUBLE) / n_a AS ma,
                 CAST(sb AS DOUBLE) / n_b AS mb,
                 (CAST(ssa AS DOUBLE) - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) / n_a) / (n_a - 1) / n_a AS sea,
                 (CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) / n_b) / (n_b - 1) / n_b AS seb
          FROM s
        )
        SELECT n_a, n_b,
               round(ma / 1e6, 6) AS mean_a, round(mb / 1e6, 6) AS mean_b,
               CASE WHEN n_a > 1 AND n_b > 1 AND sea + seb > 0.0 THEN
                 round((ma - mb) / sqrt(sea + seb), 6) END AS t_stat,
               CASE WHEN n_a > 1 AND n_b > 1 AND sea + seb > 0.0 THEN
                 round((sea + seb) * (sea + seb)
                       / (sea * sea / (n_a - 1) + seb * seb / (n_b - 1)), 6)
               END AS dof
        FROM f
      """.trim),
      "X149a Welch t-test of doc length, lang=en vs rest")(
      (spark, dir) => {
        import spark.implicits._
        graft.operators.Hypothesis.welchTTest(
          table(spark, dir, "documents"), "n_chars", $"lang" === "en")
      }),

    // X149b: two-proportion z-test of the long-doc rate (n_chars >
    // 500) between lang='en' and the rest — pooled standard error.
    QueryDef(
      "q_two_prop_z",
      Some("""
        WITH s AS (
          SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                 CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                 CAST(sum(CASE WHEN lang = 'en' AND n_chars > 500 THEN 1 ELSE 0 END) AS BIGINT) AS x_a,
                 CAST(sum(CASE WHEN lang <> 'en' AND n_chars > 500 THEN 1 ELSE 0 END) AS BIGINT) AS x_b
          FROM documents
        ), f AS (
          SELECT n_a, n_b, x_a, x_b,
                 CAST(x_a AS DOUBLE) / n_a AS pa,
                 CAST(x_b AS DOUBLE) / n_b AS pb,
                 CAST(x_a + x_b AS DOUBLE) / (n_a + n_b) AS pp
          FROM s
        )
        SELECT n_a, n_b,
               CASE WHEN n_a > 0 THEN round(pa, 6) END AS rate_a,
               CASE WHEN n_b > 0 THEN round(pb, 6) END AS rate_b,
               CASE WHEN n_a > 0 AND n_b > 0 AND pp > 0.0 AND pp < 1.0 THEN
                 round((pa - pb) / sqrt(pp * (1.0 - pp) * (1.0 / n_a + 1.0 / n_b)), 6)
               END AS z_stat
        FROM f
      """.trim),
      "X149b two-proportion z-test of long-doc rate, lang=en vs rest")(
      (spark, dir) => {
        import spark.implicits._
        graft.operators.Hypothesis.twoProportionZ(
          table(spark, dir, "documents"),
          $"n_chars" > 500, $"lang" === "en")
      }),

    // X152: Krippendorff's alpha (nominal, two raters) on the X148
    // deterministic rater pair — coincidence-matrix arithmetic from
    // the same exact contingency cells.
    QueryDef(
      "q_krippendorff",
      Some("""
        WITH r AS (
          SELECT CAST(n_chars % 3 AS VARCHAR) AS a,
                 CAST((n_chars + doc_id) % 3 AS VARCHAR) AS b
          FROM documents
        ), cells AS (
          SELECT a, b, CAST(count(*) AS BIGINT) AS c FROM r GROUP BY 1, 2
        ), base AS (
          SELECT CAST(sum(c) AS BIGINT) AS n_items,
                 CAST(coalesce(sum(CASE WHEN a <> b THEN c END), 0) AS BIGINT) AS dis
          FROM cells
        ), m AS (
          SELECT v, CAST(sum(c) AS BIGINT) AS nc FROM (
            SELECT a AS v, c FROM cells
            UNION ALL SELECT b AS v, c FROM cells)
          GROUP BY 1
        ), mm AS (
          SELECT CAST(coalesce(sum(nc * nc), 0) AS BIGINT) AS sq,
                 CAST(count(*) AS BIGINT) AS n_values
          FROM m
        )
        SELECT b.n_items, mm.n_values,
               round(CAST(b.dis AS DOUBLE) / b.n_items, 6) AS disagree_rate,
               CASE WHEN 4 * b.n_items * b.n_items - mm.sq > 0 THEN
                 round(1.0 - CAST(2 * b.n_items - 1 AS DOUBLE)
                       * CAST(2 * b.dis AS DOUBLE)
                       / CAST(4 * b.n_items * b.n_items - mm.sq AS DOUBLE), 6)
               END AS alpha
        FROM base b, mm
      """.trim),
      "X152 Krippendorff's alpha (nominal) on the deterministic raters")(
      (spark, dir) => {
        import spark.implicits._
        graft.operators.Hypothesis.krippendorffAlpha(
          table(spark, dir, "documents")
            .select(($"n_chars" % 3).as("ra"),
              (($"n_chars" + $"doc_id") % 3).as("rb")),
          "ra", "rb")
      }),

    // X150: Jensen-Shannon drift of the lang distribution, src0 as
    // baseline vs the rest of the corpus — exact category counts,
    // ln-on-identical-doubles fold.
    QueryDef(
      "q_js_drift",
      Some("""
        WITH counts AS (
          SELECT lang AS cat,
                 CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS cb,
                 CAST(sum(CASE WHEN source = 'src0' THEN 0 ELSE 1 END) AS BIGINT) AS cc
          FROM documents GROUP BY 1
        ), tot AS (
          SELECT CAST(sum(cb) AS BIGINT) AS nb, CAST(sum(cc) AS BIGINT) AS nc
          FROM counts
        ), terms AS (
          SELECT nb, nc,
            coalesce(CASE WHEN cb > 0 THEN (CAST(cb AS DOUBLE) / nb)
              * ln((CAST(cb AS DOUBLE) / nb)
                   / ((CAST(cb AS DOUBLE) / nb + CAST(cc AS DOUBLE) / nc) / 2.0)) END, 0.0)
            + coalesce(CASE WHEN cc > 0 THEN (CAST(cc AS DOUBLE) / nc)
              * ln((CAST(cc AS DOUBLE) / nc)
                   / ((CAST(cb AS DOUBLE) / nb + CAST(cc AS DOUBLE) / nc) / 2.0)) END, 0.0) AS term
          FROM counts, tot
        ), agg AS (
          SELECT CAST(max(nb) AS BIGINT) AS n_baseline,
                 CAST(max(nc) AS BIGINT) AS n_current,
                 CAST(count(*) AS BIGINT) AS n_categories,
                 sum(term) / 2.0 AS jsd
          FROM terms
        )
        SELECT n_baseline, n_current, n_categories,
               round(jsd, 6) AS jsd_nats,
               round(jsd / ln(2.0), 6) AS jsd_bits
        FROM agg
      """.trim),
      "X150 Jensen-Shannon lang-distribution drift, src0 vs rest")(
      (spark, dir) => {
        import spark.implicits._
        CorpusOps.jsDivergence(
          table(spark, dir, "documents"), "lang", $"source" === "src0")
      }),

    // X151: per-doc character entropy — sorted-distinct-char fold,
    // order-identical double summation in both engines.
    QueryDef(
      "q_char_entropy",
      Some("""
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS text_len,
               CASE WHEN length(text) > 0 THEN
                 CAST(len(list_distinct(regexp_split_to_array(text, ''))) AS BIGINT)
                 ELSE 0 END AS n_distinct_chars,
               CASE WHEN length(text) > 0 THEN
                 round(list_sum(list_transform(
                   list_sort(list_distinct(regexp_split_to_array(text, ''))),
                   ch -> -(CAST(len(list_filter(regexp_split_to_array(text, ''), x -> x = ch)) AS DOUBLE) / length(text))
                         * log2(CAST(len(list_filter(regexp_split_to_array(text, ''), x -> x = ch)) AS DOUBLE) / length(text))
                 )), 6)
                 ELSE 0.0 END AS char_entropy_bits
        FROM documents ORDER BY doc_id
      """.trim),
      "X151 per-doc character-distribution entropy (bits/char)")(
      (spark, dir) =>
        CorpusOps.charEntropy(table(spark, dir, "documents"),
            "doc_id", "text")
          .orderBy("doc_id"))
  )
}
