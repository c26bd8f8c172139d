package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.operators.{Apportion, Basket, Calibrate, Cartography,
  Compaction, CorpusOps, Dedup, DistStats, FeatureHash, Funnel,
  GraphStats, Hypothesis, Kll, Kmv, Linkage, Privacy, Quantiles,
  RankEval, RankStats, Similarity, Stylometry, TimeSeries}
import QueryDef.{events, table}

/** r10 waves 11–13 (SURVEY §2.10 X223–X235): multiple-testing control
  * (Benjamini-Hochberg), ranking-change measurement (rank-biased
  * overlap), market-basket association rules, the nonparametric
  * two-sample pair (Mann-Whitney U, McNemar), the privacy ladder's
  * distance rung (t-closeness), vocabulary saturation (Chao1), graph
  * link prediction (Adamic-Adar), causal-readout
  * difference-in-differences, capture-recapture dedup QA, dataset
  * cartography, the hashing-trick featurizer, and JL random
  * projection. Same determinism contract as every other query file:
  * exact integer tallies on the hashed path, fixed-shape double
  * formulas, round(6).
  */
object MiningQueries {

  val defs: Seq[QueryDef] = Seq(

    // X223: BH FDR over per-source length-band GOF p-values — 20
    // simultaneous drift tests, one controlled alert list. The
    // 3-band Pearson GOF has dof=2, whose survival function is the
    // CLOSED FORM exp(-chi2/2) — no erf on either engine.
    QueryDef(
      "q_bh_fdr",
      Some("""
        WITH b AS (
          SELECT source,
                 CASE WHEN n_chars < 150 THEN 0
                      WHEN n_chars < 350 THEN 1 ELSE 2 END AS band
          FROM documents
        ), c AS (
          SELECT source,
                 CAST(sum(CASE WHEN band = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS o0,
                 CAST(sum(CASE WHEN band = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS o1,
                 CAST(sum(CASE WHEN band = 2 THEN 1 ELSE 0 END)
                   AS BIGINT) AS o2
          FROM b GROUP BY 1
        ), g AS (
          SELECT CAST(sum(o0) AS BIGINT) AS g0,
                 CAST(sum(o1) AS BIGINT) AS g1,
                 CAST(sum(o2) AS BIGINT) AS g2,
                 CAST(sum(o0 + o1 + o2) AS BIGINT) AS n
          FROM c
        ), x AS (
          SELECT source,
            (CAST(o0 AS DOUBLE)
              - CAST(o0 + o1 + o2 AS DOUBLE) * g0 / n)
            * (CAST(o0 AS DOUBLE)
              - CAST(o0 + o1 + o2 AS DOUBLE) * g0 / n)
            / (CAST(o0 + o1 + o2 AS DOUBLE) * g0 / n)
            + (CAST(o1 AS DOUBLE)
              - CAST(o0 + o1 + o2 AS DOUBLE) * g1 / n)
            * (CAST(o1 AS DOUBLE)
              - CAST(o0 + o1 + o2 AS DOUBLE) * g1 / n)
            / (CAST(o0 + o1 + o2 AS DOUBLE) * g1 / n)
            + (CAST(o2 AS DOUBLE)
              - CAST(o0 + o1 + o2 AS DOUBLE) * g2 / n)
            * (CAST(o2 AS DOUBLE)
              - CAST(o0 + o1 + o2 AS DOUBLE) * g2 / n)
            / (CAST(o0 + o1 + o2 AS DOUBLE) * g2 / n) AS chi2
          FROM c, g
        ), p AS (
          SELECT source, round(exp(-chi2 / 2.0), 9) AS pv FROM x
        ), r AS (
          SELECT source, pv,
                 CAST(row_number() OVER (ORDER BY pv, source)
                   AS BIGINT) AS rk,
                 CAST(count(*) OVER () AS BIGINT) AS m
          FROM p
        ), a AS (
          SELECT source, pv, rk,
                 least(1.0, min(pv * m / rk) OVER (
                   ORDER BY pv DESC, source DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                   AS adj
          FROM r
        )
        SELECT source, round(pv, 6) AS p_value, rk AS p_rank,
               round(adj, 6) AS p_adj, adj <= 0.05 AS reject
        FROM a ORDER BY source
      """.trim),
      "X223 BH-adjusted length-band drift p-values per source")(
      (spark, dir) => {
        import spark.implicits._
        val band = when($"n_chars" < 150, 0)
          .when($"n_chars" < 350, 1).otherwise(2)
        val cells = table(spark, dir, "documents")
          .select($"source", band.as("band"))
          .groupBy($"source")
          .agg(
            sum(when($"band" === 0, 1L).otherwise(0L)).as("o0"),
            sum(when($"band" === 1, 1L).otherwise(0L)).as("o1"),
            sum(when($"band" === 2, 1L).otherwise(0L)).as("o2"))
        val glob = cells.agg(
          sum($"o0").cast("long").as("g0"),
          sum($"o1").cast("long").as("g1"),
          sum($"o2").cast("long").as("g2"),
          sum($"o0" + $"o1" + $"o2").cast("long").as("n"))
        val tot = ($"o0" + $"o1" + $"o2").cast("double")
        def term(o: String, g: String) = {
          val e = tot * col(g) / $"n"
          (col(o).cast("double") - e) * (col(o).cast("double") - e) / e
        }
        val chi2 = term("o0", "g0") + term("o1", "g1") + term("o2", "g2")
        val pv = cells.crossJoin(broadcast(glob))
          .select($"source", round(exp(-chi2 / 2.0), 9).as("pv"))
        Hypothesis.bhAdjust(pv, "source", "pv", alpha = 0.05)
          .select($"source", $"p_value", $"p_rank", $"p_adj", $"reject")
          .orderBy($"source")
      }),

    // X224: RBO between each nation's revenue-ranked and
    // quantity-ranked top-10 parts — did changing the metric change
    // the ranking, weighted toward the top.
    QueryDef(
      "q_rbo",
      Some("""
        WITH base AS (
          SELECT n_name, l_partkey,
                 CAST(round(l_extendedprice * (1 - l_discount)
                   * 10000) AS BIGINT) AS rev,
                 CAST(round(l_quantity) AS BIGINT) AS qty
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
        ), agg AS (
          SELECT n_name, l_partkey, CAST(sum(rev) AS BIGINT) AS r,
                 CAST(sum(qty) AS BIGINT) AS q
          FROM base GROUP BY 1, 2
        ), ra AS (
          SELECT * FROM (
            SELECT n_name, l_partkey,
                   CAST(row_number() OVER (PARTITION BY n_name
                     ORDER BY r DESC, l_partkey) AS BIGINT) AS rk
            FROM agg) WHERE rk <= 10
        ), rb AS (
          SELECT * FROM (
            SELECT n_name, l_partkey,
                   CAST(row_number() OVER (PARTITION BY n_name
                     ORDER BY q DESC, l_partkey) AS BIGINT) AS rk
            FROM agg) WHERE rk <= 10
        ), wt AS (
          SELECT m, sum(pow(0.9, d - 1) / d) AS w
          FROM (SELECT t1.m AS m, t2.d AS d
                FROM unnest(range(1, 11)) AS t1(m)
                CROSS JOIN unnest(range(1, 11)) AS t2(d))
          WHERE d >= m GROUP BY m
        ), j AS (
          SELECT ra.n_name, greatest(ra.rk, rb.rk) AS mm
          FROM ra JOIN rb USING (n_name, l_partkey)
        ), s AS (
          SELECT n_name, CAST(count(*) AS BIGINT) AS overlap_at_k,
                 sum(w) AS mass
          FROM j JOIN wt ON wt.m = j.mm GROUP BY 1
        ), gs AS (
          SELECT DISTINCT n_name FROM ra
          UNION SELECT DISTINCT n_name FROM rb
        )
        SELECT gs.n_name,
               coalesce(overlap_at_k, 0) AS overlap_at_k,
               round(coalesce(mass, 0.0) * (1 - 0.9)
                 / (1 - pow(0.9, 10)), 6) AS rbo
        FROM gs LEFT JOIN s USING (n_name)
        ORDER BY gs.n_name
      """.trim),
      "X224 rank-biased overlap of revenue-vs-quantity top-10 per nation")(
      (spark, dir) => {
        import spark.implicits._
        val li = table(spark, dir, "lineitem")
        val sup = table(spark, dir, "supplier")
        val nat = table(spark, dir, "nation")
        val agg = li
          .join(sup, $"l_suppkey" === $"s_suppkey")
          .join(nat, $"s_nationkey" === $"n_nationkey")
          .groupBy($"n_name", $"l_partkey")
          .agg(
            sum(round($"l_extendedprice" * (lit(1) - $"l_discount")
              * 10000, 0).cast("long")).cast("long").as("r"),
            sum(round($"l_quantity", 0).cast("long")).cast("long")
              .as("q"))
          // r16: agg (the lineitem ⋈ supplier ⋈ nation join + group)
          // feeds both rank windows with different pruned projections,
          // so the heavy subtree rebuilt per window (and, before the
          // rbo full-outer rewrite, 4×). One checkpoint of the skinny
          // (nation, part, r, q) aggregate feeds everything; probes at
          // sf0.1 read control-normalized EQUAL (2.80× vs 2.83× the
          // q_tokenize control) — kept for the 100 TB shape, where
          // lineitem-scale rebuilds dwarf an aggregate checkpoint
          // (guide §2.4).
          .transform(Materialize.cut)
        val wr = Window.partitionBy($"n_name")
          .orderBy($"r".desc, $"l_partkey")
        val wq = Window.partitionBy($"n_name")
          .orderBy($"q".desc, $"l_partkey")
        val ra = agg.select($"n_name", $"l_partkey",
          row_number().over(wr).cast("long").as("rk"))
          .filter($"rk" <= 10)
        val rb = agg.select($"n_name", $"l_partkey",
          row_number().over(wq).cast("long").as("rk"))
          .filter($"rk" <= 10)
        RankEval.rbo(ra, rb, "n_name", "l_partkey", "rk",
            k = 10, p = 0.9)
          .orderBy($"n_name")
      }),

    // X225: association rules over order baskets — part pairs that
    // co-occur in >= 2 orders, with support/confidence/lift.
    QueryDef(
      "q_basket_rules",
      Some("""
        WITH items AS (
          SELECT DISTINCT l_orderkey AS b, l_partkey AS i
          FROM lineitem
        ), supp AS (
          SELECT i, CAST(count(*) AS BIGINT) AS s
          FROM items GROUP BY 1
        ), nb AS (
          SELECT CAST(count(DISTINCT b) AS BIGINT) AS n FROM items
        ), kept AS (
          SELECT b, i FROM items
          WHERE i IN (SELECT i FROM supp WHERE s >= 2)
        ), pairs AS (
          SELECT x.i AS item_a, y.i AS item_b,
                 CAST(count(*) AS BIGINT) AS pair_count
          FROM kept x JOIN kept y ON x.b = y.b AND x.i < y.i
          GROUP BY 1, 2 HAVING count(*) >= 2
        )
        SELECT item_a, item_b, pair_count,
               sa.s AS supp_a, sb.s AS supp_b,
               round(CAST(pair_count AS DOUBLE) / n, 6) AS support,
               round(CAST(pair_count AS DOUBLE) / sa.s, 6)
                 AS conf_a_b,
               round(CAST(pair_count AS DOUBLE) / sb.s, 6)
                 AS conf_b_a,
               round(CAST(pair_count AS DOUBLE) * n
                 / (CAST(sa.s AS DOUBLE) * sb.s), 6) AS lift
        FROM pairs
        JOIN supp sa ON sa.i = item_a
        JOIN supp sb ON sb.i = item_b, nb
        ORDER BY item_a, item_b
      """.trim),
      "X225 part-pair association rules over order baskets")(
      (spark, dir) => {
        import spark.implicits._
        Basket.pairRules(table(spark, dir, "lineitem"),
            "l_orderkey", "l_partkey", minSupport = 2L)
          .orderBy($"item_a", $"item_b")
      }),

    // X226: Mann-Whitney U — did English docs' length DISTRIBUTION
    // shift vs the rest, rank-based (no normality assumption), with
    // the rank-biserial effect size.
    QueryDef(
      "q_mann_whitney",
      Some("""
        WITH q AS (
          SELECT CAST(round(n_chars * 1e6) AS BIGINT) AS v,
                 (lang = 'en') AS ia
          FROM documents
        ), per AS (
          SELECT v,
                 CAST(sum(CASE WHEN ia THEN 1 ELSE 0 END) AS BIGINT)
                   AS ca,
                 CAST(sum(CASE WHEN ia THEN 0 ELSE 1 END) AS BIGINT)
                   AS cb
          FROM q GROUP BY 1
        ), wk AS (
          SELECT ca, cb, ca + cb AS c,
                 2 * (sum(ca + cb) OVER (ORDER BY v) - (ca + cb))
                   + (ca + cb) + 1 AS m2
          FROM per
        ), ag AS (
          SELECT CAST(sum(ca) AS BIGINT) AS n_a,
                 CAST(sum(cb) AS BIGINT) AS n_b,
                 sum(CAST(ca AS HUGEINT) * m2) AS r2a,
                 sum(CAST(c AS HUGEINT) * c * c - c) AS ties
          FROM wk
        ), fx AS (
          SELECT n_a, n_b,
                 CAST(r2a AS DOUBLE)
                   - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1.0)
                   AS u2,
                 CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
                 CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS nn,
                 CAST(ties AS DOUBLE) AS td
          FROM ag
        ), sg AS (
          SELECT *,
                 na * nb / 12.0
                   * ((nn + 1.0) - td / (nn * (nn - 1.0))) AS s2
          FROM fx
        )
        SELECT n_a, n_b,
               CASE WHEN n_a > 0 AND n_b > 0
                    THEN round(u2 / 2.0, 6) END AS u_stat,
               CASE WHEN n_a > 0 AND n_b > 0 AND s2 > 0.0
                    THEN round((u2 - na * nb) / (2.0 * sqrt(s2)), 6)
                    END AS z_stat,
               CASE WHEN n_a > 0 AND n_b > 0
                    THEN round(u2 / (na * nb) - 1.0, 6)
                    END AS rank_biserial
        FROM sg
      """.trim),
      "X226 Mann-Whitney U: en vs non-en doc length, rank-biserial")(
      (spark, dir) => {
        import spark.implicits._
        Hypothesis.mannWhitneyU(table(spark, dir, "documents"),
          "n_chars", $"lang" === "en")
      }),

    // X227: McNemar — two quality gates judged on the SAME docs
    // (length >= 250 vs >= 40 space-separated words): is one
    // systematically stricter, paired-correctly.
    QueryDef(
      "q_mcnemar",
      Some("""
        WITH v AS (
          SELECT (n_chars >= 250) AS a,
                 (length(text) - length(replace(text, ' ', '')) >= 40)
                   AS b
          FROM documents
        ), w AS (
          SELECT CAST(sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)
                   AS BIGINT) AS n00,
                 CAST(sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)
                   AS BIGINT) AS n01,
                 CAST(sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)
                   AS BIGINT) AS n10,
                 CAST(sum(CASE WHEN a AND b THEN 1 ELSE 0 END)
                   AS BIGINT) AS n11
          FROM v
        ), f AS (
          SELECT *,
                 abs(CAST(n10 AS DOUBLE) - CAST(n01 AS DOUBLE)) - 1.0
                   AS dd,
                 CAST(n10 AS DOUBLE) + CAST(n01 AS DOUBLE) AS bc
          FROM w
        )
        SELECT n00, n01, n10, n11,
               CASE WHEN n01 + n10 > 0 THEN
                 round(CASE WHEN dd > 0.0 THEN dd * dd ELSE 0.0 END
                   / bc, 6) END AS chi2,
               CASE WHEN n01 + n10 > 0 THEN
                 round(CAST(n10 AS DOUBLE) / bc, 6)
                 END AS share_a_only
        FROM f
      """.trim),
      "X227 McNemar paired gate comparison: char gate vs word gate")(
      (spark, dir) => {
        import spark.implicits._
        Hypothesis.mcnemar(table(spark, dir, "documents"),
          $"n_chars" >= 250,
          expr("length(text) - length(replace(text, ' ', ''))") >= 40)
      }),

    // X228: t-closeness of each (lang, source) class's length-band
    // distribution vs the global one — the distance rung of the
    // X102/X114 privacy ladder, t = 0.15.
    QueryDef(
      "q_t_closeness",
      Some("""
        WITH d AS (
          SELECT lang, source, n_chars // 100 AS s FROM documents
        ), cells AS (
          SELECT lang, source, s, CAST(count(*) AS BIGINT) AS c
          FROM d GROUP BY 1, 2, 3
        ), gl AS (
          SELECT s, CAST(sum(c) AS BIGINT) AS g FROM cells GROUP BY 1
        ), nt AS (
          SELECT CAST(sum(g) AS BIGINT) AS nn FROM gl
        ), mm AS (
          SELECT CAST(count(*) AS BIGINT) AS m FROM gl
        ), cls AS (
          SELECT lang, source, CAST(sum(c) AS BIGINT) AS n_rows
          FROM cells GROUP BY 1, 2
        ), frame AS (
          SELECT cls.lang, cls.source, cls.n_rows, gl.s, gl.g,
                 coalesce(cells.c, 0) AS cc
          FROM cls CROSS JOIN gl
          LEFT JOIN cells ON cells.lang = cls.lang
            AND cells.source = cls.source AND cells.s = gl.s
        ), cum AS (
          SELECT lang, source, n_rows,
                 sum(cc) OVER (PARTITION BY lang, source ORDER BY s)
                   AS cumc,
                 sum(g) OVER (PARTITION BY lang, source ORDER BY s)
                   AS cumg
          FROM frame
        ), sn AS (
          SELECT lang, source, n_rows, nn,
                 sum(abs(CAST(cumc AS HUGEINT) * nn
                   - CAST(cumg AS HUGEINT) * n_rows)) AS snum
          FROM cum, nt GROUP BY 1, 2, 3, 4
        ), fin AS (
          SELECT lang, source, n_rows,
                 CASE WHEN m > 1 THEN
                   CAST(snum AS DOUBLE) / (CAST(n_rows AS DOUBLE)
                     * CAST(nn AS DOUBLE) * CAST(m - 1 AS DOUBLE))
                 ELSE 0.0 END AS emd
          FROM sn, mm
        )
        SELECT lang, source, n_rows, round(emd, 6) AS emd,
               emd <= 0.15 AS meets_t
        FROM fin ORDER BY lang, source
      """.trim),
      "X228 t-closeness of per-(lang,source) length bands, t=0.15")(
      (spark, dir) => {
        import spark.implicits._
        Privacy.tCloseness(table(spark, dir, "documents"),
            qiCols = Seq("lang", "source"),
            sensitive = expr("n_chars div 100"), t = 0.15)
          .orderBy($"lang", $"source")
      }),

    // X229: Chao1 — how much vocabulary the corpus has NOT shown yet,
    // from the singleton/doubleton counts alone.
    QueryDef(
      "q_chao1",
      Some("""
        WITH toks AS (
          SELECT unnest(list_filter(
                   string_split_regex(lower(text), '\s+'),
                   x -> x <> '')) AS t
          FROM documents
        ), cnt AS (
          SELECT t, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1
        ), ag AS (
          SELECT CAST(count(*) AS BIGINT) AS observed,
                 CAST(sum(c) AS BIGINT) AS n_tokens,
                 CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS f1,
                 CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS f2
          FROM cnt
        )
        SELECT observed, n_tokens, f1, f2,
               round(CAST(observed AS DOUBLE)
                 + CAST(f1 AS DOUBLE) * (CAST(f1 AS DOUBLE) - 1.0)
                   / (2.0 * (CAST(f2 AS DOUBLE) + 1.0)), 6) AS chao1,
               CASE WHEN n_tokens > 0 THEN
                 round(1.0 - CAST(f1 AS DOUBLE)
                   / CAST(n_tokens AS DOUBLE), 6) END AS coverage
        FROM ag
      """.trim),
      "X229 Chao1 vocabulary richness + Good's coverage")(
      (spark, dir) => {
        import spark.implicits._
        val counts = table(spark, dir, "documents")
          .select(explode(graft.operators.Dedup.tokens($"text"))
            .as("token"))
          .groupBy($"token").agg(count(lit(1)).as("c"))
        DistStats.chao1(counts, "c")
      }),

    // X230: Adamic-Adar link prediction on the part co-purchase
    // graph (the X190 edge table) — top 200 predicted/scored pairs.
    QueryDef(
      "q_adamic_adar",
      Some("""
        WITH e AS (
          SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS a,
                 greatest(x.l_partkey, y.l_partkey) AS b
          FROM lineitem x JOIN lineitem y
            ON x.l_orderkey = y.l_orderkey
            AND x.l_partkey < y.l_partkey
          WHERE x.l_linenumber <= 3 AND y.l_linenumber <= 3
        ), adj AS (
          SELECT a AS w, b AS u FROM e UNION ALL SELECT b, a FROM e
        ), deg AS (
          SELECT w, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1
        ), mids AS (
          SELECT w, CAST(round(1e9 / ln(CAST(d AS DOUBLE)), 0)
                   AS BIGINT) AS nano
          FROM deg WHERE d >= 2 AND d <= 50
        ), wadj AS (
          SELECT adj.w, adj.u, nano FROM adj JOIN mids USING (w)
        ), pairs AS (
          SELECT x.u AS node_a, y.u AS node_b,
                 CAST(count(*) AS BIGINT) AS common_neighbors,
                 CAST(sum(x.nano) AS BIGINT) AS s
          FROM wadj x JOIN wadj y ON x.w = y.w AND x.u < y.u
          GROUP BY 1, 2 HAVING count(*) >= 2
        )
        SELECT node_a, node_b, common_neighbors,
               round(CAST(s AS DOUBLE) / 1e9, 6) AS aa_score,
               (e.a IS NOT NULL) AS is_edge
        FROM pairs LEFT JOIN e ON e.a = node_a AND e.b = node_b
        ORDER BY aa_score DESC, node_a, node_b
        LIMIT 200
      """.trim),
      "X230 Adamic-Adar top-200 predicted links, co-purchase graph")(
      (spark, dir) => {
        import spark.implicits._
        val li = table(spark, dir, "lineitem")
          .filter($"l_linenumber" <= 3)
          .select($"l_orderkey", $"l_partkey")
        val e = li.as("x").join(li.as("y"),
            col("x.l_orderkey") === col("y.l_orderkey") &&
              col("x.l_partkey") < col("y.l_partkey"))
          .select(col("x.l_partkey").as("s1"),
            col("y.l_partkey").as("s2"))
        GraphStats.adamicAdar(e, "s1", "s2",
            maxDegree = 50L, minCommon = 2L)
          .orderBy($"aa_score".desc, $"node_a", $"node_b")
          .limit(200)
      }),

    // X231: difference-in-differences — did the mid-month rollout
    // (even user_ids treated) move the event value beyond the
    // control group's ambient trend.
    QueryDef(
      "q_did",
      Some("""
        WITH v AS (
          SELECT CAST(round(value * 1000000.0) AS BIGINT) AS q,
                 (user_id % 2 = 0) AS tr,
                 (ts >= TIMESTAMP '2024-01-16') AS po
          FROM events
        ), w AS (
          SELECT
            CAST(sum(CASE WHEN NOT tr AND NOT po THEN 1 ELSE 0 END)
              AS BIGINT) AS n_ctrl_pre,
            sum(CASE WHEN NOT tr AND NOT po THEN q ELSE 0 END) AS s00,
            CAST(sum(CASE WHEN NOT tr AND po THEN 1 ELSE 0 END)
              AS BIGINT) AS n_ctrl_post,
            sum(CASE WHEN NOT tr AND po THEN q ELSE 0 END) AS s01,
            CAST(sum(CASE WHEN tr AND NOT po THEN 1 ELSE 0 END)
              AS BIGINT) AS n_treat_pre,
            sum(CASE WHEN tr AND NOT po THEN q ELSE 0 END) AS s10,
            CAST(sum(CASE WHEN tr AND po THEN 1 ELSE 0 END)
              AS BIGINT) AS n_treat_post,
            sum(CASE WHEN tr AND po THEN q ELSE 0 END) AS s11
          FROM v
        ), f AS (
          SELECT *,
            CAST(s00 AS DOUBLE) / CAST(n_ctrl_pre AS DOUBLE)
              / 1000000.0 AS m00,
            CAST(s01 AS DOUBLE) / CAST(n_ctrl_post AS DOUBLE)
              / 1000000.0 AS m01,
            CAST(s10 AS DOUBLE) / CAST(n_treat_pre AS DOUBLE)
              / 1000000.0 AS m10,
            CAST(s11 AS DOUBLE) / CAST(n_treat_post AS DOUBLE)
              / 1000000.0 AS m11
          FROM w
        )
        SELECT n_ctrl_pre, n_ctrl_post, n_treat_pre, n_treat_post,
               round(m00, 6) AS mean_ctrl_pre,
               round(m01, 6) AS mean_ctrl_post,
               round(m10, 6) AS mean_treat_pre,
               round(m11, 6) AS mean_treat_post,
               CASE WHEN n_ctrl_pre > 0 AND n_ctrl_post > 0
                     AND n_treat_pre > 0 AND n_treat_post > 0
                    THEN round((m11 - m10) - (m01 - m00), 6)
                    END AS did
        FROM f
      """.trim),
      "X231 diff-in-diff of event value, even-user rollout @ Jan 16")(
      (spark, dir) => {
        import spark.implicits._
        Hypothesis.didEstimate(events(spark, dir), "value",
          isTreated = $"user_id" % 2 === 0,
          isPost = $"ts" >= lit("2024-01-16").cast("timestamp"))
      }),

    // X232: capture-recapture — two cheap duplicate detectors
    // (length collision, 16-char prefix collision) estimate how many
    // "suspicious" docs the corpus REALLY holds, including those
    // both detectors missed.
    QueryDef(
      "q_capture_recapture",
      Some("""
        WITH a AS (
          SELECT DISTINCT doc_id FROM documents x JOIN (
            SELECT n_chars FROM documents GROUP BY 1
            HAVING count(*) >= 2) g USING (n_chars)
        ), b AS (
          SELECT DISTINCT doc_id FROM documents x JOIN (
            SELECT substr(lower(text), 1, 16) AS p FROM documents
            GROUP BY 1 HAVING count(*) >= 2) g
          ON substr(lower(x.text), 1, 16) = g.p
        ), n1 AS (
          SELECT CAST(count(*) AS BIGINT) AS n_caught_a FROM a
        ), n2 AS (
          SELECT CAST(count(*) AS BIGINT) AS n_caught_b FROM b
        ), m AS (
          SELECT CAST(count(*) AS BIGINT) AS n_both
          FROM a JOIN b USING (doc_id)
        )
        SELECT n_caught_a, n_caught_b, n_both,
               CASE WHEN n_both > 0 THEN
                 round(CAST(n_caught_a AS DOUBLE)
                   * CAST(n_caught_b AS DOUBLE)
                   / CAST(n_both AS DOUBLE), 2) END
                 AS lincoln_petersen,
               round((CAST(n_caught_a AS DOUBLE) + 1.0)
                 * (CAST(n_caught_b AS DOUBLE) + 1.0)
                 / (CAST(n_both AS DOUBLE) + 1.0) - 1.0, 2) AS chapman
        FROM n1, n2, m
      """.trim),
      "X232 capture-recapture estimate of the true duplicate count")(
      (spark, dir) => {
        import spark.implicits._
        val docs = table(spark, dir, "documents")
        val lenKeys = docs.groupBy($"n_chars")
          .agg(count(lit(1)).as("c")).filter($"c" >= 2)
          .select($"n_chars")
        val a = docs.join(lenKeys, Seq("n_chars"), "left_semi")
          .select($"doc_id")
        val pfx = substring(lower($"text"), 1, 16)
        val pKeys = docs.groupBy(pfx.as("p"))
          .agg(count(lit(1)).as("c")).filter($"c" >= 2).select($"p")
        val b = docs.select($"doc_id", pfx.as("p"))
          .join(pKeys, Seq("p"), "left_semi").select($"doc_id")
        DistStats.captureRecapture(a, b, "doc_id")
      }),

    // X233: dataset cartography over per-user event scores (value
    // normalized to ~[0,1]) — confidence/variability map with fixed
    // region splits.
    QueryDef(
      "q_cartography",
      Some("""
        WITH s AS (
          SELECT user_id,
                 CAST(round(value / 500.0 * 1000000.0) AS BIGINT) AS q
          FROM events
        ), g AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS n_runs,
                 sum(CAST(q AS HUGEINT)) AS s,
                 sum(CAST(q AS HUGEINT) * q) AS ss
          FROM s GROUP BY 1
        ), f AS (
          SELECT user_id, n_runs,
                 CAST(s AS DOUBLE) / CAST(n_runs AS DOUBLE) AS mm,
                 CAST(ss AS DOUBLE) / CAST(n_runs AS DOUBLE)
                   - (CAST(s AS DOUBLE) / CAST(n_runs AS DOUBLE))
                   * (CAST(s AS DOUBLE) / CAST(n_runs AS DOUBLE))
                   AS vm
          FROM g
        ), r AS (
          SELECT user_id, n_runs, mm / 1000000.0 AS conf,
                 sqrt(greatest(vm, 0.0)) / 1000000.0 AS vari
          FROM f
        )
        SELECT user_id, n_runs, round(conf, 6) AS confidence,
               round(vari, 6) AS variability,
               CASE WHEN vari >= 0.15 THEN 'ambiguous'
                    WHEN conf >= 0.5 THEN 'easy_to_learn'
                    ELSE 'hard_to_learn' END AS region
        FROM r ORDER BY user_id
      """.trim),
      "X233 dataset cartography: per-user confidence/variability map")(
      (spark, dir) => {
        import spark.implicits._
        Cartography.dataMap(events(spark, dir), "user_id",
            $"value" / 500.0, confSplit = 0.5, varSplit = 0.15)
          .orderBy($"user_id")
      }),

    // X234: hashing-trick features for the src0 slice — 64 signed
    // buckets, no vocabulary table.
    QueryDef(
      "q_feature_hash",
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(list_filter(
                   string_split_regex(lower(text), '\s+'),
                   x -> x <> '')) AS t
          FROM documents WHERE source = 'src0'
        )
        SELECT doc_id,
               ('0x' || substr(md5('fhb:' || t), 1, 8))::BIGINT % 64
                 AS bucket,
               CAST(sum(CASE WHEN ('0x' || substr(md5('fhs:' || t), 1,
                   8))::BIGINT % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT)
                 AS weight,
               CAST(count(*) AS BIGINT) AS n_tokens
        FROM toks GROUP BY 1, 2
        ORDER BY doc_id, bucket
      """.trim),
      "X234 hashing-trick signed features, 64 buckets, src0 slice")(
      (spark, dir) => {
        import spark.implicits._
        FeatureHash.hashFeatures(
            table(spark, dir, "documents").filter($"source" === "src0"),
            "doc_id", Dedup.tokens($"text"), buckets = 64, salt = "fh")
          .orderBy($"doc_id", $"bucket")
      }),

    // X235: JL random projection of the 64-dim embeddings down to 8
    // signed-sum components per vector.
    QueryDef(
      "q_jl_project",
      Some("""
        WITH sg AS (
          SELECT i, j,
                 CASE WHEN ('0x' || substr(md5('jl:' || i || '_' || j),
                     1, 8))::BIGINT % 2 = 0
                      THEN 1 ELSE -1 END AS sgn
          FROM (SELECT unnest(range(0, 64)) AS i) ii
          CROSS JOIN (SELECT unnest(range(0, 8)) AS j) jj
        ), e AS (
          SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
                 unnest(CAST(embedding AS DOUBLE[])) AS x
          FROM embeddings
        ), q AS (
          SELECT vec_id, i,
                 CAST(round(x * 1000000.0) AS BIGINT) AS qx
          FROM e
        )
        SELECT vec_id, CAST(j AS BIGINT) AS dim,
               round(CAST(CAST(sum(sgn * qx) AS BIGINT) AS DOUBLE)
                 / 1000000.0 / sqrt(8.0), 6) AS component
        FROM q JOIN sg USING (i)
        GROUP BY 1, 2
        ORDER BY vec_id, dim
      """.trim),
      "X235 JL sign projection of embeddings to 8 components")(
      (spark, dir) => {
        import spark.implicits._
        Similarity.jlProject(table(spark, dir, "embeddings"),
            "vec_id", "embedding", k = 8, dims = 64, salt = "jl")
          .orderBy($"vec_id", $"dim")
      }),

    // X236: HLL set algebra — pairwise audience overlap between event
    // types from the stored sketch table, no rescan. Full hash oracle
    // (r13, the portable register HLL): the oracle rebuilds each
    // group's registers, takes the pairwise register-max union, and
    // replays the pinned integer estimator for est_a/est_b/est_union;
    // intersection and Jaccard are integer I-E + one double division
    // of identical longs. The spec additionally bounds the estimates
    // against exact sets.
    QueryDef(
      "q_hll_algebra",
      Some {
        val (sSql, vSql) = graft.operators.Hll.duckSvSql()
        val est = graft.operators.Hll.duckEstimateSql("s", "v")
        s"""
        WITH mx AS (${graft.operators.Hll.duckRegistersSql(
          "events", "event_type", "user_id")}
        ), ga AS (
          SELECT g, $sSql AS s, $vSql AS v FROM mx GROUP BY g
        ), ge AS (
          SELECT g, $est AS est FROM ga
        ), pairs AS (
          SELECT a.g AS ea, b.g AS eb
          FROM (SELECT DISTINCT g FROM mx) a
          JOIN (SELECT DISTINCT g FROM mx) b ON a.g < b.g
        ), ur AS (
          SELECT p.ea, p.eb, m.reg, max(m.mr) AS mr
          FROM pairs p JOIN mx m ON m.g IN (p.ea, p.eb)
          GROUP BY 1, 2, 3
        ), ua AS (
          SELECT ea, eb, $sSql AS s, $vSql AS v
          FROM ur GROUP BY ea, eb
        ), ue AS (
          SELECT ea, eb, $est AS est_u FROM ua
        )
        SELECT ue.ea AS group_a, ue.eb AS group_b,
               gea.est AS est_a, geb.est AS est_b, ue.est_u AS est_union,
               greatest(0, gea.est + geb.est - ue.est_u) AS est_intersect,
               CASE WHEN ue.est_u > 0
                    THEN round(CAST(greatest(0, gea.est + geb.est - ue.est_u)
                      AS DOUBLE) / ue.est_u, 6)
                    ELSE 0.0 END AS jaccard_est
        FROM ue
        JOIN ge gea ON gea.g = ue.ea
        JOIN ge geb ON geb.g = ue.eb
        ORDER BY group_a, group_b
        """.trim
      },
      "X236 pairwise user-audience overlap from HLL sketches")(
      (spark, dir) => {
        import spark.implicits._
        val sk = graft.operators.Hll.groupSketches(
          events(spark, dir), "event_type", "user_id")
        graft.operators.Hll.setAlgebra(sk, "event_type")
          .orderBy($"group_a", $"group_b")
      }),

    // X237: Murphy decomposition — calibration (REL) vs
    // discrimination (RES) vs base rate (UNC) of the value-derived
    // conversion forecast.
    QueryDef(
      "q_murphy",
      Some("""
        WITH base AS (
          SELECT CAST(round(value / 500.0 * 1000000.0) AS BIGINT) AS p,
                 CASE WHEN event_type IN ('purchase', 'signup')
                      THEN 1 ELSE 0 END AS y
          FROM events
        ), cells AS (
          SELECT least((p * 10) // 1000000, 9) AS b,
                 CAST(count(*) AS BIGINT) AS nb,
                 CAST(sum(p) AS BIGINT) AS sp,
                 CAST(sum(y) AS BIGINT) AS k,
                 sum(CAST(p - y * 1000000 AS HUGEINT)
                   * CAST(p - y * 1000000 AS HUGEINT)) AS se
          FROM base GROUP BY 1
        ), tot AS (
          SELECT CAST(sum(nb) AS BIGINT) AS n,
                 CAST(sum(k) AS BIGINT) AS x
          FROM cells
        ), fold AS (
          SELECT max(n) AS n, max(x) AS successes,
                 sum(se) AS seT,
                 sum(CAST(nb AS DOUBLE)
                   * (CAST(sp AS DOUBLE) / (CAST(nb AS DOUBLE) * 1e6)
                      - CAST(k AS DOUBLE) / CAST(nb AS DOUBLE))
                   * (CAST(sp AS DOUBLE) / (CAST(nb AS DOUBLE) * 1e6)
                      - CAST(k AS DOUBLE) / CAST(nb AS DOUBLE)))
                   AS rel_s,
                 sum(CAST(nb AS DOUBLE)
                   * (CAST(k AS DOUBLE) / CAST(nb AS DOUBLE)
                      - CAST(x AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(k AS DOUBLE) / CAST(nb AS DOUBLE)
                      - CAST(x AS DOUBLE) / CAST(n AS DOUBLE)))
                   AS res_s,
                 max(CAST(x AS DOUBLE) / CAST(n AS DOUBLE)
                   * (1.0 - CAST(x AS DOUBLE) / CAST(n AS DOUBLE)))
                   AS unc
          FROM cells, tot
        ), fin AS (
          SELECT n, successes,
                 CAST(seT AS DOUBLE) / (CAST(n AS DOUBLE) * 1e12)
                   AS brier,
                 rel_s / CAST(n AS DOUBLE) AS rel,
                 res_s / CAST(n AS DOUBLE) AS res, unc
          FROM fold
        )
        SELECT n, successes, round(brier, 6) AS brier,
               round(rel, 6) AS reliability,
               round(res, 6) AS resolution,
               round(unc, 6) AS uncertainty,
               round(brier - (rel - res + unc), 6) AS residual
        FROM fin
      """.trim),
      "X237 Murphy decomposition of the conversion-forecast Brier")(
      (spark, dir) => {
        import spark.implicits._
        Calibrate.murphyDecomposition(
          events(spark, dir)
            .select(($"value" / 500.0).as("p"),
              $"event_type".isin("purchase", "signup").as("y")),
          "p", "y", bins = 10)
      }),

    // X238: paired permutation test — is chars-per-word 6 (d = chars
    // - 6*words per doc), null built from 199 salted sign flips.
    QueryDef(
      "q_perm_test",
      Some("""
        WITH base AS (
          SELECT doc_id,
                 CAST(round((n_chars - 6 * len(list_filter(
                     string_split_regex(lower(text), '\s+'),
                     x -> x <> ''))) * 1000000.0) AS BIGINT) AS d
          FROM documents
        ), obs AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(d AS HUGEINT)) AS t0
          FROM base
        ), tb AS (
          SELECT b,
                 sum(CAST(CASE WHEN ('0x' || substr(md5('perm' || b
                     || ':' || doc_id), 1, 8))::BIGINT % 2 = 0
                   THEN d ELSE -d END AS HUGEINT)) AS t
          FROM base CROSS JOIN (SELECT unnest(range(1, 200)) AS b) bb
          GROUP BY 1
        ), cnt AS (
          SELECT CAST(sum(CASE WHEN abs(t) >= abs(t0) THEN 1 ELSE 0
                   END) AS BIGINT) AS ge,
                 max(n) AS n, max(t0) AS t0
          FROM tb, obs
        )
        SELECT n,
               round(CAST(t0 AS DOUBLE)
                 / (CAST(n AS DOUBLE) * 1000000.0), 6) AS mean_diff,
               CAST(199 AS BIGINT) AS n_perms,
               round(CAST(ge + 1 AS DOUBLE) / 200.0, 6) AS p_value
        FROM cnt
      """.trim),
      "X238 paired sign-flip permutation test on chars-per-word drift")(
      (spark, dir) => {
        import spark.implicits._
        Hypothesis.pairedPermutation(
          table(spark, dir, "documents"),
          "doc_id",
          ($"n_chars" - lit(6) * size(Dedup.tokens($"text")))
            .cast("double"),
          b = 199, salt = "perm")
      }),

    // X239: Cochran-Armitage — does the high-value rate trend across
    // the month's weeks (ordered bands 0..4).
    QueryDef(
      "q_cochran_armitage",
      Some("""
        WITH cells AS (
          SELECT CAST((day(ts) - 1) // 7 AS BIGINT) AS t,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN value > 250.0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS x
          FROM events GROUP BY 1
        ), w AS (
          SELECT CAST(count(*) AS BIGINT) AS n_bands,
                 CAST(sum(n) AS BIGINT) AS n_total,
                 CAST(sum(x) AS BIGINT) AS successes,
                 sum(CAST(t AS HUGEINT) * x) AS tx,
                 sum(CAST(t AS HUGEINT) * n) AS tn,
                 sum(CAST(t AS HUGEINT) * t * n) AS ttn
          FROM cells
        ), f AS (
          SELECT *,
                 CAST(successes AS DOUBLE) / CAST(n_total AS DOUBLE)
                   AS pbar
          FROM w
        ), g AS (
          SELECT *,
                 CAST(tx AS DOUBLE) - pbar * CAST(tn AS DOUBLE) AS num,
                 pbar * (1.0 - pbar)
                   * (CAST(ttn AS DOUBLE) - CAST(tn AS DOUBLE)
                      * CAST(tn AS DOUBLE) / CAST(n_total AS DOUBLE))
                   AS v
          FROM f
        )
        SELECT n_bands, n_total, successes,
               round(pbar, 6) AS pooled_rate,
               CASE WHEN v > 0.0 THEN round(num / sqrt(v), 6)
                    END AS z_trend
        FROM g
      """.trim),
      "X239 Cochran-Armitage weekly trend of the high-value rate")(
      (spark, dir) => {
        import spark.implicits._
        Hypothesis.cochranArmitage(events(spark, dir),
          bandCol = expr("(day(ts) - 1) div 7"),
          successCol = $"value" > 250.0)
      }),

    // X240: largest-remainder apportionment — 1000 sample slots
    // across (lang, source) strata, Σquota = 1000 exactly.
    QueryDef(
      "q_apportion",
      Some("""
        WITH c AS (
          SELECT lang, source, CAST(count(*) AS BIGINT) AS n_rows
          FROM documents GROUP BY 1, 2
        ), t AS (
          SELECT CAST(sum(n_rows) AS BIGINT) AS nn FROM c
        ), b AS (
          SELECT lang, source, n_rows,
                 (n_rows * 1000) // nn AS fq,
                 (n_rows * 1000) % nn AS rem
          FROM c, t
        ), r AS (
          SELECT *,
                 CAST(row_number() OVER (ORDER BY rem DESC, lang,
                   source) AS BIGINT) AS rk,
                 CAST(sum(fq) OVER () AS BIGINT) AS sb
          FROM b
        )
        SELECT lang, source, n_rows,
               CAST(fq AS BIGINT) AS floor_quota,
               rk AS remainder_rank,
               CAST(fq + CASE WHEN rk <= 1000 - sb THEN 1 ELSE 0 END
                 AS BIGINT) AS quota
        FROM r ORDER BY lang, source
      """.trim),
      "X240 largest-remainder quotas: 1000 slots over (lang, source)")(
      (spark, dir) => {
        import spark.implicits._
        Apportion.largestRemainder(table(spark, dir, "documents"),
            Seq("lang", "source"), total = 1000L)
          .orderBy($"lang", $"source")
      }),

    // X241: empirical-Bayes shrinkage of per-source long-doc rates —
    // tiny sources stop screaming 0% / 100%.
    QueryDef(
      "q_eb_shrink",
      Some("""
        WITH cells AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END)
                   AS BIGINT) AS successes
          FROM documents GROUP BY 1
        ), q AS (
          SELECT *, CAST(round(CAST(successes AS DOUBLE)
                   / CAST(n AS DOUBLE) * 1e9) AS BIGINT) AS rn
          FROM cells
        ), pr AS (
          SELECT CAST(count(*) AS BIGINT) AS kk,
                 sum(CAST(rn AS HUGEINT)) AS sr,
                 sum(CAST(rn AS HUGEINT) * rn) AS srr
          FROM q
        ), mo AS (
          SELECT kk,
                 CAST(sr AS DOUBLE) / (CAST(kk AS DOUBLE) * 1e9) AS m,
                 CAST(srr AS DOUBLE) / (CAST(kk AS DOUBLE) * 1e18)
                   - (CAST(sr AS DOUBLE) / (CAST(kk AS DOUBLE) * 1e9))
                   * (CAST(sr AS DOUBLE) / (CAST(kk AS DOUBLE) * 1e9))
                   AS v
          FROM pr
        ), st AS (
          SELECT m, v, m * (1.0 - m) / v - 1.0 AS s,
                 (v > 0.0 AND m * (1.0 - m) / v - 1.0 > 0.0) AS ok
          FROM mo
        )
        SELECT source, n, successes,
               round(CAST(successes AS DOUBLE) / CAST(n AS DOUBLE), 6)
                 AS raw_rate,
               CASE WHEN ok THEN
                 round((CAST(successes AS DOUBLE) + m * s)
                   / (CAST(n AS DOUBLE) + s), 6)
               ELSE round(CAST(successes AS DOUBLE)
                 / CAST(n AS DOUBLE), 6) END AS shrunk_rate,
               round(m, 6) AS prior_mean,
               CASE WHEN ok THEN round(s, 6) END AS prior_strength
        FROM q, st ORDER BY source
      """.trim),
      "X241 EB-shrunk per-source long-doc rates (beta-binomial MoM)")(
      (spark, dir) => {
        import spark.implicits._
        DistStats.ebShrink(table(spark, dir, "documents"),
            "source", $"n_chars" >= 250)
          .orderBy($"source")
      }),

    // X242: interrupted time series — level/slope change of the
    // daily mean event value at the day-16 break, per event type.
    QueryDef(
      "q_its",
      Some("""
        WITH daily AS (
          SELECT event_type, CAST(day(ts) AS BIGINT) AS t,
                 CAST(sum(CAST(round(value * 1000000.0) AS BIGINT))
                     AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0
                   AS y
          FROM events GROUP BY 1, 2
        ), q AS (
          SELECT event_type, t,
                 CAST(round(y * 1000000.0) AS BIGINT) AS v,
                 (t >= 16) AS post
          FROM daily
        ), seg AS (
          SELECT event_type, post, CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(t AS HUGEINT)) AS st,
                 sum(CAST(t AS HUGEINT) * t) AS stt,
                 sum(CAST(v AS HUGEINT)) AS sv,
                 sum(CAST(t AS HUGEINT) * v) AS stv
          FROM q GROUP BY 1, 2
        ), w AS (
          SELECT event_type,
                 coalesce(max(CASE WHEN NOT post THEN n END), 0)
                   AS n_pre,
                 max(CASE WHEN NOT post THEN st END) AS st0,
                 max(CASE WHEN NOT post THEN stt END) AS stt0,
                 max(CASE WHEN NOT post THEN sv END) AS sv0,
                 max(CASE WHEN NOT post THEN stv END) AS stv0,
                 coalesce(max(CASE WHEN post THEN n END), 0) AS n_post,
                 max(CASE WHEN post THEN st END) AS st1,
                 max(CASE WHEN post THEN stt END) AS stt1,
                 max(CASE WHEN post THEN sv END) AS sv1,
                 max(CASE WHEN post THEN stv END) AS stv1
          FROM seg GROUP BY 1
        ), f AS (
          SELECT event_type, n_pre, n_post,
            CAST(n_pre AS DOUBLE) * CAST(stt0 AS DOUBLE)
              - CAST(st0 AS DOUBLE) * CAST(st0 AS DOUBLE) AS den0,
            (CAST(n_pre AS DOUBLE) * CAST(stv0 AS DOUBLE)
              - CAST(st0 AS DOUBLE) * CAST(sv0 AS DOUBLE))
              / (CAST(n_pre AS DOUBLE) * CAST(stt0 AS DOUBLE)
                 - CAST(st0 AS DOUBLE) * CAST(st0 AS DOUBLE)) AS sl0,
            CAST(n_post AS DOUBLE) * CAST(stt1 AS DOUBLE)
              - CAST(st1 AS DOUBLE) * CAST(st1 AS DOUBLE) AS den1,
            (CAST(n_post AS DOUBLE) * CAST(stv1 AS DOUBLE)
              - CAST(st1 AS DOUBLE) * CAST(sv1 AS DOUBLE))
              / (CAST(n_post AS DOUBLE) * CAST(stt1 AS DOUBLE)
                 - CAST(st1 AS DOUBLE) * CAST(st1 AS DOUBLE)) AS sl1,
            CAST(sv0 AS DOUBLE) AS sv0d, CAST(st0 AS DOUBLE) AS st0d,
            CAST(sv1 AS DOUBLE) AS sv1d, CAST(st1 AS DOUBLE) AS st1d
          FROM w
        ), g AS (
          SELECT event_type, n_pre, n_post,
                 (n_pre >= 2 AND den0 > 0.0) AS ok0,
                 (n_post >= 2 AND den1 > 0.0) AS ok1,
                 sl0, (sv0d - sl0 * st0d) / CAST(n_pre AS DOUBLE)
                   AS ic0,
                 sl1, (sv1d - sl1 * st1d) / CAST(n_post AS DOUBLE)
                   AS ic1
          FROM f
        )
        SELECT event_type, n_pre, n_post,
               CASE WHEN ok0 THEN round(sl0 / 1e6, 6) END AS slope_pre,
               CASE WHEN ok0 THEN round(ic0 / 1e6, 6) END
                 AS intercept_pre,
               CASE WHEN ok1 THEN round(sl1 / 1e6, 6) END
                 AS slope_post,
               CASE WHEN ok1 THEN round(ic1 / 1e6, 6) END
                 AS intercept_post,
               CASE WHEN ok0 AND ok1 THEN
                 round(((ic1 + sl1 * 16.0) - (ic0 + sl0 * 16.0))
                   / 1e6, 6) END AS level_change,
               CASE WHEN ok0 AND ok1 THEN round((sl1 - sl0) / 1e6, 6)
                 END AS slope_change
        FROM g ORDER BY event_type
      """.trim),
      "X242 interrupted time series at day 16, per event type")(
      (spark, dir) => {
        import spark.implicits._
        val daily = events(spark, dir)
          .groupBy($"event_type", dayofmonth($"ts").cast("long").as("t"))
          .agg((sum(round($"value" * 1e6, 0).cast("long")).cast("double")
            / count(lit(1)).cast("double") / 1e6).as("y"))
        TimeSeries.interruptedSeries(daily, "event_type", "t", "y",
            breakAt = 16L)
          .orderBy($"event_type")
      }),

    // X243: risk-coverage curve — auto-accept events from the top
    // value decile down; what error-event rate does each cut eat.
    QueryDef(
      "q_risk_coverage",
      Some("""
        WITH base AS (
          SELECT CAST(floor(value / 10.0) AS BIGINT) AS s,
                 (event_type = 'error') AS err
          FROM events
        ), per AS (
          SELECT s, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN err THEN 1 ELSE 0 END) AS BIGINT)
                   AS e
          FROM base GROUP BY 1
        ), tot AS (
          SELECT CAST(sum(n) AS BIGINT) AS nn FROM per
        ), cum AS (
          SELECT s,
                 CAST(sum(n) OVER (ORDER BY s DESC) AS BIGINT) AS cn,
                 CAST(sum(e) OVER (ORDER BY s DESC) AS BIGINT) AS ce
          FROM per
        )
        SELECT s AS threshold, cn AS n_covered, ce AS n_errors,
               round(CAST(cn AS DOUBLE) / CAST(nn AS DOUBLE), 6)
                 AS coverage,
               round(CAST(ce AS DOUBLE) / CAST(cn AS DOUBLE), 6)
                 AS risk
        FROM cum, tot ORDER BY threshold DESC
      """.trim),
      "X243 risk-coverage curve over value-decile thresholds")(
      (spark, dir) => {
        import spark.implicits._
        RankEval.riskCoverage(
            events(spark, dir)
              .select(floor($"value" / 10.0).cast("long").as("s"),
                ($"event_type" === "error").as("err")),
            "s", $"err")
          .orderBy($"threshold".desc)
      }),

    // X244: KMV bottom-k set algebra — audience overlap between
    // event types from a sketch ANY SQL engine can re-derive
    // bit-for-bit (the oracle-checkable sibling of X236).
    QueryDef(
      "q_kmv",
      Some("""
        WITH hashes AS (
          SELECT DISTINCT event_type AS g,
                 ('0x' || substr(md5('kmv:' || CAST(user_id
                   AS VARCHAR)), 1, 8))::BIGINT AS h
          FROM events
        ), sk AS (
          SELECT g, h, CAST(row_number() OVER (PARTITION BY g
                   ORDER BY h) AS BIGINT) AS rk
          FROM hashes QUALIFY rk <= 32
        ), pairs AS (
          SELECT a.g AS group_a, b.g AS group_b
          FROM (SELECT DISTINCT g FROM sk) a
          JOIN (SELECT DISTINCT g FROM sk) b ON a.g < b.g
        ), merged AS (
          SELECT group_a, group_b, h,
                 max(ina) AS ia, max(inb) AS ib
          FROM (
            SELECT p.group_a, p.group_b, s.h, 1 AS ina, 0 AS inb
            FROM pairs p JOIN sk s ON s.g = p.group_a
            UNION ALL
            SELECT p.group_a, p.group_b, s.h, 0 AS ina, 1 AS inb
            FROM pairs p JOIN sk s ON s.g = p.group_b)
          GROUP BY 1, 2, 3
        ), bk AS (
          SELECT *, CAST(row_number() OVER (PARTITION BY group_a,
                   group_b ORDER BY h) AS BIGINT) AS rk
          FROM merged QUALIFY rk <= 32
        ), agg AS (
          SELECT group_a, group_b,
                 CAST(count(*) AS BIGINT) AS m,
                 max(CASE WHEN rk = 32 THEN h END) AS hk,
                 CAST(sum(ia * ib) AS BIGINT) AS shared
          FROM bk GROUP BY 1, 2
        ), eu AS (
          SELECT *,
                 CASE WHEN m < 32 THEN CAST(m AS DOUBLE)
                      ELSE 31.0 * 4294967296.0 / CAST(hk AS DOUBLE)
                      END AS est_u
          FROM agg
        )
        SELECT group_a, group_b, shared AS shared_in_bottomk,
               round(est_u, 2) AS est_union,
               round(CAST(shared AS DOUBLE) / CAST(m AS DOUBLE), 6)
                 AS jaccard_est,
               round(est_u * CAST(shared AS DOUBLE)
                 / CAST(m AS DOUBLE), 2) AS est_intersect
        FROM eu ORDER BY group_a, group_b
      """.trim),
      "X244 KMV bottom-32 audience overlap between event types")(
      (spark, dir) => {
        import spark.implicits._
        val sk = Kmv.sketch(events(spark, dir), "event_type",
          "user_id", k = 32, salt = "kmv")
        Kmv.setOps(sk, "event_type", k = 32)
          .orderBy($"group_a", $"group_b")
      }),

    // X247: Burrows' Delta between languages over the corpus's top-20
    // words — provenance forensics in function-word space.
    QueryDef(
      "q_burrows_delta",
      Some("""
        WITH toks AS (
          SELECT lang AS g, unnest(list_filter(
                   string_split_regex(lower(text), '\s+'),
                   x -> x <> '')) AS w
          FROM documents
        ), top AS (
          SELECT w FROM (
            SELECT w, count(*) AS c FROM toks GROUP BY 1
            ORDER BY c DESC, w LIMIT 20)
        ), tot AS (
          SELECT g, CAST(count(*) AS BIGINT) AS t FROM toks GROUP BY 1
        ), cells AS (
          SELECT g, w, CAST(count(*) AS BIGINT) AS n
          FROM toks JOIN top USING (w) GROUP BY 1, 2
        ), frame AS (
          SELECT tot.g, top.w, tot.t, coalesce(cells.n, 0) AS n
          FROM tot CROSS JOIN top
          LEFT JOIN cells ON cells.g = tot.g AND cells.w = top.w
        ), fr AS (
          SELECT g, w,
                 CAST(round(CAST(n AS DOUBLE) / CAST(t AS DOUBLE)
                   * 1e9) AS BIGINT) AS fn
          FROM frame
        ), st AS (
          SELECT w, CAST(count(*) AS BIGINT) AS k,
                 sum(CAST(fn AS HUGEINT)) AS sf,
                 sum(CAST(fn AS HUGEINT) * fn) AS sff
          FROM fr GROUP BY 1
        ), z AS (
          SELECT fr.g, fr.w,
                 CASE WHEN CAST(sff AS DOUBLE) / CAST(k AS DOUBLE)
                        - (CAST(sf AS DOUBLE) / CAST(k AS DOUBLE))
                        * (CAST(sf AS DOUBLE) / CAST(k AS DOUBLE))
                        > 0.0
                 THEN CAST(round((CAST(fn AS DOUBLE)
                        - CAST(sf AS DOUBLE) / CAST(k AS DOUBLE))
                      / sqrt(CAST(sff AS DOUBLE) / CAST(k AS DOUBLE)
                        - (CAST(sf AS DOUBLE) / CAST(k AS DOUBLE))
                        * (CAST(sf AS DOUBLE) / CAST(k AS DOUBLE)))
                      * 1e9) AS BIGINT)
                 ELSE 0 END AS zn
          FROM fr JOIN st USING (w)
        )
        SELECT a.g AS group_a, b.g AS group_b,
               CAST(count(*) AS BIGINT) AS n_words,
               round(CAST(sum(abs(a.zn - b.zn)) AS DOUBLE)
                 / (CAST(count(*) AS DOUBLE) * 1e9), 6) AS delta
        FROM z a JOIN z b ON a.w = b.w AND a.g < b.g
        GROUP BY 1, 2
        ORDER BY group_a, group_b
      """.trim),
      "X247 Burrows' Delta between languages, top-20 words")(
      (spark, dir) => {
        import spark.implicits._
        Stylometry.burrowsDelta(table(spark, dir, "documents"),
            "lang", "text", topM = 20)
          .orderBy($"group_a", $"group_b")
      }),

    // X248: blocking quality — the 50-char length-band blocker
    // scored against strict (lang, 100-band) truth pairs: reduction
    // ratio vs pair completeness.
    QueryDef(
      "q_blocking_quality",
      Some("""
        WITH c2 AS (
          SELECT coalesce(sum(CAST(n AS HUGEINT) * (n - 1)), 0) AS v
          FROM (SELECT count(*) AS n FROM documents
                GROUP BY n_chars // 50)
        ), t2 AS (
          SELECT coalesce(sum(CAST(n AS HUGEINT) * (n - 1)), 0) AS v
          FROM (SELECT count(*) AS n FROM documents
                GROUP BY lang, n_chars // 100)
        ), h2 AS (
          SELECT coalesce(sum(CAST(n AS HUGEINT) * (n - 1)), 0) AS v
          FROM (SELECT count(*) AS n FROM documents
                GROUP BY n_chars // 50, lang, n_chars // 100)
        ), nn AS (
          SELECT CAST(count(*) AS BIGINT) AS n FROM documents
        ), f AS (
          SELECT c2.v AS c2, t2.v AS t2, h2.v AS h2,
                 1.0 - CAST(c2.v AS DOUBLE)
                   / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
                   AS rr,
                 CAST(h2.v AS DOUBLE) / CAST(t2.v AS DOUBLE) AS pc
          FROM c2, t2, h2, nn
        )
        SELECT CAST(c2 // 2 AS BIGINT) AS n_candidates,
               CAST(t2 // 2 AS BIGINT) AS n_truth,
               CAST(h2 // 2 AS BIGINT) AS n_hits,
               round(rr, 6) AS reduction_ratio,
               CASE WHEN t2 > 0 THEN round(pc, 6) END
                 AS pair_completeness,
               CASE WHEN c2 > 0 THEN
                 round(CAST(h2 AS DOUBLE) / CAST(c2 AS DOUBLE), 6) END
                 AS pair_quality,
               CASE WHEN t2 > 0 AND rr + pc > 0.0 THEN
                 round(2.0 * rr * pc / (rr + pc), 6) END AS f_pc_rr
        FROM f
      """.trim),
      "X248 blocking quality: 50-band blocker vs (lang,100-band) truth")(
      (spark, dir) => {
        import spark.implicits._
        RankEval.blockingQualityFromKeys(table(spark, dir, "documents"),
          candKeys = Seq(expr("n_chars div 50")),
          truthKeys = Seq($"lang", expr("n_chars div 100")))
      }),

    // X249: hierarchical path rollup of deterministically constructed
    // crawl URLs — the crawl-budget view by prefix depth.
    QueryDef(
      "q_path_rollup",
      Some("""
        WITH urls AS (
          SELECT doc_id,
                 'https://www.' || source || '.com/s'
                 || CAST(doc_id % 3 AS VARCHAR) || '/t'
                 || CAST(doc_id % 5 AS VARCHAR) || '/p'
                 || CAST(doc_id AS VARCHAR) AS url
          FROM documents
        ), parts AS (
          SELECT regexp_replace(regexp_extract(lower(url),
                   '^[a-z][a-z0-9+.-]*://([^/?#]+)', 1),
                   ':[0-9]+$', '') AS host,
                 regexp_extract(lower(url),
                   '^[a-z][a-z0-9+.-]*://[^/?#]+(/[^?#]*)', 1) AS path
          FROM urls
        ), segs AS (
          SELECT host,
                 list_filter(string_split(path, '/'), s -> s <> '')
                   AS sg
          FROM parts WHERE host <> ''
        ), lv AS (
          SELECT host, sg,
                 unnest(range(0, least(len(sg), 2) + 1)) AS d
          FROM segs
        ), pre AS (
          SELECT host, d,
                 CASE WHEN d = 0 THEN host
                      ELSE host || '/' || array_to_string(sg[1:d], '/')
                      END AS prefix
          FROM lv
        )
        SELECT prefix, CAST(d AS BIGINT) AS depth,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
        FROM pre GROUP BY 1, 2
        ORDER BY prefix, depth
      """.trim),
      "X249 path-prefix rollup to depth 2 over crawl URLs")(
      (spark, dir) => {
        import spark.implicits._
        val urls = table(spark, dir, "documents")
          .select(concat(lit("https://www."), $"source", lit(".com/s"),
            ($"doc_id" % 3).cast("string"), lit("/t"),
            ($"doc_id" % 5).cast("string"), lit("/p"),
            $"doc_id".cast("string")).as("url"))
        CorpusOps.pathRollup(urls, "url", maxDepth = 2)
          .orderBy($"prefix", $"depth")
      }),

    // X250: exact-k weighted sample without replacement (A-ES) — 50
    // docs drawn proportional to length, reproducible cross-engine.
    QueryDef(
      "q_weighted_topk",
      Some("""
        WITH keyed AS (
          SELECT doc_id, CAST(n_chars AS DOUBLE) / 500.0 AS w,
                 ln((('0x' || substr(md5('aes:' || CAST(doc_id
                     AS VARCHAR)), 1, 8))::BIGINT + 1.0)
                   / 4294967296.0)
                 / (CAST(n_chars AS DOUBLE) / 500.0) AS k
          FROM documents WHERE n_chars > 0
        )
        SELECT doc_id, w AS weight, round(k, 6) AS sample_key
        FROM keyed ORDER BY k DESC, doc_id LIMIT 50
      """.trim),
      "X250 A-ES exact-50 length-weighted sample without replacement")(
      (spark, dir) => {
        import spark.implicits._
        CorpusOps.weightedTopK(
          table(spark, dir, "documents")
            .withColumn("w", $"n_chars".cast("double") / 500.0),
          "doc_id", "w", k = 50, salt = "aes")
      }),

    // X251: DEFLATE compression-ratio quality signal. Rows-only by
    // SURVEY §8 (the zlib byte count has no DuckDB twin); the spec
    // pins repetitive-vs-prose behavior and boundary cases.
    QueryDef(
      "q_compression",
      None,
      "X251 deflate compression-ratio quality probe per doc")(
      (spark, dir) => {
        import spark.implicits._
        graft.operators.Compression.compressionSignals(
            table(spark, dir, "documents"), "doc_id", "text")
          .orderBy($"doc_id")
      }),

    // X252: growth accounting of weekly active users — new /
    // retained / resurrected / churned-in per week + quick ratio.
    QueryDef(
      "q_growth_accounting",
      Some("""
        WITH active AS (
          SELECT DISTINCT user_id AS u,
                 CAST((day(ts) - 1) // 7 AS BIGINT) AS w
          FROM events
        ), tagged AS (
          SELECT u, w,
                 lag(w) OVER (PARTITION BY u ORDER BY w) AS prev,
                 lead(w) OVER (PARTITION BY u ORDER BY w) AS nxt
          FROM active
        ), classes AS (
          SELECT w, CAST(count(*) AS BIGINT) AS n_active,
                 CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_new,
                 CAST(sum(CASE WHEN prev = w - 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_retained,
                 CAST(sum(CASE WHEN prev IS NOT NULL AND prev < w - 1
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
          FROM tagged GROUP BY 1
        ), churn AS (
          SELECT w + 1 AS w, CAST(count(*) AS BIGINT) AS ch
          FROM tagged
          WHERE nxt IS NULL OR nxt > w + 1
          GROUP BY 1
        )
        SELECT classes.w AS period, n_active, n_new, n_retained,
               n_resurrected, coalesce(ch, 0) AS n_churned_in,
               CASE WHEN coalesce(ch, 0) > 0 THEN
                 round(CAST(n_new + n_resurrected AS DOUBLE)
                   / CAST(ch AS DOUBLE), 6) END AS quick_ratio
        FROM classes LEFT JOIN churn ON churn.w = classes.w
        ORDER BY period
      """.trim),
      "X252 weekly growth accounting: new/retained/resurrected/churn")(
      (spark, dir) => {
        import spark.implicits._
        Funnel.growthAccounting(events(spark, dir), "user_id",
            expr("(day(ts) - 1) div 7"))
          .orderBy($"period")
      }),

    // X253: markdown structure profile over deterministically
    // decorated docs — the cleaning-router signal.
    QueryDef(
      "q_markdown_profile",
      Some("""
        WITH md AS (
          SELECT doc_id,
                 '# Title' || chr(10) || text || chr(10) || '- item'
                 || CASE WHEN doc_id % 4 = 0
                    THEN chr(10) || '```code```' ELSE '' END
                 || CASE WHEN doc_id % 5 = 0
                    THEN chr(10) || '[a](b)' ELSE '' END AS t
          FROM documents
        ), prof AS (
          SELECT doc_id,
                 CAST(len(regexp_extract_all(t, '(?m)^#{1,6} '))
                   AS BIGINT) AS n_headings,
                 CAST(len(regexp_extract_all(t, '```')) AS BIGINT)
                   AS n_fences,
                 CAST(len(regexp_extract_all(t,
                   '\[[^\]]*\]\([^)]*\)')) AS BIGINT) AS n_links,
                 CAST(len(regexp_extract_all(t, '(?m)^[-*] '))
                   AS BIGINT) AS n_list_items
          FROM md
        )
        SELECT doc_id, n_headings, n_fences, n_links, n_list_items,
               CASE WHEN n_fences >= 2 THEN 'code'
                    WHEN n_headings + n_list_items > 0
                      THEN 'structured'
                    ELSE 'prose' END AS doc_class
        FROM prof ORDER BY doc_id
      """.trim),
      "X253 markdown structure profile + doc-class routing")(
      (spark, dir) => {
        import spark.implicits._
        val md = table(spark, dir, "documents")
          .select($"doc_id", concat(lit("# Title\n"), $"text",
            lit("\n- item"),
            when($"doc_id" % 4 === 0, lit("\n```code```"))
              .otherwise(lit("")),
            when($"doc_id" % 5 === 0, lit("\n[a](b)"))
              .otherwise(lit(""))).as("t"))
        CorpusOps.markdownProfile(md, "doc_id", "t")
          .orderBy($"doc_id")
      }),

    // X254: weight of evidence + information value of the value
    // 50-band feature against conversion — scorecard feature eval.
    QueryDef(
      "q_woe",
      Some("""
        WITH base AS (
          SELECT CAST(floor(value / 50.0) AS BIGINT) AS bin,
                 (event_type IN ('purchase', 'signup')) AS y
          FROM events
        ), cells AS (
          SELECT bin,
                 CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
                   AS goods,
                 CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT)
                   AS bads
          FROM base GROUP BY 1
        ), tot AS (
          SELECT CAST(sum(goods) AS BIGINT) AS gg,
                 CAST(sum(bads) AS BIGINT) AS bb
          FROM cells
        ), f AS (
          SELECT bin, goods + bads AS n, goods, bads,
                 CASE WHEN goods > 0 AND bads > 0 AND gg > 0
                       AND bb > 0 THEN
                   CAST(CAST(round(ln(goods) * 1e9) AS BIGINT)
                     - CAST(round(ln(gg) * 1e9) AS BIGINT)
                     - CAST(round(ln(bads) * 1e9) AS BIGINT)
                     + CAST(round(ln(bb) * 1e9) AS BIGINT) AS DOUBLE)
                     / 1e9 END AS woe,
                 CAST(goods AS DOUBLE) / CAST(gg AS DOUBLE)
                   - CAST(bads AS DOUBLE) / CAST(bb AS DOUBLE) AS df
          FROM cells, tot
        )
        SELECT bin, n, goods, bads, round(woe, 6) AS woe,
               round(df * woe, 6) AS iv_term
        FROM f ORDER BY bin
      """.trim),
      "X254 WoE + IV of the value 50-band feature vs conversion")(
      (spark, dir) => {
        import spark.implicits._
        Calibrate.weightOfEvidence(events(spark, dir),
            binCol = floor($"value" / 50.0).cast("long"),
            labelCol = $"event_type".isin("purchase", "signup"))
          .orderBy($"bin")
      }),

    // X255: compaction plan — pack the synthetic file inventory into
    // ~5000-byte output groups, two-phase prefix sums (no
    // single-partition window).
    QueryDef(
      "q_compaction_plan",
      Some("""
        WITH files AS (
          SELECT 'part-' || CAST(doc_id AS VARCHAR) AS path,
                 CAST(n_chars AS BIGINT) AS bytes
          FROM documents
        ), ranked AS (
          SELECT path, bytes,
                 CAST(row_number() OVER (ORDER BY bytes DESC, path)
                   AS BIGINT) AS size_rank,
                 CAST(coalesce(sum(bytes) OVER (ORDER BY bytes DESC,
                     path ROWS BETWEEN UNBOUNDED PRECEDING AND 1
                     PRECEDING), 0) AS BIGINT) AS strt
          FROM files
        )
        SELECT path, bytes, size_rank,
               CAST(strt // 5000 AS BIGINT) AS output_group
        FROM ranked ORDER BY path
      """.trim),
      "X255 compaction plan: pack files into ~5000-byte groups")(
      (spark, dir) => {
        import spark.implicits._
        val files = table(spark, dir, "documents")
          .select(concat(lit("part-"), $"doc_id".cast("string"))
            .as("path"), $"n_chars".as("bytes"))
        Compaction.plan(files, "path", "bytes", targetBytes = 5000L)
          .orderBy($"path")
      }),

    // X256: per-key salting plan — users generating more than 50
    // rows get a salt factor for the skewed join path.
    QueryDef(
      "q_salt_plan",
      Some("""
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows,
               CAST((count(*) + 49) // 50 AS BIGINT) AS salt_factor
        FROM events GROUP BY 1 HAVING count(*) > 50
        ORDER BY user_id
      """.trim),
      "X256 per-key salt plan: events users above 50 rows/task")(
      (spark, dir) => {
        import spark.implicits._
        graft.operators.SaltedJoin.saltPlan(events(spark, dir),
            "user_id", targetPerTask = 50L)
          .orderBy($"user_id")
      }),

    // X257: MMR diverse top-10 against the e0 probe direction.
    // r12: relevance/redundancy nano-quantize to longs, so the
    // greedy replays as an unrolled MATERIALIZED-CTE chain — full
    // hash oracle; the spec keeps the redundancy-suppression law.
    QueryDef(
      "q_mmr",
      Some(mmrSql(k = 10, poolSize = 50, lambda = 0.7)),
      "X257 MMR diverse top-10, e0 probe, lambda 0.7")(
      (spark, dir) => {
        import spark.implicits._
        val q = Array.tabulate(64)(i => if (i == 0) 1.0 else 0.0)
        Similarity.mmrSelect(table(spark, dir, "embeddings"),
            "vec_id", "embedding", q, k = 10, lambda = 0.7,
            poolSize = 50)
          .orderBy($"selection_rank")
      }),

    // X258: effective rank of the embedding covariance — how many
    // dimensions the encoder really uses, no eigendecomposition.
    QueryDef(
      "q_effective_rank",
      Some("""
        WITH e AS (
          SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
                 unnest(CAST(embedding AS DOUBLE[])) AS x
          FROM embeddings
        ), q AS (
          SELECT vec_id, i, CAST(round(x * 1000000.0) AS BIGINT) AS qv
          FROM e
        ), pairs AS (
          SELECT a.i AS i, b.i AS j, CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(a.qv AS HUGEINT)) AS si,
                 sum(CAST(b.qv AS HUGEINT)) AS sj,
                 sum(CAST(a.qv AS HUGEINT) * b.qv) AS sij
          FROM q a JOIN q b ON a.vec_id = b.vec_id
          GROUP BY 1, 2
        ), cells AS (
          SELECT i, j,
                 CAST(round((CAST(sij AS DOUBLE) / n
                   - (CAST(si AS DOUBLE) / n)
                   * (CAST(sj AS DOUBLE) / n)) / 1e12 * 1e9)
                   AS BIGINT) AS cn
          FROM pairs
        ), f AS (
          SELECT CAST(sum(CASE WHEN i = j THEN cn ELSE 0 END)
                   AS BIGINT) AS tr,
                 sum(CAST(cn AS HUGEINT) * cn) AS fr,
                 CAST(count(*) AS BIGINT) AS d2
          FROM cells
        )
        SELECT CAST(sqrt(CAST(d2 AS DOUBLE)) AS BIGINT) AS dim,
               round(CAST(tr AS DOUBLE) / 1e9, 6) AS trace,
               round(CAST(fr AS DOUBLE) / 1e18, 6) AS frobenius_sq,
               CASE WHEN fr > 0 THEN
                 round(CAST(tr AS DOUBLE) * CAST(tr AS DOUBLE)
                   / CAST(fr AS DOUBLE), 6) END AS effective_rank
        FROM f
      """.trim),
      "X258 effective rank (participation ratio) of the embeddings")(
      (spark, dir) => {
        import spark.implicits._
        Similarity.effectiveRank(table(spark, dir, "embeddings"),
          "vec_id", "embedding")
      }),

    // X259: Hopkins clusterability statistic — should SemDeDup/KMeans
    // even run here. r12: the probe construction moved to pure
    // integer arithmetic (micro bounds, md5-head rounded division),
    // so the whole statistic replays as SQL — full hash oracle.
    QueryDef(
      "q_hopkins",
      Some("""
        WITH q AS (
          SELECT vec_id, list_transform(embedding,
            x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
            AS v
          FROM embeddings
        ), dims AS (
          SELECT unnest(generate_series(1,
            (SELECT min(len(v)) FROM q))) AS i
        ), b AS (
          SELECT i, min(v[i]) AS lo, max(v[i]) AS hi
          FROM q, dims GROUP BY i
        ), pr AS (
          SELECT p, list(lo +
            ((CAST(('0x' || substr(md5('hop:' || CAST(p AS VARCHAR)
                || '_' || CAST(i - 1 AS VARCHAR)), 1, 8)) AS BIGINT)
              + 1) * (hi - lo) + 2147483648) // 4294967296
            ORDER BY i) AS pv
          FROM b, (SELECT unnest(generate_series(1, 20)) AS p)
          GROUP BY p
        ), s AS (
          SELECT vec_id, v FROM q
          ORDER BY CAST(('0x' || substr(md5('hop-s:'
            || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT), vec_id
          LIMIT 20
        ), probes AS (
          SELECT CAST(p AS BIGINT) AS pid, CAST(-1 AS BIGINT) AS self,
                 pv
          FROM pr
          UNION ALL SELECT vec_id, vec_id, v FROM s
        ), nn AS (
          SELECT t.pid, t.self,
                 min(list_sum(list_transform(
                   generate_series(1, len(q.v)),
                   k -> (q.v[k] - t.pv[k]) * (q.v[k] - t.pv[k]))))
                   AS d2
          FROM probes t, q
          WHERE q.vec_id <> t.self
          GROUP BY t.pid, t.self
        ), agg AS (
          SELECT CAST(sum(CASE WHEN self = -1 THEN d2 ELSE 0 END)
                   AS BIGINT) AS u,
                 CAST(sum(CASE WHEN self <> -1 THEN d2 ELSE 0 END)
                   AS BIGINT) AS w,
                 CAST(sum(CASE WHEN self = -1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_probes
          FROM nn
        )
        SELECT n_probes,
               (SELECT CAST(count(*) AS BIGINT) FROM dims) AS dim,
               round(CAST(u AS DOUBLE) / 1e12, 6) AS u_sum,
               round(CAST(w AS DOUBLE) / 1e12, 6) AS w_sum,
               CASE WHEN u + w > 0 THEN
                 round(CAST(u AS DOUBLE) / CAST(u + w AS DOUBLE), 6)
               END AS hopkins
        FROM agg
      """.trim),
      "X259 Hopkins clusterability of the embedding corpus, m=20")(
      (spark, dir) => {
        import spark.implicits._
        Similarity.hopkins(table(spark, dir, "embeddings"),
          "vec_id", "embedding", m = 20, salt = "hop")
      }),

    // X260: Qini uplift curve — does targeting by the value score
    // find incremental purchases, against the X231 treatment layout.
    QueryDef(
      "q_qini",
      Some("""
        WITH base AS (
          SELECT CAST(floor(value / 50.0) AS BIGINT) AS s,
                 (user_id % 2 = 0) AS tr,
                 (event_type = 'purchase') AS y
          FROM events
        ), per AS (
          SELECT s,
                 CAST(sum(CASE WHEN tr THEN 1 ELSE 0 END) AS BIGINT)
                   AS nt,
                 CAST(sum(CASE WHEN tr THEN 0 ELSE 1 END) AS BIGINT)
                   AS nc,
                 CAST(sum(CASE WHEN tr AND y THEN 1 ELSE 0 END)
                   AS BIGINT) AS xt,
                 CAST(sum(CASE WHEN NOT tr AND y THEN 1 ELSE 0 END)
                   AS BIGINT) AS xc
          FROM base GROUP BY 1
        ), cum AS (
          SELECT s,
                 CAST(sum(nt) OVER (ORDER BY s DESC) AS BIGINT) AS cnt,
                 CAST(sum(nc) OVER (ORDER BY s DESC) AS BIGINT) AS cnc,
                 CAST(sum(xt) OVER (ORDER BY s DESC) AS BIGINT) AS cxt,
                 CAST(sum(xc) OVER (ORDER BY s DESC) AS BIGINT) AS cxc
          FROM per
        )
        SELECT s AS threshold, cnt AS n_treated, cnc AS n_control,
               cxt AS x_treated, cxc AS x_control,
               CASE WHEN cnc > 0 THEN
                 round(CAST(cxt AS DOUBLE) - CAST(cxc AS DOUBLE)
                   * (CAST(cnt AS DOUBLE) / CAST(cnc AS DOUBLE)), 6)
                 END AS qini
        FROM cum ORDER BY threshold DESC
      """.trim),
      "X260 Qini uplift curve over value-score cuts")(
      (spark, dir) => {
        import spark.implicits._
        RankEval.qiniCurve(
            events(spark, dir)
              .select(floor($"value" / 50.0).cast("long").as("s"),
                ($"user_id" % 2 === 0).as("tr"),
                ($"event_type" === "purchase").as("y")),
            "s", col("tr"), col("y"))
          .orderBy($"threshold".desc)
      }),

    // X261: precision-recall curve + running average precision over
    // value-decile cuts — the imbalance-honest eval beside X147.
    QueryDef(
      "q_pr_curve",
      Some("""
        WITH base AS (
          SELECT CAST(floor(value / 10.0) AS BIGINT) AS s,
                 (event_type IN ('purchase', 'signup')) AS y
          FROM events
        ), per AS (
          SELECT s,
                 CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
                   AS p,
                 CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT)
                   AS q
          FROM base GROUP BY 1
        ), tot AS (SELECT CAST(sum(p) AS BIGINT) AS pos FROM per),
        cum AS (
          SELECT s, p, q, pos,
                 CAST(sum(p) OVER (ORDER BY s DESC) AS BIGINT) AS tp,
                 CAST(sum(q) OVER (ORDER BY s DESC) AS BIGINT) AS fp
          FROM per, tot
        ), terms AS (
          SELECT *,
                 CAST(round(CAST(p AS DOUBLE) / CAST(pos AS DOUBLE)
                   * (CAST(tp AS DOUBLE)
                      / CAST(tp + fp AS DOUBLE)) * 1e9) AS BIGINT)
                   AS apn
          FROM cum
        )
        SELECT s AS threshold, tp, fp,
               round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6)
                 AS precision,
               CASE WHEN pos > 0 THEN
                 round(CAST(tp AS DOUBLE) / CAST(pos AS DOUBLE), 6)
                 END AS recall,
               CASE WHEN pos > 0 THEN
                 round(CAST(sum(apn) OVER (ORDER BY s DESC) AS DOUBLE)
                   / 1e9, 6) END AS avg_precision_running
        FROM terms ORDER BY threshold DESC
      """.trim),
      "X261 PR curve + running AP over value-decile cuts")(
      (spark, dir) => {
        import spark.implicits._
        RankEval.prCurve(
            events(spark, dir)
              .select(floor($"value" / 10.0).cast("long").as("s"),
                $"event_type".isin("purchase", "signup").as("y")),
            "s", col("y"))
          .orderBy($"threshold".desc)
      }),

    // X262: expected-cost threshold — a false accept costs 1, a
    // missed conversion 5; which cut minimizes the bill.
    QueryDef(
      "q_cost_threshold",
      Some("""
        WITH base AS (
          SELECT CAST(floor(value / 10.0) AS BIGINT) AS s,
                 (event_type IN ('purchase', 'signup')) AS y
          FROM events
        ), per AS (
          SELECT s,
                 CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
                   AS p,
                 CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT)
                   AS q
          FROM base GROUP BY 1
        ), tot AS (SELECT CAST(sum(p) AS BIGINT) AS pos FROM per),
        cum AS (
          SELECT s,
                 CAST(sum(q) OVER (ORDER BY s DESC) AS BIGINT) AS fp,
                 pos - CAST(sum(p) OVER (ORDER BY s DESC) AS BIGINT)
                   AS fn
          FROM per, tot
        ), costed AS (
          SELECT s, fp, fn,
                 CAST(fp AS HUGEINT) * 1000000
                   + CAST(fn AS HUGEINT) * 5000000 AS cost
          FROM cum
        ), best AS (
          SELECT cost AS bc, s AS bs FROM costed
          ORDER BY cost, s DESC LIMIT 1
        )
        SELECT s AS threshold, fp AS n_false_pos, fn AS n_false_neg,
               round(CAST(cost AS DOUBLE) / 1e6, 6) AS expected_cost,
               (cost = bc AND s = bs) AS is_optimal
        FROM costed, best ORDER BY threshold DESC
      """.trim),
      "X262 expected-cost threshold pick, cFP=1 cFN=5")(
      (spark, dir) => {
        import spark.implicits._
        RankEval.costThreshold(
            events(spark, dir)
              .select(floor($"value" / 10.0).cast("long").as("s"),
                $"event_type".isin("purchase", "signup").as("y")),
            "s", col("y"), fpCost = 1.0, fnCost = 5.0)
          .orderBy($"threshold".desc)
      }),

    // X263: multi-class classification report — a classifier that
    // mislabels every 5th doc as 'en', scored per language plus
    // macro/micro F1.
    QueryDef(
      "q_class_report",
      Some("""
        WITH pairs AS (
          SELECT lang AS a,
                 CASE WHEN doc_id % 5 = 0 THEN 'en' ELSE lang END AS p
          FROM documents
        ), cells AS (
          SELECT a, p, CAST(count(*) AS BIGINT) AS c
          FROM pairs GROUP BY 1, 2
        ), byA AS (
          SELECT a AS label, CAST(sum(c) AS BIGINT) AS actual,
                 CAST(sum(CASE WHEN a = p THEN c ELSE 0 END) AS BIGINT)
                   AS tp
          FROM cells GROUP BY 1
        ), byP AS (
          SELECT p AS label, CAST(sum(c) AS BIGINT) AS pred
          FROM cells GROUP BY 1
        ), per AS (
          SELECT coalesce(byA.label, byP.label) AS label,
                 coalesce(tp, 0) AS tp,
                 coalesce(pred, 0) - coalesce(tp, 0) AS fp,
                 coalesce(actual, 0) - coalesce(tp, 0) AS fn
          FROM byA FULL JOIN byP ON byA.label = byP.label
        ), scored AS (
          SELECT label, tp, fp, fn,
                 CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE)
                   / CAST(tp + fp AS DOUBLE) END AS prec,
                 CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE)
                   / CAST(tp + fn AS DOUBLE) END AS rec
          FROM per
        ), f1d AS (
          SELECT *,
                 CASE WHEN prec IS NOT NULL AND rec IS NOT NULL
                       AND prec + rec > 0.0
                      THEN 2.0 * prec * rec / (prec + rec) END AS f1
          FROM scored
        ), mac AS (
          SELECT CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(coalesce(CAST(round(f1 * 1e9) AS BIGINT),
                   0)) AS BIGINT) AS f1n,
                 CAST(sum(tp) AS BIGINT) AS tpT,
                 CAST(sum(fp) AS BIGINT) AS fpT
          FROM f1d
        )
        SELECT label, CAST(tp AS BIGINT) AS tp,
               CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
               round(prec, 6) AS precision, round(rec, 6) AS recall,
               round(f1, 6) AS f1,
               round(CAST(f1n AS DOUBLE)
                 / (CAST(k AS DOUBLE) * 1e9), 6) AS macro_f1,
               round(CAST(tpT AS DOUBLE)
                 / CAST(tpT + fpT AS DOUBLE), 6) AS micro_f1
        FROM f1d, mac ORDER BY label
      """.trim),
      "X263 per-language classification report + macro/micro F1")(
      (spark, dir) => {
        import spark.implicits._
        RankEval.classificationReport(
            table(spark, dir, "documents"),
            actualCol = $"lang",
            predictedCol = when($"doc_id" % 5 === 0, "en")
              .otherwise($"lang"))
          .orderBy($"label")
      }),

    // X264: Nelson-Aalen cumulative hazard of view-to-purchase — the
    // additive hazard face of q_kaplan_meier's survival curve, same
    // subjects table.
    QueryDef(
      "q_nelson_aalen",
      Some("""
        WITH u AS (
          SELECT user_id,
                 min(CASE WHEN event_type = 'view'
                   THEN CAST(ts AS DATE) END) AS fv,
                 min(CASE WHEN event_type = 'purchase'
                   THEN CAST(ts AS DATE) END) AS fp
          FROM events GROUP BY 1
        ), mx AS (SELECT max(CAST(ts AS DATE)) AS mend FROM events),
        subj AS (
          SELECT CASE WHEN fp IS NOT NULL AND fp >= fv
                   THEN CAST(date_diff('day', fv, fp) AS BIGINT)
                   ELSE CAST(date_diff('day', fv, mend) AS BIGINT)
                 END AS dur,
                 (fp IS NOT NULL AND fp >= fv) AS ev
          FROM u, mx WHERE fv IS NOT NULL
        ), per AS (
          SELECT dur AS t, CAST(count(*) AS BIGINT) AS m,
                 CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT)
                   AS d
          FROM subj GROUP BY 1
        ), tot AS (SELECT CAST(sum(m) AS BIGINT) AS nn FROM per),
        rs AS (
          SELECT t, m, d, nn,
                 nn - (CAST(sum(m) OVER (ORDER BY t) AS BIGINT) - m)
                   AS nrisk
          FROM per, tot
        ), terms AS (
          SELECT t, d, nrisk,
                 CAST(round(CAST(d AS DOUBLE)
                   / CAST(nrisk AS DOUBLE) * 1e9) AS BIGINT) AS hn
          FROM rs WHERE d > 0
        )
        SELECT t AS duration, nrisk AS n_at_risk, d AS n_events,
               round(CAST(sum(hn) OVER (ORDER BY t) AS DOUBLE) / 1e9,
                 6) AS cumulative_hazard
        FROM terms ORDER BY duration
      """.trim),
      "X264 Nelson-Aalen view-to-purchase cumulative hazard")(
      (spark, dir) => {
        import spark.implicits._
        val ev = events(spark, dir)
        val day = to_date(date_trunc("day", $"ts"))
        val u = ev.groupBy($"user_id").agg(
          min(when($"event_type" === "view", day)).as("fv"),
          min(when($"event_type" === "purchase", day)).as("fp"))
        val mx = ev.agg(max(day).as("mend"))
        val subj = u.crossJoin(broadcast(mx))
          .filter($"fv".isNotNull)
          .select(
            when($"fp".isNotNull && $"fp" >= $"fv",
              datediff($"fp", $"fv"))
              .otherwise(datediff($"mend", $"fv")).cast("long")
              .as("dur"),
            ($"fp".isNotNull && $"fp" >= $"fv").as("ev"))
        Funnel.nelsonAalen(subj, "dur", $"ev")
          .orderBy($"duration")
      }),

    // X265: Cronbach's alpha of three length-flavored doc sub-scores
    // — do they measure one underlying thing.
    QueryDef(
      "q_cronbach",
      Some("""
        WITH q AS (
          SELECT CAST(round(n_chars / 500.0 * 1000000.0) AS BIGINT)
                   AS q0,
                 CAST(round(len(list_filter(string_split_regex(
                     lower(text), '\s+'), x -> x <> '')) / 100.0
                   * 1000000.0) AS BIGINT) AS q1,
                 CAST(round((length(text) - length(replace(text, ' ',
                     ''))) / 400.0 * 1000000.0) AS BIGINT) AS q2
          FROM documents
        ), s AS (
          SELECT q0, q1, q2, q0 + q1 + q2 AS st FROM q
        ), w AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(q0 AS HUGEINT)) AS a0,
                 sum(CAST(q0 AS HUGEINT) * q0) AS b0,
                 sum(CAST(q1 AS HUGEINT)) AS a1,
                 sum(CAST(q1 AS HUGEINT) * q1) AS b1,
                 sum(CAST(q2 AS HUGEINT)) AS a2,
                 sum(CAST(q2 AS HUGEINT) * q2) AS b2,
                 sum(CAST(st AS HUGEINT)) AS at_,
                 sum(CAST(st AS HUGEINT) * st) AS bt
          FROM s
        ), v AS (
          SELECT n,
            (CAST(b0 AS DOUBLE) - CAST(a0 AS DOUBLE)
              * CAST(a0 AS DOUBLE) / n) / (n - 1.0)
            + (CAST(b1 AS DOUBLE) - CAST(a1 AS DOUBLE)
              * CAST(a1 AS DOUBLE) / n) / (n - 1.0)
            + (CAST(b2 AS DOUBLE) - CAST(a2 AS DOUBLE)
              * CAST(a2 AS DOUBLE) / n) / (n - 1.0) AS ivs,
            (CAST(bt AS DOUBLE) - CAST(at_ AS DOUBLE)
              * CAST(at_ AS DOUBLE) / n) / (n - 1.0) AS tv
          FROM w
        )
        SELECT n, CAST(3 AS BIGINT) AS n_items,
               round(ivs / 1e12, 6) AS item_var_sum,
               round(tv / 1e12, 6) AS total_var,
               CASE WHEN n > 1 AND tv > 0.0 THEN
                 round(1.5 * (1.0 - ivs / tv), 6) END AS alpha
        FROM v
      """.trim),
      "X265 Cronbach's alpha of three doc length sub-scores")(
      (spark, dir) => {
        import spark.implicits._
        Hypothesis.cronbachAlpha(table(spark, dir, "documents"),
          Seq($"n_chars" / 500.0,
            size(Dedup.tokens($"text")).cast("double") / 100.0,
            expr("length(text) - length(replace(text, ' ', ''))")
              .cast("double") / 400.0))
      }),

    // X266: one-way ANOVA of event value across event types —
    // F, dof, and the eta-squared effect size.
    QueryDef(
      "q_anova",
      Some("""
        WITH q AS (
          SELECT event_type AS g,
                 CAST(round(value * 1000000.0) AS BIGINT) AS v
          FROM events
        ), cells AS (
          SELECT g, CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(v AS HUGEINT)) AS s,
                 sum(CAST(v AS HUGEINT) * v) AS ss
          FROM q GROUP BY 1
        ), w AS (
          SELECT CAST(count(*) AS BIGINT) AS n_groups,
                 CAST(sum(n) AS BIGINT) AS n_total,
                 sum(s) AS sT, sum(ss) AS ssT,
                 sum(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                   / CAST(n AS DOUBLE)) AS sb
          FROM cells
        ), f AS (
          SELECT n_groups, n_total,
                 sb - CAST(sT AS DOUBLE) * CAST(sT AS DOUBLE)
                   / CAST(n_total AS DOUBLE) AS ssb,
                 CAST(ssT AS DOUBLE) - CAST(sT AS DOUBLE)
                   * CAST(sT AS DOUBLE) / CAST(n_total AS DOUBLE)
                   AS sst
          FROM w
        )
        SELECT n_groups, n_total,
               CAST(n_groups - 1 AS BIGINT) AS df_between,
               CAST(n_total - n_groups AS BIGINT) AS df_within,
               CASE WHEN n_total > n_groups AND n_groups > 1
                     AND sst - ssb > 0.0 THEN
                 round((ssb / (CAST(n_groups AS DOUBLE) - 1.0))
                   / ((sst - ssb)
                      / (CAST(n_total AS DOUBLE)
                         - CAST(n_groups AS DOUBLE))), 6)
                 END AS f_stat,
               CASE WHEN sst > 0.0 THEN round(ssb / sst, 6) END
                 AS eta_sq
        FROM f
      """.trim),
      "X266 one-way ANOVA of event value across event types")(
      (spark, dir) => {
        import spark.implicits._
        Hypothesis.oneWayAnova(events(spark, dir), "event_type",
          "value")
      }),

    // X267: Kruskal-Wallis — the rank-based sibling of q_anova, no
    // normality assumed.
    QueryDef(
      "q_kruskal",
      Some("""
        WITH cells AS (
          SELECT CAST(round(value * 1000000.0) AS BIGINT) AS v,
                 event_type AS g, CAST(count(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2
        ), perv AS (
          SELECT v, CAST(sum(c) AS BIGINT) AS cv FROM cells GROUP BY 1
        ), ranked AS (
          SELECT v,
                 2 * (CAST(sum(cv) OVER (ORDER BY v) AS BIGINT) - cv)
                   + cv + 1 AS m2
          FROM perv
        ), gs AS (
          SELECT g, CAST(sum(c) AS BIGINT) AS ng,
                 sum(CAST(c AS HUGEINT) * m2) AS r2
          FROM cells JOIN ranked USING (v) GROUP BY 1
        ), ties AS (
          SELECT CAST(sum(cv) AS BIGINT) AS nT,
                 sum(CAST(cv AS HUGEINT) * cv * cv - cv) AS tt
          FROM perv
        ), fold AS (
          SELECT CAST(count(*) AS BIGINT) AS n_groups,
                 sum(CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE)
                   / CAST(ng AS DOUBLE)) AS sr
          FROM gs
        ), fin AS (
          SELECT n_groups, nT,
                 3.0 / (CAST(nT AS DOUBLE) * (CAST(nT AS DOUBLE)
                   + 1.0)) * sr - 3.0 * (CAST(nT AS DOUBLE) + 1.0)
                   AS h,
                 1.0 - CAST(tt AS DOUBLE)
                   / (CAST(nT AS DOUBLE) * CAST(nT AS DOUBLE)
                      * CAST(nT AS DOUBLE) - CAST(nT AS DOUBLE))
                   AS corr
          FROM fold, ties
        )
        SELECT n_groups, nT AS n_total,
               CAST(n_groups - 1 AS BIGINT) AS df,
               CASE WHEN corr > 0.0 AND n_groups > 1 THEN
                 round(h / corr, 6) END AS h_stat
        FROM fin
      """.trim),
      "X267 Kruskal-Wallis of event value across event types")(
      (spark, dir) => {
        import spark.implicits._
        Hypothesis.kruskalWallis(events(spark, dir), "event_type",
          "value")
      }),

    // X268: exponential time-decay aggregates per event type — the
    // "what's hot NOW" freshness score, half-life 7 days. The decay
    // constant is inlined VERBATIM into both engines so the exp()
    // inputs are bit-identical.
    QueryDef(
      "q_decay_agg", {
        val lam = math.log(2.0) / 7.0
        Some(s"""
        WITH h AS (
          SELECT max(CAST(ts AS DATE)) AS hz FROM events
        ), aged AS (
          SELECT event_type,
                 CAST(round(value * 1000000.0) AS BIGINT) AS v,
                 CAST(round(exp(CAST(date_diff('day',
                     CAST(ts AS DATE), hz) AS DOUBLE) * -$lam)
                   * 1e9) AS BIGINT) AS wn
          FROM events, h
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               round(CAST(sum(CAST(wn AS HUGEINT)) AS DOUBLE) / 1e9,
                 6) AS decayed_count,
               round(CAST(sum(CAST(v AS HUGEINT) * wn) AS DOUBLE)
                 / 1e15, 6) AS decayed_value_sum
        FROM aged GROUP BY 1 ORDER BY event_type
        """.trim)
      },
      "X268 7-day half-life decay aggregates per event type")(
      (spark, dir) => {
        import spark.implicits._
        TimeSeries.decayAggregate(events(spark, dir), "event_type",
            "ts", "value", halfLifeDays = 7.0)
          .orderBy($"event_type")
      }),

    // X269: multi-touch attribution — which channel (view/click)
    // earns first/last/linear credit for purchases, 7-day lookback;
    // untouched purchases land in '(none)' so credit conserves.
    QueryDef(
      "q_attribution",
      Some("""
        WITH t AS (
          SELECT user_id AS k, ts AS tt, event_type AS ch
          FROM events WHERE event_type IN ('view', 'click')
        ), c AS (
          SELECT user_id AS k, ts AS ct, event_id AS cid
          FROM events WHERE event_type = 'purchase'
        ), j AS (
          SELECT c.cid, t.ch,
                 (t.tt IS NOT NULL AND t.tt <= c.ct
                  AND t.tt >= c.ct - INTERVAL 7 DAY) AS ok,
                 t.tt
          FROM c LEFT JOIN t ON c.k = t.k
        ), j2 AS (
          SELECT cid, CASE WHEN ok THEN ch END AS ch, ok,
                 CASE WHEN ok THEN tt END AS tt2
          FROM j
        ), sc AS (
          SELECT *,
                 CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END)
                   OVER (PARTITION BY cid) AS BIGINT) AS nt,
                 row_number() OVER (PARTITION BY cid
                   ORDER BY tt2 ASC NULLS LAST, ch) AS rka,
                 row_number() OVER (PARTITION BY cid
                   ORDER BY tt2 DESC NULLS LAST, ch) AS rkd
          FROM j2
        ), kept AS (
          -- an untouched conversion keeps exactly ONE row: a second
          -- out-of-window touch must not double its '(none)' credit
          SELECT * FROM sc WHERE ok OR (nt = 0 AND rka = 1)
        ), cr AS (
          SELECT coalesce(ch, '(none)') AS chan, cid,
                 CASE WHEN nt = 0 OR rka = 1 THEN 1 ELSE 0 END AS fst,
                 CASE WHEN nt = 0 OR rkd = 1 THEN 1 ELSE 0 END AS lst,
                 CASE WHEN nt = 0 THEN 1000000
                      ELSE 1000000 // nt
                        + CASE WHEN rka = 1 THEN 1000000 % nt
                               ELSE 0 END END AS lin
          FROM kept
        )
        SELECT chan AS channel,
               CAST(sum(fst) AS BIGINT) AS first_touch,
               CAST(sum(lst) AS BIGINT) AS last_touch,
               round(CAST(sum(lin) AS DOUBLE) / 1e6, 6)
                 AS linear_credit,
               CAST(count(DISTINCT cid) AS BIGINT)
                 AS conversions_touched
        FROM cr GROUP BY 1 ORDER BY channel
      """.trim),
      "X269 first/last/linear purchase attribution, 7-day lookback")(
      (spark, dir) => {
        import spark.implicits._
        val ev = events(spark, dir)
        Funnel.attribution(
            touches = ev.filter($"event_type".isin("view", "click")),
            conversions = ev.filter($"event_type" === "purchase"),
            keyCol = "user_id", tsCol = "ts",
            channelCol = "event_type", convIdCol = "event_id",
            lookbackDays = 7)
          .orderBy($"channel")
      }),

    // X270: Gwet's AC1 on the two document quality gates — the
    // kappa-paradox-proof agreement beside q_mcnemar's symmetry test.
    QueryDef(
      "q_gwet_ac1",
      Some("""
        WITH verdicts AS (
          SELECT CASE WHEN n_chars >= 250 THEN 'keep' ELSE 'drop' END
                   AS a,
                 CASE WHEN length(text) - length(replace(text, ' ',
                     '')) >= 40 THEN 'keep' ELSE 'drop' END AS b
          FROM documents
        ), cells AS (
          SELECT a, b, CAST(count(*) AS BIGINT) AS c
          FROM verdicts GROUP BY 1, 2
        ), nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
        ag AS (
          SELECT CAST(coalesce(sum(CASE WHEN a = b THEN c END), 0)
            AS BIGINT) AS agree
          FROM cells
        ), marg AS (
          SELECT v, CAST(sum(c) AS BIGINT) AS m FROM (
            SELECT a AS v, c FROM cells
            UNION ALL SELECT b AS v, c FROM cells)
          GROUP BY 1
        ), kc AS (
          SELECT CAST(count(*) AS BIGINT) AS k,
                 sum(CAST(m AS HUGEINT) * m) AS mm
          FROM marg
        ), f AS (
          SELECT n, k, CAST(agree AS DOUBLE) / n AS po,
                 CASE WHEN k > 1 THEN
                   (1.0 - CAST(mm AS DOUBLE)
                     / (4.0 * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                   / (CAST(k AS DOUBLE) - 1.0)
                 ELSE 0.0 END AS e
          FROM nn, ag, kc
        )
        SELECT n AS n_items, k AS n_categories,
               round(po, 6) AS observed_agreement,
               round(e, 6) AS chance_agreement,
               CASE WHEN e < 1.0 THEN round((po - e) / (1.0 - e), 6)
                    END AS ac1
        FROM f
      """.trim),
      "X270 Gwet's AC1 between the char and word quality gates")(
      (spark, dir) => {
        import spark.implicits._
        RankEval.gwetAc1(
          table(spark, dir, "documents")
            .select(when($"n_chars" >= 250, "keep").otherwise("drop")
              .as("a"),
              when(expr("length(text) - length(replace(text, ' ', ''))")
                >= 40, "keep").otherwise("drop").as("b")),
          "a", "b")
      }),

    // X271: Wasserstein-1 drift of doc length, en vs the rest — the
    // drift metric with UNITS (characters).
    QueryDef(
      "q_wasserstein",
      Some("""
        WITH per AS (
          SELECT CAST(round(n_chars * 1e6) AS BIGINT) AS v,
                 CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                   AS BIGINT) AS ca,
                 CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)
                   AS BIGINT) AS cb
          FROM documents GROUP BY 1
        ), tot AS (
          SELECT CAST(sum(ca) AS BIGINT) AS na,
                 CAST(sum(cb) AS BIGINT) AS nb
          FROM per
        ), cum AS (
          SELECT v,
                 CAST(sum(ca) OVER (ORDER BY v) AS BIGINT) AS cuma,
                 CAST(sum(cb) OVER (ORDER BY v) AS BIGINT) AS cumb,
                 lead(v) OVER (ORDER BY v) - v AS gap
          FROM per
        )
        SELECT na AS n_a, nb AS n_b,
               CASE WHEN na > 0 AND nb > 0 THEN
                 round(coalesce(CAST(sum(abs(CAST(cuma AS HUGEINT)
                     * nb - CAST(cumb AS HUGEINT) * na)
                   * gap) AS DOUBLE), 0.0)
                   / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) * 1e6),
                   6) END AS wasserstein1
        FROM cum, tot WHERE gap IS NOT NULL
        GROUP BY na, nb
      """.trim),
      "X271 Wasserstein-1 length drift, en vs rest (character units)")(
      (spark, dir) => {
        import spark.implicits._
        Hypothesis.wasserstein1(table(spark, dir, "documents"),
          "n_chars", $"lang" === "en")
      }),

    // X272: geometric median of the embedding corpus — the robust
    // centroid. r12: the center state moved to exact micro integers
    // (sign-aware half-away rounded division each round, integer
    // distance folds, weight = round(1e15/sqrt(D)) on an exact
    // integer), so the 8 Weiszfeld rounds replay as an unrolled CTE
    // chain — full hash oracle (the X101/X132 iterative-replay
    // convention).
    QueryDef(
      "q_geo_median",
      Some(geoMedianSql(8)),
      "X272 geometric median of the embeddings (Weiszfeld, 8 iters)")(
      (spark, dir) => {
        import spark.implicits._
        Similarity.geometricMedian(table(spark, dir, "embeddings"),
            "vec_id", "embedding", iters = 8)
          .orderBy($"dim")
      }),

    // X273: mix-adjusted long-doc rates per source — the Simpson's
    // trap remover: re-weight each source's per-language rates by
    // the pooled language mix.
    QueryDef(
      "q_std_rates",
      Some("""
        WITH cells AS (
          SELECT source, lang, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END)
                   AS BIGINT) AS x
          FROM documents GROUP BY 1, 2
        ), ref AS (
          SELECT lang, CAST(sum(n) AS BIGINT) AS ns
          FROM cells GROUP BY 1
        ), rt AS (SELECT CAST(sum(ns) AS BIGINT) AS nn FROM ref),
        groups AS (
          SELECT source, CAST(sum(n) AS BIGINT) AS n_rows,
                 CAST(sum(x) AS BIGINT) AS successes
          FROM cells GROUP BY 1
        ), frame AS (
          SELECT g.source, g.n_rows, g.successes, ref.lang, ref.ns,
                 cells.n AS cn, cells.x AS cx
          FROM groups g CROSS JOIN ref
          LEFT JOIN cells ON cells.source = g.source
            AND cells.lang = ref.lang
        ), folded AS (
          SELECT source, n_rows, successes,
                 CAST(sum(CAST(round(CAST(ns AS DOUBLE)
                     / CAST(nn AS DOUBLE)
                   * (CASE WHEN cn IS NOT NULL
                      THEN CAST(cx AS DOUBLE) / CAST(cn AS DOUBLE)
                      ELSE CAST(successes AS DOUBLE)
                        / CAST(n_rows AS DOUBLE) END)
                   * 1e9) AS BIGINT)) AS BIGINT) AS std,
                 CAST(sum(CASE WHEN cn IS NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_missing_strata
          FROM frame, rt GROUP BY 1, 2, 3
        )
        SELECT source, n_rows, successes,
               round(CAST(successes AS DOUBLE)
                 / CAST(n_rows AS DOUBLE), 6) AS raw_rate,
               round(CAST(std AS DOUBLE) / 1e9, 6) AS std_rate,
               round(CAST(std AS DOUBLE) / 1e9
                 - CAST(successes AS DOUBLE) / CAST(n_rows AS DOUBLE),
                 6) AS composition_gap,
               n_missing_strata
        FROM folded ORDER BY source
      """.trim),
      "X273 language-mix-standardized long-doc rates per source")(
      (spark, dir) => {
        import spark.implicits._
        DistStats.standardizedRates(table(spark, dir, "documents"),
            "source", strataCol = $"lang",
            successCol = $"n_chars" >= 250)
          .orderBy($"source")
      }),

    // X274: Kish effective sample size of the length-weighted corpus
    // — what the X250 weighting costs in statistical power.
    QueryDef(
      "q_kish",
      Some("""
        WITH w AS (
          SELECT CAST(round(n_chars / 500.0 * 1000000.0) AS BIGINT)
                   AS q
          FROM documents
        ), f AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(q AS HUGEINT)) AS s,
                 sum(CAST(q AS HUGEINT) * q) AS ss
          FROM w WHERE q > 0
        )
        SELECT n,
               CASE WHEN ss > 0 THEN
                 round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                   / CAST(ss AS DOUBLE), 6) END AS n_effective,
               CASE WHEN n > 0 AND ss > 0 THEN
                 round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                   / (CAST(ss AS DOUBLE) * CAST(n AS DOUBLE)), 6)
                 END AS efficiency
        FROM f
      """.trim),
      "X274 Kish effective sample size of length weights")(
      (spark, dir) => {
        import spark.implicits._
        DistStats.kishEffectiveSize(table(spark, dir, "documents"),
          $"n_chars" / 500.0)
      }),

    // X275: Holm step-down over the same per-source GOF p-values as
    // q_bh_fdr — the FWER gate beside the FDR one; running both on
    // one alert table is exactly how they are used.
    QueryDef(
      "q_holm",
      Some("""
        WITH b AS (
          SELECT source,
                 CASE WHEN n_chars < 150 THEN 0
                      WHEN n_chars < 350 THEN 1 ELSE 2 END AS band
          FROM documents
        ), c AS (
          SELECT source,
                 CAST(sum(CASE WHEN band = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS o0,
                 CAST(sum(CASE WHEN band = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS o1,
                 CAST(sum(CASE WHEN band = 2 THEN 1 ELSE 0 END)
                   AS BIGINT) AS o2
          FROM b GROUP BY 1
        ), g AS (
          SELECT CAST(sum(o0) AS BIGINT) AS g0,
                 CAST(sum(o1) AS BIGINT) AS g1,
                 CAST(sum(o2) AS BIGINT) AS g2,
                 CAST(sum(o0 + o1 + o2) AS BIGINT) AS n
          FROM c
        ), x AS (
          SELECT source,
            (CAST(o0 AS DOUBLE)
              - CAST(o0 + o1 + o2 AS DOUBLE) * g0 / n)
            * (CAST(o0 AS DOUBLE)
              - CAST(o0 + o1 + o2 AS DOUBLE) * g0 / n)
            / (CAST(o0 + o1 + o2 AS DOUBLE) * g0 / n)
            + (CAST(o1 AS DOUBLE)
              - CAST(o0 + o1 + o2 AS DOUBLE) * g1 / n)
            * (CAST(o1 AS DOUBLE)
              - CAST(o0 + o1 + o2 AS DOUBLE) * g1 / n)
            / (CAST(o0 + o1 + o2 AS DOUBLE) * g1 / n)
            + (CAST(o2 AS DOUBLE)
              - CAST(o0 + o1 + o2 AS DOUBLE) * g2 / n)
            * (CAST(o2 AS DOUBLE)
              - CAST(o0 + o1 + o2 AS DOUBLE) * g2 / n)
            / (CAST(o0 + o1 + o2 AS DOUBLE) * g2 / n) AS chi2
          FROM c, g
        ), p AS (
          SELECT source, round(exp(-chi2 / 2.0), 9) AS pv FROM x
        ), r AS (
          SELECT source, pv,
                 CAST(row_number() OVER (ORDER BY pv, source)
                   AS BIGINT) AS rk,
                 CAST(count(*) OVER () AS BIGINT) AS m
          FROM p
        ), a AS (
          SELECT source, pv, rk,
                 least(1.0, max(pv * (m - rk + 1)) OVER (
                   ORDER BY pv ASC, source ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                   AS adj
          FROM r
        )
        SELECT source, round(pv, 6) AS p_value, rk AS p_rank,
               round(adj, 6) AS p_adj, adj <= 0.05 AS reject
        FROM a ORDER BY source
      """.trim),
      "X275 Holm-adjusted length-band drift p-values per source")(
      (spark, dir) => {
        import spark.implicits._
        val band = when($"n_chars" < 150, 0)
          .when($"n_chars" < 350, 1).otherwise(2)
        val cells = table(spark, dir, "documents")
          .select($"source", band.as("band"))
          .groupBy($"source")
          .agg(
            sum(when($"band" === 0, 1L).otherwise(0L)).as("o0"),
            sum(when($"band" === 1, 1L).otherwise(0L)).as("o1"),
            sum(when($"band" === 2, 1L).otherwise(0L)).as("o2"))
        val glob = cells.agg(
          sum($"o0").cast("long").as("g0"),
          sum($"o1").cast("long").as("g1"),
          sum($"o2").cast("long").as("g2"),
          sum($"o0" + $"o1" + $"o2").cast("long").as("n"))
        val tot = ($"o0" + $"o1" + $"o2").cast("double")
        def term(o: String, g: String) = {
          val e = tot * col(g) / $"n"
          (col(o).cast("double") - e) * (col(o).cast("double") - e) / e
        }
        val chi2 = term("o0", "g0") + term("o1", "g1") + term("o2", "g2")
        val pv = cells.crossJoin(broadcast(glob))
          .select($"source", round(exp(-chi2 / 2.0), 9).as("pv"))
        Hypothesis.holmAdjust(pv, "source", "pv", alpha = 0.05)
          .select($"source", $"p_value", $"p_rank", $"p_adj", $"reject")
          .orderBy($"source")
      }),

    // X276: Jaro-Winkler near-match pairs over part names — the
    // oracle is DuckDB's NATIVE jaro_winkler_similarity (rapidfuzz
    // semantics: floored transposition halving, 0.7 boost threshold),
    // which the engine's loop reproduces bit-for-bit.
    QueryDef(
      "q_jaro_pairs",
      Some("""
        WITH n AS (
          SELECT p_name, CAST(count(*) AS BIGINT) AS rows_n,
                 lower(substr(p_name, 1, 1)) AS blk
          FROM part GROUP BY 1
        )
        SELECT a.p_name AS name_a, b.p_name AS name_b,
               a.rows_n AS rows_a, b.rows_n AS rows_b,
               round(jaro_winkler_similarity(a.p_name, b.p_name), 6)
                 AS sim
        FROM n a JOIN n b ON a.blk = b.blk AND a.p_name < b.p_name
        WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 6)
          >= 0.8
        ORDER BY name_a, name_b
      """.trim),
      "X276 Jaro-Winkler part-name match pairs (first-char blocked)")(
      (spark, dir) => {
        import spark.implicits._
        Linkage.nameMatchPairs(table(spark, dir, "part"), "p_name",
            minSim = 0.8)
          .orderBy($"name_a", $"name_b")
      }),

    // X277: soundex blocking profile of the corpus vocabulary — the
    // oracle transliterates the identical translate/collapse chain
    // (validated against the classic NARA codes: ASHCRAFT=A261,
    // TYMCZAK=T522, PFISTER=P236, HONEYMAN=H555).
    QueryDef(
      "q_soundex_blocks",
      Some("""
        WITH w AS (
          SELECT DISTINCT word FROM (
            SELECT unnest(string_split(text, ' ')) AS word
            FROM documents)
          WHERE regexp_matches(word, '^[A-Za-z]+$')
        ), s AS (
          SELECT word, upper(word) AS u,
            translate(translate(upper(word), 'AEIOUYHW', '......'),
              'BFPVCGJKQSXZDTLMNR', '111122222222334556') AS d
          FROM w
        ), c AS (
          SELECT word, u,
            regexp_replace(regexp_replace(regexp_replace(
              regexp_replace(regexp_replace(regexp_replace(
                d, '11+', '1', 'g'), '22+', '2', 'g'), '33+', '3', 'g'),
              '44+', '4', 'g'), '55+', '5', 'g'), '66+', '6', 'g') AS cd
          FROM s
        ), f AS (
          SELECT word, u, replace(cd, '.', '') AS st,
                 translate(substr(u, 1, 1), 'AEIOUYHW', '') <> ''
                   AS coded
          FROM c
        ), codes AS (
          SELECT word,
                 substr(u, 1, 1) || rpad(CASE WHEN coded
                   THEN substr(st, 2, 3) ELSE substr(st, 1, 3) END,
                   3, '0') AS code
          FROM f
        )
        SELECT code, CAST(count(*) AS BIGINT) AS n_words,
               CAST(count(*) * (count(*) - 1) / 2 AS BIGINT)
                 AS n_pairs,
               string_agg(word, ',' ORDER BY word) AS members
        FROM codes GROUP BY 1 ORDER BY code
      """.trim),
      "X277 soundex blocking profile of the document vocabulary")(
      (spark, dir) => {
        import spark.implicits._
        val words = table(spark, dir, "documents")
          .select(explode(split($"text", " ")).as("word"))
          .filter($"word".rlike("^[A-Za-z]+$"))
        Linkage.soundexBlocks(words, "word").orderBy($"code")
      }),

    // X278: Unicode script profile per language — length-difference
    // counting with script classes both regex engines ship
    // (Java \p{IsLatin} == RE2 \p{Latin}).
    QueryDef(
      "q_script_profile",
      Some("""
        WITH per AS (
          SELECT lang, length(text) AS chars,
            length(text) - length(regexp_replace(text,
              '\p{Latin}', '', 'g')) AS latin,
            length(text) - length(regexp_replace(text,
              '\p{Cyrillic}', '', 'g')) AS cyr,
            length(text) - length(regexp_replace(text,
              '\p{Han}', '', 'g')) AS han,
            length(text) - length(regexp_replace(text,
              '[0-9]', '', 'g')) AS dig,
            length(text) - length(regexp_replace(text,
              '[ \t\n\r]', '', 'g')) AS spc,
            length(text) - length(regexp_replace(text,
              '[!-/:-@\[-`{-~]', '', 'g')) AS pun
          FROM documents
        )
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(chars) AS BIGINT) AS n_chars,
               round(CAST(sum(latin) AS DOUBLE) / sum(chars), 6)
                 AS latin_share,
               round(CAST(sum(cyr) AS DOUBLE) / sum(chars), 6)
                 AS cyrillic_share,
               round(CAST(sum(han) AS DOUBLE) / sum(chars), 6)
                 AS han_share,
               round(CAST(sum(dig) AS DOUBLE) / sum(chars), 6)
                 AS digit_share,
               round(CAST(sum(spc) AS DOUBLE) / sum(chars), 6)
                 AS space_share,
               round(CAST(sum(pun) AS DOUBLE) / sum(chars), 6)
                 AS punct_share,
               round(CAST(sum(chars) - sum(latin) - sum(cyr) - sum(han)
                 - sum(dig) - sum(spc) - sum(pun) AS DOUBLE)
                 / sum(chars), 6) AS other_share
        FROM per GROUP BY 1 ORDER BY lang
      """.trim),
      "X278 per-language Unicode script/char-class profile")(
      (spark, dir) => {
        import spark.implicits._
        CorpusOps.scriptProfile(table(spark, dir, "documents"),
            "text", "lang")
          .orderBy($"lang")
      }),

    // X279: sequential-pattern (a-then-b) support over the event
    // stream — the min(first_a) < max(last_b) EXISTS identity.
    QueryDef(
      "q_seq_pairs",
      Some("""
        WITH per AS (
          SELECT user_id, event_type, min(ts) AS f, max(ts) AS l
          FROM events GROUP BY 1, 2
        ), tot AS (
          SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS nk
          FROM events
        )
        SELECT a.event_type AS type_first, b.event_type AS type_then,
               CAST(count(*) AS BIGINT) AS n_keys,
               round(CAST(count(*) AS DOUBLE) / max(tot.nk), 6)
                 AS support
        FROM per a JOIN per b ON a.user_id = b.user_id
          AND a.event_type <> b.event_type AND a.f < b.l
        CROSS JOIN tot
        GROUP BY 1, 2 ORDER BY type_first, type_then
      """.trim),
      "X279 a-then-b sequential pattern support per type pair")(
      (spark, dir) => {
        import spark.implicits._
        Funnel.sequencePairs(events(spark, dir), "user_id", "ts",
            "event_type")
          .orderBy($"type_first", $"type_then")
      }),

    // X280: ACF + Ljung-Box on the daily event-count series — the
    // n²-multiplied integer numerators make r_k a single double
    // division; LB terms pico-quantize before the ordered fold.
    QueryDef(
      "q_acf",
      Some("""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS v
          FROM events GROUP BY 1
        ), lagged AS (
          SELECT v,
                 lag(v, 1) OVER (ORDER BY d) AS l1,
                 lag(v, 2) OVER (ORDER BY d) AS l2,
                 lag(v, 3) OVER (ORDER BY d) AS l3,
                 lag(v, 4) OVER (ORDER BY d) AS l4,
                 lag(v, 5) OVER (ORDER BY d) AS l5
          FROM daily
        ), agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(v AS HUGEINT)) AS s,
                 sum(CAST(v AS HUGEINT) * v) AS q,
                 sum(CAST(v AS HUGEINT) * l1) AS p1,
                 sum(CASE WHEN l1 IS NOT NULL
                   THEN CAST(v AS HUGEINT) END) AS a1,
                 sum(CAST(l1 AS HUGEINT)) AS b1,
                 sum(CAST(v AS HUGEINT) * l2) AS p2,
                 sum(CASE WHEN l2 IS NOT NULL
                   THEN CAST(v AS HUGEINT) END) AS a2,
                 sum(CAST(l2 AS HUGEINT)) AS b2,
                 sum(CAST(v AS HUGEINT) * l3) AS p3,
                 sum(CASE WHEN l3 IS NOT NULL
                   THEN CAST(v AS HUGEINT) END) AS a3,
                 sum(CAST(l3 AS HUGEINT)) AS b3,
                 sum(CAST(v AS HUGEINT) * l4) AS p4,
                 sum(CASE WHEN l4 IS NOT NULL
                   THEN CAST(v AS HUGEINT) END) AS a4,
                 sum(CAST(l4 AS HUGEINT)) AS b4,
                 sum(CAST(v AS HUGEINT) * l5) AS p5,
                 sum(CASE WHEN l5 IS NOT NULL
                   THEN CAST(v AS HUGEINT) END) AS a5,
                 sum(CAST(l5 AS HUGEINT)) AS b5
          FROM lagged
        ), rows_ AS (
          SELECT n, s, q, CAST(1 AS BIGINT) AS lag, p1 AS p, a1 AS a,
                 b1 AS b FROM agg
          UNION ALL SELECT n, s, q, 2, p2, a2, b2 FROM agg
          UNION ALL SELECT n, s, q, 3, p3, a3, b3 FROM agg
          UNION ALL SELECT n, s, q, 4, p4, a4, b4 FROM agg
          UNION ALL SELECT n, s, q, 5, p5, a5, b5 FROM agg
        ), rk AS (
          SELECT lag, n,
                 CAST(CAST(n AS HUGEINT) * n * p - CAST(n AS HUGEINT)
                   * s * (a + b) + (CAST(n AS HUGEINT) - lag) * s * s
                   AS DOUBLE) AS num,
                 CAST(CAST(n AS HUGEINT) * n * q
                   - CAST(n AS HUGEINT) * s * s AS DOUBLE) AS den
          FROM rows_
        ), terms AS (
          SELECT lag, n, num, den,
                 CAST(round(num / den * (num / den) / (n - lag) * 1e12)
                   AS BIGINT) AS term
          FROM rk
        )
        SELECT lag, n,
               CASE WHEN den > 0 THEN round(num / den, 6) END AS acf,
               CASE WHEN den > 0 THEN round(CAST(n AS DOUBLE) * (n + 2)
                 * (sum(term) OVER (ORDER BY lag
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                 / 1e12, 6) END AS lb_q
        FROM terms ORDER BY lag
      """.trim),
      "X280 ACF lags 1-5 + cumulative Ljung-Box on daily counts")(
      (spark, dir) => {
        import spark.implicits._
        val daily = events(spark, dir)
          .groupBy(to_date($"ts").as("d"))
          .agg(count(lit(1)).cast("long").as("v"))
        TimeSeries.acfLjungBox(daily, "d", "v", maxLag = 5)
          .orderBy($"lag")
      }),

    // X281: Durbin-Watson on the daily series' own OLS-trend
    // residuals — slope/intercept round(12) then micro-quantized
    // residuals, integer folds.
    QueryDef(
      "q_durbin_watson",
      Some("""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS v
          FROM events GROUP BY 1
        ), idx AS (
          SELECT v, d,
                 CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t
          FROM daily
        ), s AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(v AS HUGEINT)) AS sv,
                 sum(CAST(t AS HUGEINT)) AS st,
                 sum(CAST(t AS HUGEINT) * t) AS stt,
                 sum(CAST(t AS HUGEINT) * v) AS stv
          FROM idx
        ), braw AS (
          SELECT n, sv, st,
                 (CAST(n AS DOUBLE) * CAST(stv AS DOUBLE)
                   - CAST(st AS DOUBLE) * CAST(sv AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
                   - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) AS b0
          FROM s
        ), ab AS (
          SELECT n, round(b0, 12) AS b,
                 round((CAST(sv AS DOUBLE) - b0 * CAST(st AS DOUBLE))
                   / CAST(n AS DOUBLE), 12) AS a
          FROM braw
        ), resid AS (
          SELECT idx.d, ab.n, ab.b,
                 CAST(round((CAST(v AS DOUBLE) - a - b * t) * 1e6)
                   AS BIGINT) AS e
          FROM idx CROSS JOIN ab
        ), diffed AS (
          SELECT n, b, e, lag(e, 1) OVER (ORDER BY d) AS ep
          FROM resid
        ), fold AS (
          SELECT max(n) AS n, max(round(b, 6)) AS slope,
                 sum(CAST(e AS HUGEINT) * e) AS see,
                 sum(CAST(e - ep AS HUGEINT) * (e - ep)) AS sd
          FROM diffed
        )
        SELECT n, slope,
               CASE WHEN see > 0 THEN
                 round(CAST(sd AS DOUBLE) / CAST(see AS DOUBLE), 6)
                 END AS dw,
               CASE WHEN see > 0 THEN
                 round(1.0 - CAST(sd AS DOUBLE) / CAST(see AS DOUBLE)
                   / 2.0, 6) END AS rho1
        FROM fold
      """.trim),
      "X281 Durbin-Watson on detrended daily counts")(
      (spark, dir) => {
        import spark.implicits._
        val daily = events(spark, dir)
          .groupBy(to_date($"ts").as("d"))
          .agg(count(lit(1)).cast("long").as("v"))
        TimeSeries.durbinWatson(daily, "d", "v")
      }),

    // X282: Cramér-von Mises whole-CDF drift between English and
    // non-English length distributions — beside q_ks's worst gap.
    QueryDef(
      "q_cvm",
      Some("""
        WITH per AS (
          SELECT CAST(round(n_chars * 1000000.0) AS BIGINT) AS v,
                 CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                   AS BIGINT) AS ca,
                 CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)
                   AS BIGINT) AS cb
          FROM documents GROUP BY 1
        ), cum AS (
          SELECT v, ca, cb,
                 sum(ca) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cuma,
                 sum(cb) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cumb
          FROM per
        ), tot AS (
          SELECT CAST(sum(ca) AS BIGINT) AS na,
                 CAST(sum(cb) AS BIGINT) AS nb
          FROM per
        )
        SELECT na AS n_a, nb AS n_b,
               CASE WHEN na > 0 AND nb > 0 THEN
                 round(CAST(sum((CAST(cuma AS HUGEINT) * nb
                     - CAST(cumb AS HUGEINT) * na)
                   * (CAST(cuma AS HUGEINT) * nb
                     - CAST(cumb AS HUGEINT) * na)
                   * (ca + cb)) AS DOUBLE)
                 / (CAST(na AS DOUBLE) * nb * (na + nb) * (na + nb)),
                 6) END AS cvm_t
        FROM cum, tot GROUP BY na, nb
      """.trim),
      "X282 two-sample Cramér-von Mises on en-vs-rest doc lengths")(
      (spark, dir) => {
        import spark.implicits._
        Hypothesis.cramerVonMises(table(spark, dir, "documents"),
          "n_chars", $"lang" === "en")
      }),

    // X283: Jarque-Bera normality of the doc-length distribution —
    // the gate in front of every mean-based test on it.
    QueryDef(
      "q_jarque_bera",
      Some("""
        WITH s AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(n_chars AS HUGEINT)) AS s1,
                 sum(CAST(n_chars AS HUGEINT) * n_chars) AS s2,
                 sum(CAST(n_chars AS HUGEINT) * n_chars * n_chars)
                   AS s3,
                 sum(CAST(n_chars AS HUGEINT) * n_chars * n_chars
                   * n_chars) AS s4
          FROM documents
        ), m AS (
          SELECT n,
                 CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m1,
                 CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
                 CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
                 CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
          FROM s
        ), c AS (
          SELECT n,
                 r2 - m1 * m1 AS m2,
                 r3 - 3.0 * m1 * r2 + 2.0 * m1 * m1 * m1 AS m3,
                 r4 - 4.0 * m1 * r3 + 6.0 * m1 * m1 * r2
                   - 3.0 * m1 * m1 * m1 * m1 AS m4
          FROM m
        ), g AS (
          SELECT n, m2,
                 m3 / sqrt(m2 * m2 * m2) AS skew,
                 m4 / (m2 * m2) - 3.0 AS exkurt
          FROM c
        )
        SELECT n,
               CASE WHEN n > 1 AND m2 > 0 THEN round(skew, 6) END
                 AS skewness,
               CASE WHEN n > 1 AND m2 > 0 THEN round(exkurt, 6) END
                 AS ex_kurtosis,
               CASE WHEN n > 1 AND m2 > 0 THEN
                 round(CAST(n AS DOUBLE) / 6.0
                   * (skew * skew + exkurt * exkurt / 4.0), 6) END
                 AS jb_stat
        FROM g
      """.trim),
      "X283 Jarque-Bera normality test on doc lengths")(
      (spark, dir) => {
        import spark.implicits._
        Hypothesis.jarqueBera(table(spark, dir, "documents"),
          "n_chars", unit = 1.0)
      }),

    // X284: Levene's equal-variance test across sources — the
    // assumption gate in front of q_anova's pooled variance.
    QueryDef(
      "q_levene",
      Some("""
        WITH base AS (
          SELECT source AS g,
                 CAST(round(n_chars * 1000000.0) AS BIGINT) AS q
          FROM documents
        ), means AS (
          SELECT g, CAST(count(*) AS BIGINT) AS ng,
                 sum(CAST(q AS HUGEINT)) AS sg
          FROM base GROUP BY 1
        ), z AS (
          SELECT base.g,
                 CAST(round(CAST(abs(CAST(q AS HUGEINT) * ng - sg)
                   AS DOUBLE) / CAST(ng AS DOUBLE)) AS BIGINT) AS z
          FROM base JOIN means ON base.g = means.g
        ), cells AS (
          SELECT g, CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(z AS HUGEINT)) AS s,
                 sum(CAST(z AS HUGEINT) * z) AS ss
          FROM z GROUP BY 1
        ), w AS (
          SELECT CAST(count(*) AS BIGINT) AS n_groups,
                 CAST(sum(n) AS BIGINT) AS n_total,
                 sum(s) AS sT, sum(ss) AS ssT,
                 sum(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                   / CAST(n AS DOUBLE)) AS sb
          FROM cells
        )
        SELECT n_groups, n_total,
               n_groups - 1 AS df_between,
               n_total - n_groups AS df_within,
               CASE WHEN n_total > n_groups AND n_groups > 1
                 AND CAST(ssT AS DOUBLE) - sb > 0 THEN
                 round(((sb - CAST(sT AS DOUBLE) * CAST(sT AS DOUBLE)
                     / CAST(n_total AS DOUBLE))
                   / (CAST(n_groups AS DOUBLE) - 1.0))
                 / ((CAST(ssT AS DOUBLE) - sb)
                   / (CAST(n_total AS DOUBLE)
                     - CAST(n_groups AS DOUBLE))), 6) END AS w_stat
        FROM w
      """.trim),
      "X284 Levene equal-variance test of doc length across sources")(
      (spark, dir) => {
        import spark.implicits._
        Hypothesis.levene(table(spark, dir, "documents"), "source",
          "n_chars")
      }),

    // X285: Friedman test — do event types out-count each other
    // consistently WITHIN users (complete blocks only).
    QueryDef(
      "q_friedman",
      Some("""
        WITH cells AS (
          SELECT user_id AS b, event_type AS t,
                 CAST(round(count(*) * 1000000.0) AS BIGINT) AS q
          FROM events GROUP BY 1, 2
        ), kk AS (
          SELECT CAST(count(DISTINCT t) AS BIGINT) AS k FROM cells
        ), ba AS (
          SELECT CAST(count(DISTINCT b) AS BIGINT) AS blocks_all
          FROM cells
        ), marked AS (
          SELECT b, t, q, count(*) OVER (PARTITION BY b) AS bk
          FROM cells
        ), complete AS (
          SELECT b, t, q FROM marked, kk WHERE bk = kk.k
        ), rho AS (
          SELECT b, t,
                 2 * (rank() OVER (PARTITION BY b ORDER BY q) - 1)
                   + count(*) OVER (PARTITION BY b, q) + 1 AS rho
          FROM complete
        ), pert AS (
          SELECT t, CAST(count(*) AS BIGINT) AS nb,
                 sum(CAST(rho AS HUGEINT)) AS r2,
                 sum(CAST(rho AS HUGEINT) * rho) AS rr
          FROM rho GROUP BY 1
        ), fold AS (
          SELECT CAST(count(*) AS BIGINT) AS k,
                 CAST(max(nb) AS BIGINT) AS n_blocks,
                 sum(rr) AS rrsum
          FROM pert
        ), dev AS (
          SELECT k, n_blocks, rrsum,
                 sum((r2 - n_blocks * (k + 1))
                   * (r2 - n_blocks * (k + 1))) AS dev2
          FROM pert, fold GROUP BY 1, 2, 3
        )
        SELECT n_blocks, k, blocks_all - n_blocks AS n_dropped_blocks,
               k - 1 AS df,
               CASE WHEN k > 1 AND CAST(rrsum AS DOUBLE)
                   - CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)
                   * CAST((k + 1) * (k + 1) AS DOUBLE) > 0 THEN
                 round(CAST(k - 1 AS DOUBLE) * CAST(dev2 AS DOUBLE)
                   / (CAST(rrsum AS DOUBLE)
                     - CAST(n_blocks AS DOUBLE) * CAST(k AS DOUBLE)
                     * CAST((k + 1) * (k + 1) AS DOUBLE)), 6)
                 END AS chi2
        FROM dev, ba
      """.trim),
      "X285 Friedman test of per-user event-type count ranks")(
      (spark, dir) => {
        import spark.implicits._
        val cells = events(spark, dir)
          .groupBy($"user_id", $"event_type")
          .agg(count(lit(1)).cast("long").as("cnt"))
        Hypothesis.friedman(cells, "user_id", "event_type", "cnt")
      }),

    // X286: Cochran's Q — do the k per-user "engaged with type >= 2
    // times" verdicts differ across types (missing cells = failure).
    QueryDef(
      "q_cochran_q",
      Some("""
        WITH percell AS (
          SELECT user_id AS b, event_type AS t,
                 CASE WHEN count(*) >= 2 THEN 1 ELSE 0 END AS succ
          FROM events GROUP BY 1, 2
        ), cells AS (
          SELECT b, t, CAST(max(succ) AS BIGINT) AS x
          FROM percell GROUP BY 1, 2
        ), rows_ AS (
          SELECT b, sum(x) AS r FROM cells GROUP BY 1
        ), colst AS (
          SELECT t, sum(x) AS c FROM cells GROUP BY 1
        ), kk AS (
          SELECT CAST(count(*) AS BIGINT) AS k,
                 sum(CAST(c AS HUGEINT) * c) AS cc,
                 CAST(sum(c) AS BIGINT) AS ntot
          FROM colst
        ), rr AS (
          SELECT CAST(count(*) AS BIGINT) AS n_blocks,
                 sum(CAST(r AS HUGEINT) * r) AS rrsum
          FROM rows_
        )
        SELECT n_blocks, k, k - 1 AS df, ntot AS n_successes,
               CASE WHEN k > 1 AND CAST(k AS DOUBLE)
                   * CAST(ntot AS DOUBLE) - CAST(rrsum AS DOUBLE) > 0
                 THEN round(CAST(k - 1 AS DOUBLE)
                   * (CAST(k AS DOUBLE) * CAST(cc AS DOUBLE)
                     - CAST(ntot AS DOUBLE) * CAST(ntot AS DOUBLE))
                   / (CAST(k AS DOUBLE) * CAST(ntot AS DOUBLE)
                     - CAST(rrsum AS DOUBLE)), 6) END AS q_stat
        FROM kk, rr
      """.trim),
      "X286 Cochran's Q over per-user engagement verdicts per type")(
      (spark, dir) => {
        import spark.implicits._
        val perCell = events(spark, dir)
          .groupBy($"user_id", $"event_type")
          .agg((count(lit(1)) >= 2).as("succ"))
        Hypothesis.cochranQ(perCell, "user_id", "event_type", $"succ")
      }),

    // X287: ICC(1) of event values within users — the effective-
    // sample-size clustering check (k0-corrected for unbalance).
    QueryDef(
      "q_icc",
      Some("""
        WITH base AS (
          SELECT user_id AS g,
                 CAST(round(value * 1000000.0) AS BIGINT) AS q
          FROM events
        ), cells AS (
          SELECT g, CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(q AS HUGEINT)) AS s,
                 sum(CAST(q AS HUGEINT) * q) AS ss
          FROM base GROUP BY 1
        ), w AS (
          SELECT CAST(count(*) AS BIGINT) AS n_groups,
                 CAST(sum(n) AS BIGINT) AS n_total,
                 sum(s) AS sT, sum(ss) AS ssT,
                 sum(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                   / CAST(n AS DOUBLE)) AS sb,
                 sum(CAST(n AS HUGEINT) * n) AS nn
          FROM cells
        ), m AS (
          SELECT n_groups, n_total,
                 (sb - CAST(sT AS DOUBLE) * CAST(sT AS DOUBLE)
                   / CAST(n_total AS DOUBLE))
                 / (CAST(n_groups AS DOUBLE) - 1.0) AS msb,
                 (CAST(ssT AS DOUBLE) - sb)
                 / (CAST(n_total AS DOUBLE)
                   - CAST(n_groups AS DOUBLE)) AS msw,
                 (CAST(n_total AS DOUBLE) - CAST(nn AS DOUBLE)
                   / CAST(n_total AS DOUBLE))
                 / (CAST(n_groups AS DOUBLE) - 1.0) AS k0
          FROM w
        )
        SELECT n_groups, n_total,
               CASE WHEN n_groups > 1 THEN round(k0, 6) END AS k0,
               CASE WHEN n_groups > 1 THEN round(msb / 1e12, 6) END
                 AS ms_between,
               CASE WHEN n_total > n_groups THEN round(msw / 1e12, 6)
                 END AS ms_within,
               CASE WHEN n_groups > 1 AND n_total > n_groups
                 AND msb + (k0 - 1.0) * msw > 0 THEN
                 round((msb - msw) / (msb + (k0 - 1.0) * msw), 6) END
                 AS icc
        FROM m
      """.trim),
      "X287 ICC(1) of event values within users (k0-corrected)")(
      (spark, dir) => {
        import spark.implicits._
        Hypothesis.icc1(events(spark, dir), "user_id", "value")
      }),

    // X288: log-rank — time-to-first-error survival, even vs odd
    // user cohorts; users without an error censor at their last
    // event. Durations in whole hours via exact micro integer div.
    QueryDef(
      "q_log_rank",
      Some("""
        WITH subj AS (
          SELECT user_id,
                 (epoch_us(coalesce(min(CASE WHEN event_type = 'error'
                     THEN ts END), max(ts)))
                  - epoch_us(min(ts))) // 3600000000 AS t,
                 min(CASE WHEN event_type = 'error' THEN ts END)
                   IS NOT NULL AS ev,
                 user_id % 2 = 0 AS isa
          FROM events GROUP BY 1
        ), per AS (
          SELECT t,
                 CAST(sum(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT)
                   AS ma,
                 CAST(sum(CASE WHEN isa THEN 0 ELSE 1 END) AS BIGINT)
                   AS mb,
                 CAST(sum(CASE WHEN isa AND ev THEN 1 ELSE 0 END)
                   AS BIGINT) AS da,
                 CAST(sum(CASE WHEN NOT isa AND ev THEN 1 ELSE 0 END)
                   AS BIGINT) AS db
          FROM subj GROUP BY 1
        ), tot AS (
          SELECT CAST(sum(ma) AS BIGINT) AS na,
                 CAST(sum(mb) AS BIGINT) AS nb
          FROM per
        ), risked AS (
          SELECT t, da, db, da + db AS d,
                 na - coalesce(sum(ma) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS rA,
                 na + nb
                 - coalesce(sum(ma + mb) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS r,
                 na, nb
          FROM per, tot
        ), terms AS (
          SELECT na, nb, da, d, r,
                 CAST(round(CAST(d AS DOUBLE) * CAST(rA AS DOUBLE)
                   / CAST(r AS DOUBLE) * 1e9) AS BIGINT) AS et,
                 CASE WHEN r > 1 THEN
                   CAST(round(CAST(d AS DOUBLE)
                     * (CAST(rA AS DOUBLE) / CAST(r AS DOUBLE))
                     * (1.0 - CAST(rA AS DOUBLE) / CAST(r AS DOUBLE))
                     * (CAST(r AS DOUBLE) - CAST(d AS DOUBLE))
                     / (CAST(r AS DOUBLE) - 1.0) * 1e9) AS BIGINT)
                   ELSE 0 END AS vt
          FROM risked WHERE d > 0
        ), fold AS (
          SELECT CAST(max(na) AS BIGINT) AS n_a,
                 CAST(max(nb) AS BIGINT) AS n_b,
                 CAST(sum(da) AS BIGINT) AS observed_a,
                 CAST(sum(et) AS BIGINT) AS en,
                 CAST(sum(vt) AS BIGINT) AS vn
          FROM terms
        )
        SELECT n_a, n_b, observed_a,
               round(CAST(en AS DOUBLE) / 1e9, 6) AS expected_a,
               CASE WHEN vn > 0 THEN
                 round((CAST(observed_a AS DOUBLE)
                   - CAST(en AS DOUBLE) / 1e9)
                 / sqrt(CAST(vn AS DOUBLE) / 1e9), 6) END AS z_stat
        FROM fold
      """.trim),
      "X288 log-rank: time-to-first-error, even vs odd user cohorts")(
      (spark, dir) => {
        import spark.implicits._
        val subj = events(spark, dir)
          .groupBy($"user_id")
          .agg(min($"ts").as("first"), max($"ts").as("last"),
            min(when($"event_type" === "error", $"ts")).as("err"))
          .withColumn("dur_us",
            unix_micros(coalesce($"err", $"last")) -
              unix_micros($"first"))
          .withColumn("t", expr("dur_us div 3600000000"))
        Funnel.logRank(subj, "t", $"err".isNotNull,
          $"user_id" % 2 === 0)
      }),

    // X289: effect sizes for the en-vs-rest length gap — the
    // magnitude readout beside q_welch_t's significance.
    QueryDef(
      "q_effect_sizes",
      Some("""
        WITH w AS (
          SELECT
            CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_a,
            CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_b,
            sum(CASE WHEN lang = 'en'
              THEN CAST(round(n_chars * 1000000.0) AS HUGEINT) END)
              AS sa,
            sum(CASE WHEN lang <> 'en'
              THEN CAST(round(n_chars * 1000000.0) AS HUGEINT) END)
              AS sb,
            sum(CASE WHEN lang = 'en'
              THEN CAST(round(n_chars * 1000000.0) AS HUGEINT)
                * CAST(round(n_chars * 1000000.0) AS HUGEINT) END)
              AS ssa,
            sum(CASE WHEN lang <> 'en'
              THEN CAST(round(n_chars * 1000000.0) AS HUGEINT)
                * CAST(round(n_chars * 1000000.0) AS HUGEINT) END)
              AS ssb
          FROM documents
        ), m AS (
          SELECT n_a, n_b,
                 CAST(sa AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
                 CAST(sb AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
                 (CAST(ssa AS DOUBLE) - CAST(sa AS DOUBLE)
                   / CAST(n_a AS DOUBLE) * CAST(sa AS DOUBLE))
                   / (CAST(n_a AS DOUBLE) - 1.0) AS va,
                 (CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE)
                   / CAST(n_b AS DOUBLE) * CAST(sb AS DOUBLE))
                   / (CAST(n_b AS DOUBLE) - 1.0) AS vb
          FROM w
        ), g AS (
          SELECT n_a, n_b, ma, mb, vb,
                 sqrt(((CAST(n_a AS DOUBLE) - 1.0) * va
                     + (CAST(n_b AS DOUBLE) - 1.0) * vb)
                   / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)
                     - 2.0)) AS sp
          FROM m
        )
        SELECT n_a, n_b,
               round(ma / 1e6, 6) AS mean_a,
               round(mb / 1e6, 6) AS mean_b,
               CASE WHEN n_a > 1 AND n_b > 1 AND sp > 0 THEN
                 round((ma - mb) / sp, 6) END AS cohens_d,
               CASE WHEN n_a > 1 AND n_b > 1 AND sp > 0 THEN
                 round((ma - mb) / sp * (1.0 - 3.0
                   / (4.0 * (CAST(n_a AS DOUBLE)
                     + CAST(n_b AS DOUBLE)) - 9.0)), 6) END
                 AS hedges_g,
               CASE WHEN n_a > 1 AND n_b > 1 AND vb > 0 THEN
                 round((ma - mb) / sqrt(vb), 6) END AS glass_delta
        FROM g
      """.trim),
      "X289 Cohen's d / Hedges' g / Glass delta, en vs rest lengths")(
      (spark, dir) => {
        import spark.implicits._
        Hypothesis.effectSizes(table(spark, dir, "documents"),
          "n_chars", $"lang" === "en")
      }),

    // X290: per-source minimum detectable effect at current n for
    // the long-doc rate — the power label on every slice readout.
    QueryDef(
      "q_mde",
      Some("""
        WITH g AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN n_chars >= 250 THEN 1 ELSE 0 END)
                   AS BIGINT) AS successes
          FROM documents GROUP BY 1
        )
        SELECT source, n, round(CAST(successes AS DOUBLE)
                 / CAST(n AS DOUBLE), 6) AS rate,
               CASE WHEN successes > 0 AND successes < n THEN
                 round(2.801585 * sqrt(2.0
                   * (CAST(successes AS DOUBLE) / CAST(n AS DOUBLE))
                   * (1.0 - CAST(successes AS DOUBLE)
                     / CAST(n AS DOUBLE))
                   / CAST(n AS DOUBLE)), 6) END AS mde_abs,
               CASE WHEN successes > 0 AND successes < n THEN
                 round(2.801585 * sqrt(2.0
                   * (CAST(successes AS DOUBLE) / CAST(n AS DOUBLE))
                   * (1.0 - CAST(successes AS DOUBLE)
                     / CAST(n AS DOUBLE))
                   / CAST(n AS DOUBLE))
                 / (CAST(successes AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                 END AS mde_rel
        FROM g ORDER BY source
      """.trim),
      "X290 per-source MDE at current n for the long-doc rate")(
      (spark, dir) => {
        import spark.implicits._
        Hypothesis.mdePower(table(spark, dir, "documents"), "source",
            $"n_chars" >= 250)
          .orderBy($"source")
      }),

    // X291: Neyman allocation of a 1000-doc labeling budget across
    // sources by N_h * S_h of doc length.
    QueryDef(
      "q_neyman",
      Some("""
        WITH cells AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
                 sum(CAST(round(n_chars * 1000000.0) AS HUGEINT))
                   AS s,
                 sum(CAST(round(n_chars * 1000000.0) AS HUGEINT)
                   * CAST(round(n_chars * 1000000.0) AS HUGEINT))
                   AS ss
          FROM documents GROUP BY 1
        ), sded AS (
          SELECT source, n_rows,
                 CASE WHEN n_rows > 1 AND
                   (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                     * CAST(s AS DOUBLE) / CAST(n_rows AS DOUBLE))
                   / (CAST(n_rows AS DOUBLE) - 1.0) > 0
                 THEN sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                     * CAST(s AS DOUBLE) / CAST(n_rows AS DOUBLE))
                   / (CAST(n_rows AS DOUBLE) - 1.0))
                 ELSE 0.0 END AS sd
          FROM cells
        ), wtd AS (
          SELECT source, n_rows, sd,
                 CAST(n_rows AS DOUBLE) * sd AS w
          FROM sded
        ), tot AS (SELECT sum(w) AS wtot FROM wtd)
        SELECT source, n_rows,
               round(sd / 1e6, 6) AS stratum_sd,
               CASE WHEN wtot > 0 THEN round(w / wtot, 6) END
                 AS alloc_share,
               CASE WHEN wtot > 0 THEN
                 CAST(round(w / wtot * 1000) AS BIGINT) END
                 AS n_alloc
        FROM wtd, tot ORDER BY source
      """.trim),
      "X291 Neyman allocation of a 1000-doc budget across sources")(
      (spark, dir) => {
        import spark.implicits._
        DistStats.neymanAllocation(table(spark, dir, "documents"),
            "source", "n_chars", budget = 1000L)
          .orderBy($"source")
      }),

    // X292: Dunning log-likelihood collocations over the corpus
    // bigrams — top 50 by G² (rounded, tie-broken by words).
    QueryDef(
      "q_collocations",
      Some("""
        WITH pairs AS (
          SELECT unnest(ws[1:len(ws) - 1]) AS w1,
                 unnest(ws[2:len(ws)]) AS w2
          FROM (SELECT string_split(text, ' ') AS ws FROM documents)
        ), cells AS (
          SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
          FROM pairs GROUP BY 1, 2
        ), f AS (
          SELECT w1, CAST(sum(c) AS BIGINT) AS c1 FROM cells GROUP BY 1
        ), s AS (
          SELECT w2, CAST(sum(c) AS BIGINT) AS c2 FROM cells GROUP BY 1
        ), t AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
        j AS (
          SELECT cells.w1, cells.w2, c, c1, c2, n
          FROM cells JOIN f USING (w1) JOIN s USING (w2) CROSS JOIN t
          WHERE c >= 5
        ), g AS (
          SELECT w1, w2, c, c1, c2,
            2.0 * (
              (CASE WHEN CAST(c AS DOUBLE) > 0 THEN CAST(c AS DOUBLE)
                * ln(CAST(c AS DOUBLE) / (CAST(c1 AS DOUBLE)
                  * CAST(c2 AS DOUBLE) / CAST(n AS DOUBLE)))
                ELSE 0.0 END)
            + (CASE WHEN CAST(c1 - c AS DOUBLE) > 0 THEN
                CAST(c1 - c AS DOUBLE)
                * ln(CAST(c1 - c AS DOUBLE) / (CAST(c1 AS DOUBLE)
                  * (CAST(n AS DOUBLE) - CAST(c2 AS DOUBLE))
                  / CAST(n AS DOUBLE))) ELSE 0.0 END)
            + (CASE WHEN CAST(c2 - c AS DOUBLE) > 0 THEN
                CAST(c2 - c AS DOUBLE)
                * ln(CAST(c2 - c AS DOUBLE)
                  / ((CAST(n AS DOUBLE) - CAST(c1 AS DOUBLE))
                    * CAST(c2 AS DOUBLE) / CAST(n AS DOUBLE)))
                ELSE 0.0 END)
            + (CASE WHEN CAST(n - c1 - c2 + c AS DOUBLE) > 0 THEN
                CAST(n - c1 - c2 + c AS DOUBLE)
                * ln(CAST(n - c1 - c2 + c AS DOUBLE)
                  / ((CAST(n AS DOUBLE) - CAST(c1 AS DOUBLE))
                    * (CAST(n AS DOUBLE) - CAST(c2 AS DOUBLE))
                    / CAST(n AS DOUBLE))) ELSE 0.0 END)
            ) AS g2
          FROM j
        )
        SELECT w1, w2, c AS n_pair, c1 AS n_w1, c2 AS n_w2,
               round(g2, 6) AS g2
        FROM g ORDER BY round(g2, 6) DESC, w1, w2 LIMIT 50
      """.trim),
      "X292 Dunning G2 collocations, top 50 bigrams")(
      (spark, dir) => {
        CorpusOps.collocations(table(spark, dir, "documents"), "text",
          minCount = 5L, topK = 50)
      }),

    // X293: G-test of lang x source independence — the likelihood-
    // ratio sibling of the Pearson gate; G = 2N*MI by identity,
    // folded via the c*ln c identity (same three-aggregate shape as
    // q_theil_u) so the plan carries two broadcasts, not five.
    QueryDef(
      "q_g_test",
      Some("""
        WITH cells AS (
          SELECT lang AS x, source AS y, CAST(count(*) AS BIGINT) AS c
          FROM documents GROUP BY 1, 2
        ), a AS (
          SELECT CAST(sum(c) AS BIGINT) AS n,
                 sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS av
          FROM cells
        ), cx AS (
          SELECT CAST(count(*) AS BIGINT) AS n_x,
                 sum(CAST(m AS DOUBLE) * ln(CAST(m AS DOUBLE))) AS cv
          FROM (SELECT x, CAST(sum(c) AS BIGINT) AS m FROM cells
                GROUP BY 1)
        ), cy AS (
          SELECT CAST(count(*) AS BIGINT) AS n_y,
                 sum(CAST(m AS DOUBLE) * ln(CAST(m AS DOUBLE))) AS bv
          FROM (SELECT y, CAST(sum(c) AS BIGINT) AS m FROM cells
                GROUP BY 1)
        )
        SELECT n, n_x, n_y, (n_x - 1) * (n_y - 1) AS dof,
               round(2.0 * (av - cv - bv + CAST(n AS DOUBLE)
                 * ln(CAST(n AS DOUBLE))), 6) AS g_stat
        FROM a, cx, cy
      """.trim),
      "X293 G-test of lang x source independence")(
      (spark, dir) => {
        CorpusOps.gTest(table(spark, dir, "documents"), "lang",
          "source")
      }),

    // X294: Theil's U both ways for lang vs source — the asymmetric
    // association the symmetric NMI can't express.
    QueryDef(
      "q_theil_u",
      Some("""
        WITH cells AS (
          SELECT lang AS x, source AS y, CAST(count(*) AS BIGINT) AS c
          FROM documents GROUP BY 1, 2
        ), a AS (
          SELECT CAST(sum(c) AS BIGINT) AS n,
                 sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS av
          FROM cells
        ), b AS (
          SELECT sum(CAST(cy AS DOUBLE) * ln(CAST(cy AS DOUBLE)))
            AS bv
          FROM (SELECT y, CAST(sum(c) AS BIGINT) AS cy FROM cells
                GROUP BY 1)
        ), cc AS (
          SELECT sum(CAST(cx AS DOUBLE) * ln(CAST(cx AS DOUBLE)))
            AS cv
          FROM (SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM cells
                GROUP BY 1)
        ), m AS (
          SELECT n,
                 ln(CAST(n AS DOUBLE)) - cv / CAST(n AS DOUBLE) AS hx,
                 ln(CAST(n AS DOUBLE)) - bv / CAST(n AS DOUBLE) AS hy,
                 (bv - av) / CAST(n AS DOUBLE) AS hxgy,
                 (cv - av) / CAST(n AS DOUBLE) AS hygx
          FROM a, b, cc
        )
        SELECT n, round(hx, 6) AS h_x, round(hy, 6) AS h_y,
               CASE WHEN hx > 0 THEN round((hx - hxgy) / hx, 6) END
                 AS u_x_given_y,
               CASE WHEN hy > 0 THEN round((hy - hygx) / hy, 6) END
                 AS u_y_given_x
        FROM m
      """.trim),
      "X294 Theil's U (lang|source and source|lang)")(
      (spark, dir) => {
        CorpusOps.theilU(table(spark, dir, "documents"), "lang",
          "source")
      }),

    // X295: Goodman-Kruskal gamma between length bands and word-
    // count bands — monotone association on coarse ordinals.
    QueryDef(
      "q_gk_gamma",
      Some("""
        WITH banded AS (
          SELECT CASE WHEN n_chars < 150 THEN 0
                      WHEN n_chars < 350 THEN 1 ELSE 2 END AS x,
                 CASE WHEN len(string_split(text, ' ')) < 30 THEN 0
                      WHEN len(string_split(text, ' ')) < 70 THEN 1
                      ELSE 2 END AS y
          FROM documents
        ), cells AS (
          SELECT x, y, CAST(count(*) AS BIGINT) AS c
          FROM banded GROUP BY 1, 2
        ), folded AS (
          SELECT
            coalesce(sum(CASE WHEN a.y < b.y
              THEN CAST(a.c AS HUGEINT) * b.c END), 0) AS conc,
            coalesce(sum(CASE WHEN a.y > b.y
              THEN CAST(a.c AS HUGEINT) * b.c END), 0) AS disc
          FROM cells a JOIN cells b ON a.x < b.x
        ), t AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells)
        SELECT n, CAST(conc AS BIGINT) AS concordant,
               CAST(disc AS BIGINT) AS discordant,
               CASE WHEN conc + disc > 0 THEN
                 round(CAST(conc - disc AS DOUBLE)
                   / CAST(conc + disc AS DOUBLE), 6) END AS gamma
        FROM folded, t
      """.trim),
      "X295 Goodman-Kruskal gamma, length vs word-count bands")(
      (spark, dir) => {
        import spark.implicits._
        val banded = table(spark, dir, "documents").select(
          when($"n_chars" < 150, 0).when($"n_chars" < 350, 1)
            .otherwise(2).as("xb"),
          when(size(split($"text", " ")) < 30, 0)
            .when(size(split($"text", " ")) < 70, 1).otherwise(2)
            .as("yb"))
        CorpusOps.gkGamma(banded, "xb", "yb")
      }),

    // X296: Wilcoxon signed-rank on the paired per-doc difference
    // n_chars - 5*word_count (chars vs the 5-chars-per-word prior).
    QueryDef(
      "q_wilcoxon",
      Some("""
        WITH base AS (
          SELECT CAST(round((n_chars - 5 * len(string_split(text, ' ')))
            * 1000000.0) AS BIGINT) AS d
          FROM documents
        ), zeros AS (
          SELECT CAST(sum(CASE WHEN d = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_zero
          FROM base
        ), per AS (
          SELECT abs(d) AS v,
                 CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS pv,
                 CAST(count(*) AS BIGINT) AS c
          FROM base WHERE d <> 0 GROUP BY 1
        ), rho AS (
          SELECT pv, c,
                 2 * (sum(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - c) + c + 1 AS rho
          FROM per
        ), agg AS (
          SELECT coalesce(CAST(sum(c) AS BIGINT), 0) AS n,
                 coalesce(sum(CAST(pv AS HUGEINT) * rho), 0) AS w2,
                 coalesce(sum(CAST(c AS HUGEINT) * c * c - c), 0)
                   AS ties
          FROM rho
        )
        SELECT n AS n_nonzero, n_zero,
               round(CAST(w2 AS DOUBLE) / 2.0, 6) AS w_plus,
               CASE WHEN n > 0 AND CAST(n AS DOUBLE)
                   * (CAST(n AS DOUBLE) + 1.0)
                   * (2.0 * CAST(n AS DOUBLE) + 1.0) / 6.0
                   - CAST(ties AS DOUBLE) / 12.0 > 0 THEN
                 round((CAST(w2 AS DOUBLE) - CAST(n AS DOUBLE)
                     * (CAST(n AS DOUBLE) + 1.0) / 2.0)
                   / (2.0 * sqrt((CAST(n AS DOUBLE)
                     * (CAST(n AS DOUBLE) + 1.0)
                     * (2.0 * CAST(n AS DOUBLE) + 1.0) / 6.0
                     - CAST(ties AS DOUBLE) / 12.0) / 4.0)), 6) END
                 AS z_stat
        FROM agg, zeros
      """.trim),
      "X296 Wilcoxon signed-rank: chars vs 5-per-word prior")(
      (spark, dir) => {
        import spark.implicits._
        Hypothesis.wilcoxonSignedRank(table(spark, dir, "documents"),
          $"n_chars" - lit(5) * size(split($"text", " ")))
      }),

    // X297: Bartlett's variance homogeneity across sources — the
    // parametric sibling reported beside q_levene.
    QueryDef(
      "q_bartlett",
      Some("""
        WITH cells AS (
          SELECT source AS g, CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(round(n_chars * 1000000.0) AS HUGEINT))
                   AS s,
                 sum(CAST(round(n_chars * 1000000.0) AS HUGEINT)
                   * CAST(round(n_chars * 1000000.0) AS HUGEINT))
                   AS ss
          FROM documents GROUP BY 1
        ), cv AS (
          SELECT g, n,
                 (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                   * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                 / (CAST(n AS DOUBLE) - 1.0) AS vi
          FROM cells
        ), w AS (
          SELECT CAST(count(*) AS BIGINT) AS n_groups,
                 CAST(sum(n) AS BIGINT) AS n_total,
                 sum(CASE WHEN n > 1 AND vi > 0
                   THEN (CAST(n AS DOUBLE) - 1.0) * vi END)
                   AS poolednum,
                 sum(CASE WHEN n > 1 AND vi > 0
                   THEN (CAST(n AS DOUBLE) - 1.0) * ln(vi) END)
                   AS lnsum,
                 sum(CASE WHEN n > 1
                   THEN 1.0 / (CAST(n AS DOUBLE) - 1.0) END)
                   AS invsum,
                 CAST(sum(CASE WHEN n < 2 OR NOT (vi > 0)
                   THEN 1 ELSE 0 END) AS BIGINT) AS bad
          FROM cv
        )
        SELECT n_groups, n_total, n_groups - 1 AS df,
               CASE WHEN n_groups > 1 AND bad = 0
                 AND n_total > n_groups THEN
                 round(((CAST(n_total AS DOUBLE)
                     - CAST(n_groups AS DOUBLE))
                   * ln(poolednum / (CAST(n_total AS DOUBLE)
                     - CAST(n_groups AS DOUBLE))) - lnsum)
                 / (1.0 + (invsum - 1.0 / (CAST(n_total AS DOUBLE)
                     - CAST(n_groups AS DOUBLE)))
                   / (3.0 * (CAST(n_groups AS DOUBLE) - 1.0))), 6)
                 END AS t_stat
        FROM w
      """.trim),
      "X297 Bartlett variance homogeneity across sources")(
      (spark, dir) => {
        Hypothesis.bartlett(table(spark, dir, "documents"), "source",
          "n_chars")
      }),

    // X298: Grubbs' extreme outlier on doc length — names the single
    // worst row with a testable statistic.
    QueryDef(
      "q_grubbs",
      Some("""
        WITH base AS (
          SELECT CAST(round(n_chars * 1000000.0) AS BIGINT) AS q
          FROM documents
        ), sums AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(q AS HUGEINT)) AS s,
                 sum(CAST(q AS HUGEINT) * q) AS ss
          FROM base
        ), devs AS (
          SELECT q, abs(CAST(q AS HUGEINT) * n - s) AS dev, n, s, ss
          FROM base, sums
        ), md AS (SELECT max(dev) AS mdv FROM devs),
        arg AS (
          SELECT min(q) AS argq, max(n) AS n, max(s) AS s,
                 max(ss) AS ss, max(mdv) AS mdv
          FROM devs, md WHERE dev = mdv
        )
        SELECT n,
               round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1e6, 6)
                 AS mean,
               CASE WHEN n > 1 AND (CAST(ss AS DOUBLE)
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                   / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)
                   > 0 THEN
                 round(sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                     * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                   / (CAST(n AS DOUBLE) - 1.0)) / 1e6, 6) END AS sd,
               CASE WHEN n > 2 AND (CAST(ss AS DOUBLE)
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                   / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)
                   > 0 THEN
                 round(CAST(mdv AS DOUBLE) / CAST(n AS DOUBLE)
                   / sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                     * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                   / (CAST(n AS DOUBLE) - 1.0)), 6) END AS g_stat,
               round(CAST(argq AS DOUBLE) / 1e6, 6) AS outlier_value
        FROM arg
      """.trim),
      "X298 Grubbs extreme-outlier statistic on doc length")(
      (spark, dir) => {
        Hypothesis.grubbs(table(spark, dir, "documents"), "n_chars")
      }),

    // X299: runs test on the above-mean daily flag — regime
    // stretches the ACF only sees in aggregate.
    QueryDef(
      "q_runs_test",
      Some("""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS v
          FROM events GROUP BY 1
        ), tot AS (
          SELECT CAST(count(*) AS BIGINT) AS nn,
                 CAST(sum(v) AS BIGINT) AS s
          FROM daily
        ), base AS (
          SELECT d, CASE WHEN v * nn > s THEN 1 ELSE 0 END AS x
          FROM daily, tot
        ), lagged AS (
          SELECT x, lag(x, 1) OVER (ORDER BY d) AS prev FROM base
        ), agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS n_true,
                 CAST(count(*) - sum(x) AS BIGINT) AS n_false,
                 CAST(1 + sum(CASE WHEN prev IS NOT NULL
                   AND prev <> x THEN 1 ELSE 0 END) AS BIGINT) AS runs
          FROM lagged
        )
        SELECT n, n_true, n_false, runs,
               CASE WHEN n_true > 0 AND n_false > 0 AND
                 2.0 * CAST(n_true AS DOUBLE)
                   * CAST(n_false AS DOUBLE)
                 * (2.0 * CAST(n_true AS DOUBLE)
                   * CAST(n_false AS DOUBLE) - CAST(n AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                   * (CAST(n AS DOUBLE) - 1.0)) > 0 THEN
                 round((CAST(runs AS DOUBLE)
                   - (2.0 * CAST(n_true AS DOUBLE)
                     * CAST(n_false AS DOUBLE) / CAST(n AS DOUBLE)
                     + 1.0))
                 / sqrt(2.0 * CAST(n_true AS DOUBLE)
                   * CAST(n_false AS DOUBLE)
                 * (2.0 * CAST(n_true AS DOUBLE)
                   * CAST(n_false AS DOUBLE) - CAST(n AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                   * (CAST(n AS DOUBLE) - 1.0))), 6) END AS z_stat
        FROM agg
      """.trim),
      "X299 runs test on the above-mean daily-count flag")(
      (spark, dir) => {
        import spark.implicits._
        val daily = events(spark, dir)
          .groupBy(to_date($"ts").as("d"))
          .agg(count(lit(1)).cast("long").as("v"))
        val tot = daily.agg(count(lit(1)).cast("long").as("nn"),
          sum($"v").cast("long").as("s"))
        val flagged = daily.crossJoin(broadcast(tot))
        TimeSeries.runsTest(flagged, "d", $"v" * $"nn" > $"s")
      }),

    // X300: Dickey-Fuller unit root on the daily series — is there
    // mean reversion for the trend/z machinery to lean on.
    QueryDef(
      "q_dickey_fuller",
      Some("""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS v
          FROM events GROUP BY 1
        ), lagged AS (
          SELECT v, lag(v, 1) OVER (ORDER BY d) AS prev FROM daily
        ), base AS (
          SELECT prev AS x, v - prev AS y FROM lagged
          WHERE prev IS NOT NULL
        ), sums AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(x AS HUGEINT)) AS sx,
                 sum(CAST(y AS HUGEINT)) AS sy,
                 sum(CAST(x AS HUGEINT) * x) AS sxx,
                 sum(CAST(x AS HUGEINT) * y) AS sxy,
                 sum(CAST(y AS HUGEINT) * y) AS syy
          FROM base
        ), m AS (
          SELECT n,
                 CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)
                   * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS cxx,
                 CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)
                   * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS cxy,
                 CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)
                   * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS cyy
          FROM sums
        )
        SELECT n,
               CASE WHEN cxx > 0 THEN round(cxy / cxx, 6) END AS rho,
               CASE WHEN n > 2 AND cxx > 0
                 AND cyy - cxy / cxx * cxy > 0 THEN
                 round((cxy / cxx) / sqrt((cyy - cxy / cxx * cxy)
                   / (CAST(n AS DOUBLE) - 2.0) / cxx), 6) END AS df_t
        FROM m
      """.trim),
      "X300 Dickey-Fuller unit-root t on daily counts")(
      (spark, dir) => {
        import spark.implicits._
        val daily = events(spark, dir)
          .groupBy(to_date($"ts").as("d"))
          .agg(count(lit(1)).cast("long").as("v"))
        TimeSeries.dickeyFuller(daily, "d", "v")
      }),

    // X301: the single most likely level-shift day in the daily
    // series — binary segmentation step one, integer-exact argmax.
    QueryDef(
      "q_changepoint",
      Some("""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS v
          FROM events GROUP BY 1
        ), pre AS (
          SELECT d, v,
                 CAST(count(*) OVER (ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS t,
                 sum(CAST(v AS HUGEINT)) OVER (ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS p
          FROM daily
        ), tot AS (
          SELECT CAST(max(t) AS BIGINT) AS n,
                 sum(CAST(v AS HUGEINT)) AS s
          FROM pre
        ), scored AS (
          SELECT d, t, p, n, s, abs(p * n - s * t) AS g
          FROM pre, tot WHERE t < n
        ), best AS (SELECT max(g) AS gmax FROM scored),
        pick AS (
          SELECT min(t) AS tbest FROM scored, best WHERE g = gmax
        )
        SELECT d AS changepoint_at, t AS split_index, n,
               round(CAST(gmax AS DOUBLE) / CAST(n AS DOUBLE), 6)
                 AS cusum_max,
               round(CAST(p AS DOUBLE) / CAST(t AS DOUBLE), 6)
                 AS mean_before,
               round(CAST(s - p AS DOUBLE) / CAST(n - t AS DOUBLE), 6)
                 AS mean_after
        FROM scored, best, pick WHERE t = tbest
      """.trim),
      "X301 single changepoint locator on daily counts")(
      (spark, dir) => {
        import spark.implicits._
        val daily = events(spark, dir)
          .groupBy(to_date($"ts").as("d"))
          .agg(count(lit(1)).cast("long").as("v"))
        TimeSeries.changepoint(daily, "d", "v")
      }),

    // X302: EWMA level line (lambda = 0.5, 8-row lookback — every
    // weight an exact power of two, so both engines fold identical
    // doubles regardless of order).
    QueryDef(
      "q_ewma",
      Some("""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS v
          FROM events GROUP BY 1
        ), idx AS (
          SELECT d, v,
                 CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t
          FROM daily
        ), joined AS (
          SELECT a.d, a.v,
                 sum(CAST(b.v AS DOUBLE) * power(0.5, a.t - b.t))
                   AS num,
                 sum(power(0.5, a.t - b.t)) AS den
          FROM idx a JOIN idx b ON b.t BETWEEN a.t - 7 AND a.t
          GROUP BY a.d, a.v
        )
        SELECT d, v AS value, round(num / den, 6) AS ewma
        FROM joined ORDER BY d
      """.trim),
      "X302 EWMA level line on daily counts (lambda 0.5, w 8)")(
      (spark, dir) => {
        import spark.implicits._
        val daily = events(spark, dir)
          .groupBy(to_date($"ts").as("d"))
          .agg(count(lit(1)).cast("long").as("v"))
        TimeSeries.ewma(daily, "d", "v", lambda = 0.5, lookback = 8)
          .orderBy($"d")
      }),

    // X303: naive vs seasonal-naive backtest — the baseline table a
    // forecasting conversation starts from.
    QueryDef(
      "q_forecast_backtest",
      Some("""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS v
          FROM events GROUP BY 1
        ), lagged AS (
          SELECT v, lag(v, 1) OVER (ORDER BY d) AS nv,
                 lag(v, 7) OVER (ORDER BY d) AS sv
          FROM daily
        ), n1 AS (
          SELECT 'naive' AS method,
                 CAST(count(*) AS BIGINT) AS n_forecasts,
                 sum(CAST(abs(v - nv) AS HUGEINT)) AS sae,
                 sum(CAST(v - nv AS HUGEINT) * (v - nv)) AS sse,
                 CAST(sum(CAST(round(2.0
                   * CAST(abs(v - nv) AS DOUBLE)
                   / CAST(abs(v) + abs(nv) AS DOUBLE) * 1e9)
                   AS BIGINT)) AS BIGINT) AS ssm
          FROM lagged
          WHERE nv IS NOT NULL AND abs(v) + abs(nv) > 0
        ), n7 AS (
          SELECT 'seasonal' AS method,
                 CAST(count(*) AS BIGINT) AS n_forecasts,
                 sum(CAST(abs(v - sv) AS HUGEINT)) AS sae,
                 sum(CAST(v - sv AS HUGEINT) * (v - sv)) AS sse,
                 CAST(sum(CAST(round(2.0
                   * CAST(abs(v - sv) AS DOUBLE)
                   / CAST(abs(v) + abs(sv) AS DOUBLE) * 1e9)
                   AS BIGINT)) AS BIGINT) AS ssm
          FROM lagged
          WHERE sv IS NOT NULL AND abs(v) + abs(sv) > 0
        ), u AS (SELECT * FROM n1 UNION ALL SELECT * FROM n7)
        SELECT method, n_forecasts,
               round(CAST(sae AS DOUBLE) / n_forecasts, 6) AS mae,
               round(sqrt(CAST(sse AS DOUBLE) / n_forecasts), 6)
                 AS rmse,
               round(CAST(ssm AS DOUBLE) / 1e9 / n_forecasts, 6)
                 AS smape
        FROM u ORDER BY method
      """.trim),
      "X303 naive vs seasonal-naive one-step backtest on daily counts")(
      (spark, dir) => {
        import spark.implicits._
        val daily = events(spark, dir)
          .groupBy(to_date($"ts").as("d"))
          .agg(count(lit(1)).cast("long").as("v"))
        TimeSeries.forecastBacktest(daily, "d", "v", season = 7)
          .orderBy($"method")
      }),

    // X304: post-hoc pairwise language contrasts after q_anova —
    // WHICH language pairs differ in mean length.
    QueryDef(
      "q_pairwise_contrasts",
      Some("""
        WITH cells AS (
          SELECT lang AS g, CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(round(n_chars * 1000000.0) AS HUGEINT))
                   AS s,
                 sum(CAST(round(n_chars * 1000000.0) AS HUGEINT)
                   * CAST(round(n_chars * 1000000.0) AS HUGEINT))
                   AS ss
          FROM documents GROUP BY 1
        ), msw0 AS (
          SELECT CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(n) AS BIGINT) AS nt,
                 sum(CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                   * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS ssw
          FROM cells
        ), m2 AS (
          SELECT k, nt, ssw / CAST(nt - k AS DOUBLE) AS msw FROM msw0
        )
        SELECT a.g AS group_a, b.g AS group_b, a.n AS n_a, b.n AS n_b,
               round((CAST(a.s AS DOUBLE) / a.n
                 - CAST(b.s AS DOUBLE) / b.n) / 1e6, 6) AS mean_diff,
               CASE WHEN nt > k AND msw > 0 THEN
                 round(sqrt(msw * (1.0 / a.n + 1.0 / b.n)) / 1e6, 6)
                 END AS se,
               CASE WHEN nt > k AND msw > 0 THEN
                 round((CAST(a.s AS DOUBLE) / a.n
                   - CAST(b.s AS DOUBLE) / b.n)
                 / sqrt(msw * (1.0 / a.n + 1.0 / b.n)), 6) END
                 AS t_stat
        FROM cells a JOIN cells b ON a.g < b.g CROSS JOIN m2
        ORDER BY group_a, group_b
      """.trim),
      "X304 pairwise mean-length contrasts across languages")(
      (spark, dir) => {
        import spark.implicits._
        Hypothesis.pairwiseContrasts(table(spark, dir, "documents"),
            "lang", "n_chars")
          .orderBy($"group_a", $"group_b")
      }),

    // X305: weekly seasonal decomposition of the daily counts — the
    // per-phase effect table under the seasonal-naive baseline.
    QueryDef(
      "q_seasonal_decompose",
      Some("""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS v
          FROM events GROUP BY 1
        ), idx AS (
          SELECT d, v,
                 CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t,
                 sum(CAST(v AS HUGEINT)) OVER (ORDER BY d
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wsum,
                 count(*) OVER (ORDER BY d
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wc
          FROM daily
        ), det AS (
          SELECT (t - 1) % 7 AS phase,
                 CAST(v AS HUGEINT) * 7 - wsum AS dn
          FROM idx WHERE wc = 7
        ), per AS (
          SELECT phase, CAST(count(*) AS BIGINT) AS n_obs,
                 sum(dn) AS sdn
          FROM det GROUP BY 1
        ), eff AS (
          SELECT phase, n_obs,
                 CAST(sdn AS DOUBLE) / (7.0 * n_obs) AS eff,
                 CAST(round(CAST(sdn AS DOUBLE) / (7.0 * n_obs) * 1e9)
                   AS BIGINT) AS effn
          FROM per
        ), g AS (
          SELECT CAST(sum(effn) AS DOUBLE) / count(*) AS gm FROM eff
        )
        SELECT phase, n_obs, round(eff, 6) AS raw_effect,
               round((CAST(effn AS DOUBLE) - gm) / 1e9, 6) AS seasonal
        FROM eff, g ORDER BY phase
      """.trim),
      "X305 weekly seasonal effects of the daily count series")(
      (spark, dir) => {
        import spark.implicits._
        val daily = events(spark, dir)
          .groupBy(to_date($"ts").as("d"))
          .agg(count(lit(1)).cast("long").as("v"))
        TimeSeries.seasonalDecompose(daily, "d", "v", period = 7)
          .orderBy($"phase")
      }),

    // X306: Benjamini-Yekutieli over the same per-source GOF
    // p-values as q_bh_fdr/q_holm — the dependence-proof FDR gate.
    QueryDef(
      "q_by_fdr",
      Some("""
        WITH b AS (
          SELECT source,
                 CASE WHEN n_chars < 150 THEN 0
                      WHEN n_chars < 350 THEN 1 ELSE 2 END AS band
          FROM documents
        ), c AS (
          SELECT source,
                 CAST(sum(CASE WHEN band = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS o0,
                 CAST(sum(CASE WHEN band = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS o1,
                 CAST(sum(CASE WHEN band = 2 THEN 1 ELSE 0 END)
                   AS BIGINT) AS o2
          FROM b GROUP BY 1
        ), g AS (
          SELECT CAST(sum(o0) AS BIGINT) AS g0,
                 CAST(sum(o1) AS BIGINT) AS g1,
                 CAST(sum(o2) AS BIGINT) AS g2,
                 CAST(sum(o0 + o1 + o2) AS BIGINT) AS n
          FROM c
        ), x AS (
          SELECT source,
            (CAST(o0 AS DOUBLE)
              - CAST(o0 + o1 + o2 AS DOUBLE) * g0 / n)
            * (CAST(o0 AS DOUBLE)
              - CAST(o0 + o1 + o2 AS DOUBLE) * g0 / n)
            / (CAST(o0 + o1 + o2 AS DOUBLE) * g0 / n)
            + (CAST(o1 AS DOUBLE)
              - CAST(o0 + o1 + o2 AS DOUBLE) * g1 / n)
            * (CAST(o1 AS DOUBLE)
              - CAST(o0 + o1 + o2 AS DOUBLE) * g1 / n)
            / (CAST(o0 + o1 + o2 AS DOUBLE) * g1 / n)
            + (CAST(o2 AS DOUBLE)
              - CAST(o0 + o1 + o2 AS DOUBLE) * g2 / n)
            * (CAST(o2 AS DOUBLE)
              - CAST(o0 + o1 + o2 AS DOUBLE) * g2 / n)
            / (CAST(o0 + o1 + o2 AS DOUBLE) * g2 / n) AS chi2
          FROM c, g
        ), p AS (
          SELECT source, round(exp(-chi2 / 2.0), 9) AS pv FROM x
        ), r AS (
          SELECT source, pv,
                 CAST(row_number() OVER (ORDER BY pv, source)
                   AS BIGINT) AS rk,
                 CAST(count(*) OVER () AS BIGINT) AS m
          FROM p
        ), h AS (
          SELECT *, list_reduce(list_transform(range(1, m + 1),
            k -> 1.0 / k), (a2, b2) -> a2 + b2) AS hm
          FROM r
        ), adj AS (
          SELECT source, pv, rk, hm,
                 least(1.0, min(pv * m * hm / rk) OVER (
                   ORDER BY pv DESC, source DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                   AS a
          FROM h
        )
        SELECT source, round(pv, 6) AS p_value, rk AS p_rank,
               round(hm, 6) AS h_m, round(a, 6) AS p_adj,
               a <= 0.05 AS reject
        FROM adj ORDER BY source
      """.trim),
      "X306 Benjamini-Yekutieli over the per-source GOF p-table")(
      (spark, dir) => {
        import spark.implicits._
        val band = when($"n_chars" < 150, 0)
          .when($"n_chars" < 350, 1).otherwise(2)
        val cells = table(spark, dir, "documents")
          .select($"source", band.as("band"))
          .groupBy($"source")
          .agg(
            sum(when($"band" === 0, 1L).otherwise(0L)).as("o0"),
            sum(when($"band" === 1, 1L).otherwise(0L)).as("o1"),
            sum(when($"band" === 2, 1L).otherwise(0L)).as("o2"))
        val glob = cells.agg(
          sum($"o0").cast("long").as("g0"),
          sum($"o1").cast("long").as("g1"),
          sum($"o2").cast("long").as("g2"),
          sum($"o0" + $"o1" + $"o2").cast("long").as("n"))
        val tot = ($"o0" + $"o1" + $"o2").cast("double")
        def term(o: String, gc: String) = {
          val e = tot * col(gc) / $"n"
          (col(o).cast("double") - e) * (col(o).cast("double") - e) / e
        }
        val chi2 = term("o0", "g0") + term("o1", "g1") + term("o2", "g2")
        val pv = cells.crossJoin(broadcast(glob))
          .select($"source", round(exp(-chi2 / 2.0), 9).as("pv"))
        Hypothesis.byAdjust(pv, "source", "pv", alpha = 0.05)
          .select($"source", $"p_value", $"p_rank", $"h_m", $"p_adj",
            $"reject")
          .orderBy($"source")
      }),

    // X307: Mood's median test — language medians vs the global
    // exact (bisection) median of doc length.
    QueryDef(
      "q_mood_median",
      Some("""
        WITH vals AS (
          SELECT lang AS g,
                 CAST(round(n_chars * 1000000.0) AS BIGINT) AS q
          FROM documents
        ), tot0 AS (SELECT count(*) AS total FROM vals),
        o AS (
          SELECT q, sum(cnt) OVER (ORDER BY q) AS cum
          FROM (SELECT q, count(*) AS cnt FROM vals GROUP BY q)
        ), med AS (
          SELECT min(q) AS m FROM o, tot0
          WHERE cum >= ceil(0.5 * total)
        ), cells AS (
          SELECT g, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN q > (SELECT m FROM med)
                   THEN 1 ELSE 0 END) AS BIGINT) AS a
          FROM vals GROUP BY 1
        ), t AS (
          SELECT CAST(sum(n) AS BIGINT) AS nt,
                 CAST(sum(a) AS BIGINT) AS at
          FROM cells
        ), terms AS (
          SELECT g, n, a, nt, at,
            (CAST(a AS DOUBLE) - CAST(n AS DOUBLE) * at / nt)
              * (CAST(a AS DOUBLE) - CAST(n AS DOUBLE) * at / nt)
              / (CAST(n AS DOUBLE) * at / nt)
            + (CAST(n - a AS DOUBLE)
                - CAST(n AS DOUBLE) * (nt - at) / nt)
              * (CAST(n - a AS DOUBLE)
                - CAST(n AS DOUBLE) * (nt - at) / nt)
              / (CAST(n AS DOUBLE) * (nt - at) / nt) AS term
          FROM cells, t
        )
        SELECT CAST(count(*) AS BIGINT) AS n_groups,
               max(nt) AS n_total,
               round(CAST((SELECT m FROM med) AS DOUBLE) / 1e6, 6)
                 AS median,
               CAST(count(*) - 1 AS BIGINT) AS df,
               CASE WHEN max(at) > 0 AND max(at) < max(nt) THEN
                 round(sum(term), 6) END AS chi2
        FROM terms
      """.trim),
      "X307 Mood's median test of doc length across languages")(
      (spark, dir) => {
        Hypothesis.moodMedianTest(table(spark, dir, "documents"),
          "lang", "n_chars")
      }),

    // X308: Fightin' Words keyness — which words English docs
    // over/under-use vs the rest, Dirichlet-prior shrunk.
    QueryDef(
      "q_keyness",
      Some("""
        WITH words AS (
          SELECT lang = 'en' AS a,
                 unnest(string_split(text, ' ')) AS w
          FROM documents
        ), w2 AS (SELECT a, w FROM words WHERE w <> ''),
        counts AS (
          SELECT w,
                 CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT)
                   AS y1,
                 CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT)
                   AS y2
          FROM w2 GROUP BY 1
        ), tot AS (
          SELECT CAST(sum(y1) AS BIGINT) AS n1,
                 CAST(sum(y2) AS BIGINT) AS n2
          FROM counts
        ), j AS (
          SELECT w, y1, y2, n1, n2,
                 100.0 * CAST(y1 + y2 AS DOUBLE)
                   / CAST(n1 + n2 AS DOUBLE) AS aw
          FROM counts, tot WHERE y1 + y2 >= 5
        ), scored AS (
          SELECT w AS term, y1 AS count_a, y2 AS count_b,
                 round((ln((CAST(y1 AS DOUBLE) + aw)
                     / (CAST(n1 AS DOUBLE) + 100.0
                       - CAST(y1 AS DOUBLE) - aw))
                   - ln((CAST(y2 AS DOUBLE) + aw)
                     / (CAST(n2 AS DOUBLE) + 100.0
                       - CAST(y2 AS DOUBLE) - aw)))
                 / sqrt(1.0 / (CAST(y1 AS DOUBLE) + aw)
                   + 1.0 / (CAST(y2 AS DOUBLE) + aw)), 6) AS z_score
          FROM j
        ), ta AS (
          SELECT term, count_a, count_b, z_score, 'a' AS side
          FROM scored ORDER BY z_score DESC, term LIMIT 15
        ), tb AS (
          SELECT term, count_a, count_b, z_score, 'b' AS side
          FROM scored ORDER BY z_score ASC, term LIMIT 15
        ), u AS (SELECT * FROM ta UNION ALL SELECT * FROM tb)
        SELECT * FROM u ORDER BY side, z_score DESC, term
      """.trim),
      "X308 Monroe log-odds keyness, en vs rest, both tails")(
      (spark, dir) => {
        import spark.implicits._
        Stylometry.keyness(table(spark, dir, "documents"), "text",
            $"lang" === "en", alpha0 = 100.0, minCount = 5L,
            topK = 15)
          .orderBy($"side", $"z_score".desc, $"term")
      }),

    // X309: Gries' DP — the clumpiest terms across sources (frequent
    // yet single-source boilerplate shows up here first).
    QueryDef(
      "q_term_dispersion",
      Some("""
        WITH words AS (
          SELECT source AS p, unnest(string_split(text, ' ')) AS w
          FROM documents
        ), w2 AS (SELECT p, w FROM words WHERE w <> ''),
        cells AS (
          SELECT w, p, CAST(count(*) AS BIGINT) AS v
          FROM w2 GROUP BY 1, 2
        ), parts AS (
          SELECT p, CAST(sum(v) AS BIGINT) AS tok
          FROM cells GROUP BY 1
        ), tot AS (SELECT CAST(sum(tok) AS BIGINT) AS tt FROM parts),
        f AS (
          SELECT w, CAST(sum(v) AS BIGINT) AS fw FROM cells GROUP BY 1
        ), dev AS (
          SELECT cells.w, fw, tt,
                 CAST(count(*) AS BIGINT) AS n_parts,
                 CAST(sum(tok) AS BIGINT) AS tokpresent,
                 sum(abs(CAST(v AS HUGEINT) * tt
                   - CAST(tok AS HUGEINT) * fw)) AS dv
          FROM cells JOIN parts USING (p) JOIN f USING (w) CROSS JOIN tot
          GROUP BY 1, 2, 3 HAVING fw >= 50
        )
        SELECT w AS term, fw AS n_occurrences, n_parts,
               round(CAST(dv + CAST(tt - tokpresent AS HUGEINT) * fw
                 AS DOUBLE) / (2.0 * CAST(fw AS DOUBLE)
                 * CAST(tt AS DOUBLE)), 6) AS dp
        FROM dev ORDER BY dp DESC, term LIMIT 30
      """.trim),
      "X309 Gries' DP term dispersion across sources, top 30")(
      (spark, dir) => {
        CorpusOps.termDispersion(table(spark, dir, "documents"),
          "text", "source", minCount = 50L, topK = 30)
      }),

    // X310: Ansari-Bradley — do English doc lengths FAN OUT more
    // than the rest at the same center (nonparametric scale drift).
    QueryDef(
      "q_ansari_bradley",
      Some("""
        WITH per AS (
          SELECT CAST(round(n_chars * 1000000.0) AS BIGINT) AS v,
                 CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                   AS BIGINT) AS ca,
                 CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)
                   AS BIGINT) AS cb
          FROM documents GROUP BY 1
        ), tot AS (
          SELECT CAST(sum(ca) AS BIGINT) AS na,
                 CAST(sum(cb) AS BIGINT) AS nb
          FROM per
        ), ranked AS (
          SELECT v, ca, cb, ca + cb AS c,
                 sum(ca + cb) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS hi,
                 na, nb, na + nb AS nn
          FROM per, tot
        ), legs AS (
          SELECT *, hi - c + 1 AS lo, (nn + 1) // 2 AS rt FROM ranked
        ), sv AS (
          SELECT ca, cb, c, na, nb, nn,
                 (CASE WHEN least(hi, rt) - lo + 1 > 0 THEN
                   CAST(least(hi, rt) AS HUGEINT)
                     * (least(hi, rt) + 1)
                   - CAST(lo - 1 AS HUGEINT) * lo
                  ELSE 0 END)
                 + (CASE WHEN hi - greatest(lo, rt + 1) + 1 > 0 THEN
                   2 * CAST(nn + 1 AS HUGEINT)
                     * (hi - greatest(lo, rt + 1) + 1)
                   - (CAST(hi AS HUGEINT) * (hi + 1)
                     - CAST(greatest(lo, rt + 1) - 1 AS HUGEINT)
                       * greatest(lo, rt + 1))
                  ELSE 0 END) AS sv2
          FROM legs
        ), terms AS (
          SELECT na, nb, nn, sv2,
                 CAST(round(CAST(ca AS DOUBLE) * CAST(sv2 AS DOUBLE)
                   / (2.0 * CAST(c AS DOUBLE)) * 1e9) AS HUGEINT)
                   AS abterm,
                 CAST(round(CAST(sv2 AS DOUBLE) * CAST(sv2 AS DOUBLE)
                   / (4.0 * CAST(c AS DOUBLE)) * 1e9) AS HUGEINT)
                   AS qterm
          FROM sv
        ), agg AS (
          SELECT max(na) AS n_a, max(nb) AS n_b,
                 sum(sv2) AS st2,
                 sum(abterm) AS abn,
                 sum(qterm) AS qn
          FROM terms
        )
        SELECT n_a, n_b,
               round(CAST(abn AS DOUBLE) / 1e9, 6) AS ab_stat,
               CASE WHEN n_a > 0 AND n_b > 0 THEN
                 round(CAST(n_a AS DOUBLE) * (CAST(st2 AS DOUBLE)
                   / 2.0) / (CAST(n_a AS DOUBLE)
                   + CAST(n_b AS DOUBLE)), 6) END AS expected,
               CASE WHEN n_a > 0 AND n_b > 0 AND
                 CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                 * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                     * (CAST(qn AS DOUBLE) / 1e9)
                   - (CAST(st2 AS DOUBLE) / 2.0)
                     * (CAST(st2 AS DOUBLE) / 2.0))
                 / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                   * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                   * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)
                     - 1.0)) > 0 THEN
                 round((CAST(abn AS DOUBLE) / 1e9
                   - CAST(n_a AS DOUBLE) * (CAST(st2 AS DOUBLE) / 2.0)
                     / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                 / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
                   * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                       * (CAST(qn AS DOUBLE) / 1e9)
                     - (CAST(st2 AS DOUBLE) / 2.0)
                       * (CAST(st2 AS DOUBLE) / 2.0))
                   / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                     * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                     * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)
                       - 1.0))), 6) END AS z_stat
        FROM agg
      """.trim),
      "X310 Ansari-Bradley scale test, en vs rest doc lengths")(
      (spark, dir) => {
        import spark.implicits._
        Hypothesis.ansariBradley(table(spark, dir, "documents"),
          "n_chars", $"lang" === "en")
      }),

    // X311: Kendall's W — do the 150 users agree on the ranking of
    // the 5 event types (grid-completed with zero counts).
    QueryDef(
      "q_kendall_w",
      Some("""
        WITH counts AS (
          SELECT user_id AS u, event_type AS t,
                 CAST(count(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2
        ), grid AS (
          SELECT uu.u, ty.t,
                 CAST(round(coalesce(c.c, 0) * 1000000.0) AS BIGINT)
                   AS q
          FROM (SELECT DISTINCT u FROM counts) uu
          CROSS JOIN (SELECT DISTINCT t FROM counts) ty
          LEFT JOIN counts c ON c.u = uu.u AND c.t = ty.t
        ), m AS (
          SELECT CAST(count(DISTINCT u) AS BIGINT) AS m FROM grid
        ), rho AS (
          SELECT u, t, q,
                 2 * (rank() OVER (PARTITION BY u ORDER BY q) - 1)
                   + count(*) OVER (PARTITION BY u, q) + 1 AS rho
          FROM grid
        ), peritem AS (
          SELECT t, sum(CAST(rho AS HUGEINT)) AS r2 FROM rho
          GROUP BY 1
        ), nitems AS (
          SELECT CAST(count(*) AS BIGINT) AS n FROM peritem
        ), s4 AS (
          SELECT sum((r2 - m.m * (n + 1)) * (r2 - m.m * (n + 1)))
            AS s4
          FROM peritem, m, nitems
        ), ties AS (
          SELECT coalesce(sum(CAST(tt AS HUGEINT) * tt * tt - tt), 0)
            AS t2
          FROM (SELECT u, q, CAST(count(*) AS BIGINT) AS tt
                FROM rho GROUP BY 1, 2)
        )
        SELECT m.m AS n_rankers, n AS n_items,
               CAST(0 AS BIGINT) AS n_dropped_items,
               CASE WHEN CAST(m.m AS DOUBLE) * m.m
                   * (CAST(n AS DOUBLE) * n * n - n)
                   - CAST(m.m AS DOUBLE) * CAST(t2 AS DOUBLE) > 0
                 THEN round(3.0 * CAST(s4 AS DOUBLE)
                   / (CAST(m.m AS DOUBLE) * m.m
                     * (CAST(n AS DOUBLE) * n * n - n)
                   - CAST(m.m AS DOUBLE) * CAST(t2 AS DOUBLE)), 6)
                 END AS w
        FROM m, nitems, s4, ties
      """.trim),
      "X311 Kendall's W: user agreement on event-type ranking")(
      (spark, dir) => {
        import spark.implicits._
        val counts = events(spark, dir)
          .groupBy($"user_id", $"event_type")
          .agg(count(lit(1)).cast("long").as("cnt"))
        val grid = counts.select($"user_id").distinct()
          .crossJoin(counts.select($"event_type").distinct())
          .join(counts, Seq("user_id", "event_type"), "left")
          .withColumn("cnt", coalesce($"cnt", lit(0L)))
        RankEval.kendallW(grid, "user_id", "event_type", "cnt")
      }),

    // X312: KLL quantile sketches per event type — randomized sketch
    // accuracy, so rows-only by contract (the HLL/KMV class); the
    // spec bounds rank error and exercises the merge path.
    QueryDef(
      "q_kll_quantiles",
      None,
      "X312 KLL quantile sketch estimates per event type (rows-only)")(
      (spark, dir) => {
        import spark.implicits._
        Kll.groupQuantiles(events(spark, dir), "event_type", "value",
            k = 200, qs = Seq(0.5, 0.9, 0.99))
          .orderBy($"group")
      }),

    // X313: bootstrap CI for the en-minus-rest mean-length gap — the
    // band beside q_effect_sizes' point estimate.
    QueryDef(
      "q_diff_bootstrap",
      Some("""
        WITH t AS (
          SELECT doc_id, lang = 'en' AS a,
                 CAST(round(n_chars * 1000000.0) AS BIGINT) AS v
          FROM documents
        ), sp AS (
          SELECT doc_id, v, a, r,
                 CAST(('0x' || substr(md5('dboot'
                   || CAST(doc_id AS VARCHAR) || ':'
                   || CAST(r AS VARCHAR)), 1, 8)) AS BIGINT) AS b
          FROM t, unnest(range(0, 64)) AS u(r)
        ), wts AS (
          SELECT v, a, r,
                 CAST(CASE WHEN b < 1580030168 THEN 0
                      WHEN b < 3160060337 THEN 1
                      WHEN b < 3950075421 THEN 2
                      WHEN b < 4213413783 THEN 3
                      WHEN b < 4279248373 THEN 4
                      WHEN b < 4292415291 THEN 5
                      WHEN b < 4294609777 THEN 6
                      ELSE 7 END AS BIGINT) AS w
          FROM sp
        ), rep AS (
          SELECT r,
                 (CASE WHEN sum(CASE WHEN a THEN w ELSE 0 END) > 0
                   THEN CAST(CAST(sum(CASE WHEN a THEN w * v END)
                     AS BIGINT) AS DOUBLE)
                   / CAST(sum(CASE WHEN a THEN w ELSE 0 END)
                     AS BIGINT) / 1000000.0 END)
                 - (CASE WHEN sum(CASE WHEN NOT a THEN w ELSE 0 END)
                     > 0
                   THEN CAST(CAST(sum(CASE WHEN NOT a THEN w * v END)
                     AS BIGINT) AS DOUBLE)
                   / CAST(sum(CASE WHEN NOT a THEN w ELSE 0 END)
                     AS BIGINT) / 1000000.0 END) AS d
          FROM wts GROUP BY r
        ), tot AS (
          SELECT CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
                 CAST(sum(CASE WHEN NOT a THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_b,
                 CAST(sum(CASE WHEN a THEN v END) AS BIGINT) AS sa,
                 CAST(sum(CASE WHEN NOT a THEN v END) AS BIGINT)
                   AS sb
          FROM t
        )
        SELECT n_a, n_b,
               (SELECT CAST(count(d) AS BIGINT) FROM rep)
                 AS n_replicates,
               round(CAST(sa AS DOUBLE) / n_a / 1000000.0
                 - CAST(sb AS DOUBLE) / n_b / 1000000.0, 6)
                 AS point_diff,
               round((SELECT quantile_cont(d, 0.025) FROM rep), 6)
                 AS ci_lo,
               round((SELECT quantile_cont(d, 0.975) FROM rep), 6)
                 AS ci_hi
        FROM tot
      """.trim),
      "X313 Poisson-bootstrap CI for the en-vs-rest mean-length gap")(
      (spark, dir) => {
        import spark.implicits._
        CorpusOps.diffBootstrapCI(table(spark, dir, "documents"),
          "doc_id", "n_chars", $"lang" === "en", replicates = 64,
          salt = "dboot")
      }),

    // X314: quantile treatment effects — the en-vs-rest length gap
    // at each quartile and the p90 (distributional, not just mean).
    QueryDef(
      "q_qte",
      Some("""
        WITH vals AS (
          SELECT lang = 'en' AS a, CAST(n_chars AS BIGINT) AS v
          FROM documents
        ), tot AS (SELECT a, count(*) AS total FROM vals GROUP BY 1),
        o AS (
          SELECT a, v, sum(cnt) OVER (PARTITION BY a ORDER BY v)
            AS cum
          FROM (SELECT a, v, count(*) AS cnt FROM vals GROUP BY 1, 2)
        ), qk(q) AS (VALUES (0.25), (0.5), (0.75), (0.9)),
        picks AS (
          SELECT qk.q, o.a, min(v) AS qv
          FROM qk, o JOIN tot USING (a)
          WHERE cum >= ceil(qk.q * total)
          GROUP BY 1, 2
        )
        SELECT q,
               max(CASE WHEN a THEN qv END) AS quantile_a,
               max(CASE WHEN NOT a THEN qv END) AS quantile_b,
               max(CASE WHEN a THEN qv END)
                 - max(CASE WHEN NOT a THEN qv END) AS qte
        FROM picks GROUP BY 1 ORDER BY q
      """.trim),
      "X314 quantile treatment effects, en vs rest doc length")(
      (spark, dir) => {
        import spark.implicits._
        Quantiles.quantileTreatmentEffect(
            table(spark, dir, "documents"), "n_chars",
            $"lang" === "en", qs = Seq(0.25, 0.5, 0.75, 0.9))
          .orderBy($"q")
      }),

    // X315: Page-Hinkley excursion of the daily count series — the
    // running-mean-adaptive drift alarm.
    QueryDef(
      "q_page_hinkley",
      Some("""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS v
          FROM events GROUP BY 1
        ), pre AS (
          SELECT d, v,
                 CAST(count(*) OVER (ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS t,
                 CAST(sum(v) OVER (ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS p
          FROM daily
        ), terms AS (
          SELECT d, t,
                 CAST(round((CAST(v * t - p AS DOUBLE)
                   / CAST(t AS DOUBLE) - 0.0) * 1e9) AS BIGINT)
                   AS term
          FROM pre
        ), walk AS (
          SELECT d, t,
                 sum(term) OVER (ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS m
          FROM terms
        ), ph AS (
          SELECT d, t, m,
                 m - min(m) OVER (ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS ph
          FROM walk
        ), best AS (
          SELECT max(ph) AS phmax, max(t) AS n FROM ph
        ), pick AS (
          SELECT min(t) AS tb FROM ph, best WHERE ph = phmax
        )
        SELECT n, d AS ph_max_at,
               round(CAST(phmax AS DOUBLE) / 1e9, 6) AS ph_max,
               CAST(phmax AS DOUBLE) / 1e9 > 500.0 AS alarm
        FROM ph, best, pick WHERE t = tb
      """.trim),
      "X315 Page-Hinkley excursion on daily counts (lambda 500)")(
      (spark, dir) => {
        import spark.implicits._
        val daily = events(spark, dir)
          .groupBy(to_date($"ts").as("d"))
          .agg(count(lit(1)).cast("long").as("v"))
        TimeSeries.pageHinkley(daily, "d", "v", delta = 0.0,
          lambda = 500.0)
      }),

    // X316: winsorized Welch t — en vs rest mean length with each
    // group clamped to its own exact [p10, p90].
    QueryDef(
      "q_winsorized_t",
      Some("""
        WITH base AS (
          SELECT CASE WHEN lang = 'en' THEN 'a' ELSE 'b' END AS g,
                 CAST(round(n_chars * 1000000.0) AS BIGINT) AS q
          FROM documents
        ), tot AS (SELECT g, count(*) AS total FROM base GROUP BY 1),
        o AS (
          SELECT g, q, sum(cnt) OVER (PARTITION BY g ORDER BY q)
            AS cum
          FROM (SELECT g, q, count(*) AS cnt FROM base GROUP BY 1, 2)
        ), lo AS (
          SELECT o.g, min(q) AS lo FROM o JOIN tot USING (g)
          WHERE cum >= ceil(0.1 * total) GROUP BY o.g
        ), hi AS (
          SELECT o.g, min(q) AS hi FROM o JOIN tot USING (g)
          WHERE cum >= ceil(0.9 * total) GROUP BY o.g
        ), clamped AS (
          SELECT base.g, least(greatest(q, lo), hi) AS w
          FROM base JOIN lo USING (g) JOIN hi USING (g)
        ), agg AS (
          SELECT
            CAST(sum(CASE WHEN g = 'a' THEN 1 ELSE 0 END) AS BIGINT)
              AS n_a,
            CAST(sum(CASE WHEN g = 'b' THEN 1 ELSE 0 END) AS BIGINT)
              AS n_b,
            sum(CASE WHEN g = 'a'
              THEN CAST(w AS HUGEINT) END) AS sa,
            sum(CASE WHEN g = 'b'
              THEN CAST(w AS HUGEINT) END) AS sb,
            sum(CASE WHEN g = 'a'
              THEN CAST(w AS HUGEINT) * w END) AS ssa,
            sum(CASE WHEN g = 'b'
              THEN CAST(w AS HUGEINT) * w END) AS ssb
          FROM clamped
        ), m AS (
          SELECT n_a, n_b,
                 CAST(sa AS DOUBLE) / n_a AS ma,
                 CAST(sb AS DOUBLE) / n_b AS mb,
                 (CAST(ssa AS DOUBLE) - CAST(sa AS DOUBLE)
                   * CAST(sa AS DOUBLE) / n_a) / (n_a - 1) AS va,
                 (CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE)
                   * CAST(sb AS DOUBLE) / n_b) / (n_b - 1) AS vb
          FROM agg
        ), se AS (
          SELECT n_a, n_b, ma, mb, va, vb,
                 va / n_a + vb / n_b AS se2
          FROM m
        )
        SELECT n_a, n_b,
               round(ma / 1e6, 6) AS wins_mean_a,
               round(mb / 1e6, 6) AS wins_mean_b,
               CASE WHEN n_a > 1 AND n_b > 1 AND se2 > 0 THEN
                 round((ma - mb) / sqrt(se2), 6) END AS t_stat,
               CASE WHEN n_a > 1 AND n_b > 1 AND se2 > 0 THEN
                 round((se2 * se2)
                   / (va / n_a * (va / n_a) / (n_a - 1)
                     + vb / n_b * (vb / n_b) / (n_b - 1)), 6) END
                 AS dof
        FROM se
      """.trim),
      "X316 winsorized Welch t, en vs rest doc length (p10-p90)")(
      (spark, dir) => {
        import spark.implicits._
        Hypothesis.winsorizedWelchT(table(spark, dir, "documents"),
          "n_chars", $"lang" === "en", loQ = 0.1, hiQ = 0.9)
      }),

    // X317: proportion effect panel — Cohen's h, RR, OR for the
    // long-doc rate, en vs rest.
    QueryDef(
      "q_proportion_effects",
      Some("""
        WITH w AS (
          SELECT
            CAST(sum(CASE WHEN lang = 'en' AND n_chars >= 250
              THEN 1 ELSE 0 END) AS BIGINT) AS x_a,
            CAST(sum(CASE WHEN lang = 'en' AND n_chars < 250
              THEN 1 ELSE 0 END) AS BIGINT) AS f_a,
            CAST(sum(CASE WHEN lang <> 'en' AND n_chars >= 250
              THEN 1 ELSE 0 END) AS BIGINT) AS x_b,
            CAST(sum(CASE WHEN lang <> 'en' AND n_chars < 250
              THEN 1 ELSE 0 END) AS BIGINT) AS f_b
          FROM documents
        ), m AS (
          SELECT x_a, f_a, x_b, f_b,
                 CAST(x_a + f_a AS DOUBLE) AS na,
                 CAST(x_b + f_b AS DOUBLE) AS nb,
                 CAST(x_a AS DOUBLE) / CAST(x_a + f_a AS DOUBLE)
                   AS pa,
                 CAST(x_b AS DOUBLE) / CAST(x_b + f_b AS DOUBLE)
                   AS pb
          FROM w
        )
        SELECT x_a, f_a, x_b, f_b,
               CASE WHEN na > 0 THEN round(pa, 6) END AS rate_a,
               CASE WHEN nb > 0 THEN round(pb, 6) END AS rate_b,
               CASE WHEN na > 0 AND nb > 0 THEN
                 round(2.0 * asin(sqrt(pa)) - 2.0 * asin(sqrt(pb)),
                   6) END AS cohens_h,
               CASE WHEN nb > 0 AND pb > 0 AND na > 0 THEN
                 round(pa / pb, 6) END AS risk_ratio,
               CASE WHEN x_a > 0 AND f_a > 0 AND x_b > 0 AND f_b > 0
                 THEN round(CAST(x_a AS DOUBLE) * f_b
                   / (CAST(f_a AS DOUBLE) * x_b), 6) END
                 AS odds_ratio,
               CASE WHEN x_a > 0 AND f_a > 0 AND x_b > 0 AND f_b > 0
                 THEN round(ln(CAST(x_a AS DOUBLE) * f_b
                   / (CAST(f_a AS DOUBLE) * x_b)), 6) END
                 AS log_odds_ratio,
               CASE WHEN x_a > 0 AND f_a > 0 AND x_b > 0 AND f_b > 0
                 THEN round(sqrt(1.0 / x_a + 1.0 / f_a + 1.0 / x_b
                   + 1.0 / f_b), 6) END AS se_log_or
        FROM m
      """.trim),
      "X317 Cohen's h / RR / OR panel for the long-doc rate")(
      (spark, dir) => {
        import spark.implicits._
        Hypothesis.proportionEffects(table(spark, dir, "documents"),
          $"n_chars" >= 250, $"lang" === "en")
      }),

    // X318: negative-binomial fit of per-user event counts — the
    // overdispersion model on top of the raw VMR.
    QueryDef(
      "q_negbin_fit",
      Some("""
        WITH counted AS (
          SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
          FROM events GROUP BY 1
        ), base AS (
          SELECT CAST(round(cnt * 1000000.0) AS BIGINT) AS q
          FROM counted
        ), sums AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(q AS HUGEINT)) AS s,
                 sum(CAST(q AS HUGEINT) * q) AS ss
          FROM base
        ), m AS (
          SELECT n,
                 CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1e6 AS mn,
                 (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                   * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                 / (CAST(n AS DOUBLE) - 1.0) / 1e12 AS vr
          FROM sums
        )
        SELECT n, round(mn, 6) AS mean,
               CASE WHEN n > 1 THEN round(vr, 6) END AS variance,
               CASE WHEN n > 1 AND mn > 0 THEN round(vr / mn, 6) END
                 AS vmr,
               CASE WHEN n > 1 AND vr > mn AND mn > 0 THEN
                 round(mn * mn / (vr - mn), 6) END AS nb_r,
               CASE WHEN n > 1 AND vr > mn AND mn > 0 THEN
                 round(mn / vr, 6) END AS nb_p
        FROM m
      """.trim),
      "X318 negative-binomial MoM fit of per-user event counts")(
      (spark, dir) => {
        import spark.implicits._
        val counted = events(spark, dir).groupBy($"user_id")
          .agg(count(lit(1)).cast("long").as("cnt"))
        DistStats.negBinomialFit(counted, "cnt")
      }),

    // X319: Hurst exponent of the daily count series (R/S ladder
    // 5/10/15 — sized so sf0.01's 30-day span keeps >= 2 blocks).
    QueryDef(
      "q_hurst",
      Some("""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS v
          FROM events GROUP BY 1
        ), idx AS (
          SELECT v,
                 CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t
          FROM daily
        ),
        b5 AS (SELECT (t - 1) // 5 AS b, (t - 1) % 5 + 1 AS i, v
               FROM idx),
        f5 AS (SELECT b FROM b5 GROUP BY b HAVING count(*) = 5),
        s5 AS (SELECT b5.b, i, v,
                 sum(v) OVER (PARTITION BY b5.b) AS bs,
                 sum(v) OVER (PARTITION BY b5.b ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS p
               FROM b5 JOIN f5 USING (b)),
        z5 AS (SELECT b, CAST(p AS HUGEINT) * 5
                 - CAST(i AS HUGEINT) * bs AS zn, v, bs FROM s5),
        pb5 AS (SELECT b, max(zn) - min(least(zn, 0)) AS rn,
                 max(bs) AS bs, sum(CAST(v AS HUGEINT) * v) AS ss
               FROM z5 GROUP BY b),
        rs5 AS (SELECT CAST(round(CAST(rn AS DOUBLE) / 5
                 / sqrt(CASE WHEN CAST(ss AS DOUBLE) / 5
                     - (CAST(bs AS DOUBLE) / 5)
                     * (CAST(bs AS DOUBLE) / 5) > 0
                   THEN CAST(ss AS DOUBLE) / 5
                     - (CAST(bs AS DOUBLE) / 5)
                     * (CAST(bs AS DOUBLE) / 5) END) * 1e9)
                 AS BIGINT) AS rsn FROM pb5),
        m5 AS (SELECT CAST(5 AS BIGINT) AS block_size,
                 CAST(count(*) AS BIGINT) AS n_blocks,
                 round(CAST(sum(rsn) AS DOUBLE) / count(*) / 1e9, 6)
                   AS mean_rs
               FROM rs5 WHERE rsn IS NOT NULL),
        b10 AS (SELECT (t - 1) // 10 AS b, (t - 1) % 10 + 1 AS i, v
               FROM idx),
        f10 AS (SELECT b FROM b10 GROUP BY b HAVING count(*) = 10),
        s10 AS (SELECT b10.b, i, v,
                 sum(v) OVER (PARTITION BY b10.b) AS bs,
                 sum(v) OVER (PARTITION BY b10.b ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS p
               FROM b10 JOIN f10 USING (b)),
        z10 AS (SELECT b, CAST(p AS HUGEINT) * 10
                 - CAST(i AS HUGEINT) * bs AS zn, v, bs FROM s10),
        pb10 AS (SELECT b, max(zn) - min(least(zn, 0)) AS rn,
                 max(bs) AS bs, sum(CAST(v AS HUGEINT) * v) AS ss
               FROM z10 GROUP BY b),
        rs10 AS (SELECT CAST(round(CAST(rn AS DOUBLE) / 10
                 / sqrt(CASE WHEN CAST(ss AS DOUBLE) / 10
                     - (CAST(bs AS DOUBLE) / 10)
                     * (CAST(bs AS DOUBLE) / 10) > 0
                   THEN CAST(ss AS DOUBLE) / 10
                     - (CAST(bs AS DOUBLE) / 10)
                     * (CAST(bs AS DOUBLE) / 10) END) * 1e9)
                 AS BIGINT) AS rsn FROM pb10),
        m10 AS (SELECT CAST(10 AS BIGINT) AS block_size,
                 CAST(count(*) AS BIGINT) AS n_blocks,
                 round(CAST(sum(rsn) AS DOUBLE) / count(*) / 1e9, 6)
                   AS mean_rs
               FROM rs10 WHERE rsn IS NOT NULL),
        b15 AS (SELECT (t - 1) // 15 AS b, (t - 1) % 15 + 1 AS i, v
               FROM idx),
        f15 AS (SELECT b FROM b15 GROUP BY b HAVING count(*) = 15),
        s15 AS (SELECT b15.b, i, v,
                 sum(v) OVER (PARTITION BY b15.b) AS bs,
                 sum(v) OVER (PARTITION BY b15.b ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS p
               FROM b15 JOIN f15 USING (b)),
        z15 AS (SELECT b, CAST(p AS HUGEINT) * 15
                 - CAST(i AS HUGEINT) * bs AS zn, v, bs FROM s15),
        pb15 AS (SELECT b, max(zn) - min(least(zn, 0)) AS rn,
                 max(bs) AS bs, sum(CAST(v AS HUGEINT) * v) AS ss
               FROM z15 GROUP BY b),
        rs15 AS (SELECT CAST(round(CAST(rn AS DOUBLE) / 15
                 / sqrt(CASE WHEN CAST(ss AS DOUBLE) / 15
                     - (CAST(bs AS DOUBLE) / 15)
                     * (CAST(bs AS DOUBLE) / 15) > 0
                   THEN CAST(ss AS DOUBLE) / 15
                     - (CAST(bs AS DOUBLE) / 15)
                     * (CAST(bs AS DOUBLE) / 15) END) * 1e9)
                 AS BIGINT) AS rsn FROM pb15),
        m15 AS (SELECT CAST(15 AS BIGINT) AS block_size,
                 CAST(count(*) AS BIGINT) AS n_blocks,
                 round(CAST(sum(rsn) AS DOUBLE) / count(*) / 1e9, 6)
                   AS mean_rs
               FROM rs15 WHERE rsn IS NOT NULL),
        pts AS (
          SELECT block_size, n_blocks, mean_rs,
                 ln(CAST(block_size AS DOUBLE)) AS x,
                 ln(mean_rs) AS y
          FROM (SELECT * FROM m5 UNION ALL SELECT * FROM m10
                UNION ALL SELECT * FROM m15)
          WHERE mean_rs > 0
        ), fit AS (
          SELECT CAST(count(*) AS BIGINT) AS k,
                 sum(x) AS sx, sum(y) AS sy,
                 sum(x * x) AS sxx, sum(x * y) AS sxy
          FROM pts
        )
        SELECT block_size, n_blocks, mean_rs,
               CASE WHEN k > 1 THEN
                 round((CAST(k AS DOUBLE) * sxy - sx * sy)
                   / (CAST(k AS DOUBLE) * sxx - sx * sx), 6) END
                 AS hurst
        FROM pts, fit ORDER BY block_size
      """.trim),
      "X319 Hurst R/S exponent of the daily count series")(
      (spark, dir) => {
        import spark.implicits._
        val daily = events(spark, dir)
          .groupBy(to_date($"ts").as("d"))
          .agg(count(lit(1)).cast("long").as("v"))
        TimeSeries.hurstExponent(daily, "d", "v",
          sizes = Seq(5, 10, 15))
      }),

    // X320: RMST at a 240-hour horizon for the even/odd user
    // cohorts — the survival effect size beside q_log_rank.
    QueryDef(
      "q_rmst",
      Some("""
        WITH subj AS (
          SELECT CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END
                   AS cohort,
                 (epoch_us(coalesce(min(CASE WHEN event_type = 'error'
                     THEN ts END), max(ts)))
                  - epoch_us(min(ts))) // 3600000000 AS dur,
                 min(CASE WHEN event_type = 'error' THEN ts END)
                   IS NOT NULL AS ev
          FROM events GROUP BY user_id
        ), per AS (
          SELECT cohort, dur AS t,
                 CAST(sum(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT)
                   AS d,
                 CAST(sum(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT)
                   AS c
          FROM subj GROUP BY 1, 2
        ), tot AS (
          SELECT cohort, CAST(sum(d + c) AS BIGINT) AS nn
          FROM per GROUP BY 1
        ), cum AS (
          SELECT per.cohort, t, d, c, nn,
                 CAST(sum(d + c) OVER (PARTITION BY per.cohort
                   ORDER BY t) AS BIGINT) AS lft
          FROM per JOIN tot ON per.cohort = tot.cohort
        ), rs AS (
          SELECT cohort, t, d, c, nn - (lft - d - c) AS nrisk
          FROM cum
        ), terms AS (
          SELECT cohort, t, d, nrisk,
                 CASE WHEN d = 0 THEN 0.0
                      WHEN d < nrisk THEN
                        ln(1.0 - CAST(d AS DOUBLE)
                          / CAST(nrisk AS DOUBLE))
                      ELSE 0.0 END AS lnterm,
                 CASE WHEN d = nrisk THEN 1 ELSE 0 END AS deadflag
          FROM rs
        ), walk AS (
          SELECT cohort, t, d,
                 sum(lnterm) OVER (PARTITION BY cohort ORDER BY t)
                   AS lnsum,
                 max(deadflag) OVER (PARTITION BY cohort ORDER BY t)
                   AS dead
          FROM terms
        ), km AS (
          SELECT cohort, t, d,
                 CASE WHEN dead = 1 THEN 0.0
                      ELSE round(exp(lnsum), 6) END AS survival
          FROM walk WHERE d > 0 AND t <= 240
        ), seg AS (
          SELECT cohort, t, d, survival,
                 coalesce(lag(t) OVER (PARTITION BY cohort
                   ORDER BY t), 0) AS prevt,
                 coalesce(lag(survival) OVER (PARTITION BY cohort
                   ORDER BY t), 1.0) AS prevs
          FROM km
        ), folded AS (
          SELECT cohort,
                 coalesce(CAST(sum(CAST(round(prevs * (t - prevt)
                   * 1e6) AS BIGINT)) AS BIGINT), 0) AS area,
                 max(t) AS lastt,
                 arg_max(survival, t) AS lasts,
                 coalesce(CAST(sum(d) AS BIGINT), 0) AS n_events
          FROM seg GROUP BY 1
        ), base AS (
          SELECT cohort, CAST(count(*) AS BIGINT) AS n_subjects
          FROM subj GROUP BY 1
        )
        SELECT b.cohort, n_subjects,
               coalesce(n_events, 0) AS n_events,
               CAST(240 AS BIGINT) AS tau,
               round((CAST(coalesce(area, 0) AS DOUBLE)
                 + CASE WHEN lastt IS NULL THEN 240.0 * 1e6
                   ELSE round(lasts * (240 - lastt) * 1e6) END)
                 / 1e6, 6) AS rmst
        FROM base b LEFT JOIN folded USING (cohort)
        ORDER BY cohort
      """.trim),
      "X320 240h restricted mean time-to-first-error per cohort")(
      (spark, dir) => {
        import spark.implicits._
        val subj = events(spark, dir)
          .groupBy($"user_id")
          .agg(min($"ts").as("first"), max($"ts").as("last"),
            min(when($"event_type" === "error", $"ts")).as("err"))
          .withColumn("dur_us",
            unix_micros(coalesce($"err", $"last")) -
              unix_micros($"first"))
          .withColumn("dur", expr("dur_us div 3600000000"))
          .withColumn("cohort",
            when($"user_id" % 2 === 0, "even").otherwise("odd"))
        def side(c: String) =
          Funnel.rmst(subj.filter($"cohort" === c), "dur",
              $"err".isNotNull, tau = 240L)
            .select(lit(c).as("cohort"), $"n_subjects", $"n_events",
              $"tau", $"rmst")
        side("even").unionAll(side("odd")).orderBy($"cohort")
      }),

    // X321: SentencePiece-style character coverage at 95% — the
    // charset a char-level tokenizer should train against.
    QueryDef(
      "q_char_coverage",
      Some("""
        WITH chars AS (
          SELECT unnest(string_split(text, '')) AS ch FROM documents
        ), counts AS (
          SELECT ch, CAST(count(*) AS BIGINT) AS c
          FROM chars WHERE ch <> '' GROUP BY 1
        ), tot AS (
          SELECT CAST(sum(c) AS BIGINT) AS t,
                 CAST(count(*) AS BIGINT) AS n_distinct_chars
          FROM counts
        ), ranked AS (
          SELECT ch, c, t, n_distinct_chars,
                 sum(c) OVER (ORDER BY c DESC, ch
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum,
                 CAST(ceil(0.95 * t) AS BIGINT) AS target
          FROM counts, tot
        )
        SELECT max(n_distinct_chars) AS n_distinct_chars,
               max(t) AS total_chars,
               CAST(count(*) AS BIGINT) AS n_kept,
               round(CAST(sum(c) AS DOUBLE) / max(t), 6)
                 AS coverage_achieved,
               string_agg(ch, '' ORDER BY ch) AS kept_charset
        FROM ranked WHERE cum - c < target
      """.trim),
      "X321 95% character-coverage charset of the corpus")(
      (spark, dir) => {
        CorpusOps.charCoverage(table(spark, dir, "documents"),
          "text", coverage = 0.95)
      }),

    // X322: Jonckheere-Terpstra — do doc lengths rise monotonically
    // across word-count bands (the ordered alternative).
    QueryDef(
      "q_jonckheere",
      Some("""
        WITH base AS (
          SELECT CASE WHEN len(string_split(text, ' ')) < 30 THEN 0
                      WHEN len(string_split(text, ' ')) < 70 THEN 1
                      ELSE 2 END AS g,
                 CAST(round(n_chars * 1000000.0) AS BIGINT) AS v
          FROM documents
        ), cells AS (
          SELECT v,
                 CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS c0,
                 CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS c1,
                 CAST(sum(CASE WHEN g = 2 THEN 1 ELSE 0 END)
                   AS BIGINT) AS c2
          FROM base GROUP BY 1
        ), cum AS (
          SELECT v, c0, c1, c2,
                 coalesce(sum(c0) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS b0,
                 coalesce(sum(c1) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS b1
          FROM cells
        ), folded AS (
          SELECT sum(2 * CAST(c1 AS HUGEINT) * b0
                   + CAST(c0 AS HUGEINT) * c1
                   + 2 * CAST(c2 AS HUGEINT) * b0
                   + CAST(c0 AS HUGEINT) * c2
                   + 2 * CAST(c2 AS HUGEINT) * b1
                   + CAST(c1 AS HUGEINT) * c2) AS j2,
                 CAST(sum(c0) AS BIGINT) AS n0,
                 CAST(sum(c1) AS BIGINT) AS n1,
                 CAST(sum(c2) AS BIGINT) AS n2
          FROM cum
        )
        SELECT n0 + n1 + n2 AS n_total, CAST(3 AS BIGINT) AS n_bands,
               round(CAST(j2 AS DOUBLE) / 2.0, 6) AS j_stat,
               round((CAST(n0 + n1 + n2 AS DOUBLE)
                   * (n0 + n1 + n2)
                 - CAST(CAST(n0 AS HUGEINT) * n0
                   + CAST(n1 AS HUGEINT) * n1
                   + CAST(n2 AS HUGEINT) * n2 AS DOUBLE)) / 4.0, 6)
                 AS expected,
               CASE WHEN (CAST(n0 + n1 + n2 AS DOUBLE)
                   * (n0 + n1 + n2)
                   * (2.0 * (n0 + n1 + n2) + 3.0)
                 - CAST(CAST(n0 AS HUGEINT) * n0 * (2 * n0 + 3)
                   + CAST(n1 AS HUGEINT) * n1 * (2 * n1 + 3)
                   + CAST(n2 AS HUGEINT) * n2 * (2 * n2 + 3)
                   AS DOUBLE)) / 72.0 > 0 THEN
                 round((CAST(j2 AS DOUBLE) / 2.0
                   - (CAST(n0 + n1 + n2 AS DOUBLE) * (n0 + n1 + n2)
                     - CAST(CAST(n0 AS HUGEINT) * n0
                       + CAST(n1 AS HUGEINT) * n1
                       + CAST(n2 AS HUGEINT) * n2 AS DOUBLE)) / 4.0)
                 / sqrt((CAST(n0 + n1 + n2 AS DOUBLE)
                     * (n0 + n1 + n2)
                     * (2.0 * (n0 + n1 + n2) + 3.0)
                   - CAST(CAST(n0 AS HUGEINT) * n0 * (2 * n0 + 3)
                     + CAST(n1 AS HUGEINT) * n1 * (2 * n1 + 3)
                     + CAST(n2 AS HUGEINT) * n2 * (2 * n2 + 3)
                     AS DOUBLE)) / 72.0), 6) END AS z_stat
        FROM folded
      """.trim),
      "X322 Jonckheere-Terpstra: length rises across word bands")(
      (spark, dir) => {
        import spark.implicits._
        val band = when(size(split($"text", " ")) < 30, 0)
          .when(size(split($"text", " ")) < 70, 1).otherwise(2)
        Hypothesis.jonckheereTerpstra(
          table(spark, dir, "documents").select(band.as("band"),
            $"n_chars"), $"band", "n_chars")
      }),

    // X324: leave-one-language-out valuation of mean doc length —
    // which slice props the corpus metric up or drags it down.
    QueryDef(
      "q_loso",
      Some("""
        WITH cells AS (
          SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
                 sum(CAST(round(n_chars * 1000000.0) AS HUGEINT))
                   AS s
          FROM documents GROUP BY 1
        ), tot AS (
          SELECT CAST(sum(n_rows) AS BIGINT) AS nn, sum(s) AS ss
          FROM cells
        )
        SELECT lang, n_rows,
               round(CAST(n_rows AS DOUBLE) / nn, 6) AS row_share,
               round(CAST(ss AS DOUBLE) / nn / 1e6, 6) AS mean_full,
               CASE WHEN nn > n_rows THEN
                 round(CAST(ss - s AS DOUBLE) / (nn - n_rows) / 1e6,
                   6) END AS mean_without,
               CASE WHEN nn > n_rows THEN
                 round(CAST(ss AS DOUBLE) / nn / 1e6
                   - CAST(ss - s AS DOUBLE) / (nn - n_rows) / 1e6, 6)
                 END AS delta
        FROM cells, tot ORDER BY lang
      """.trim),
      "X324 leave-one-language-out mean-length valuation")(
      (spark, dir) => {
        import spark.implicits._
        DistStats.leaveOneOut(table(spark, dir, "documents"), "lang",
            "n_chars")
          .orderBy($"lang")
      }),

    // X325: per-source exact-dedup impact triage — where the X1 pass
    // will pay off, in docs and character mass.
    QueryDef(
      "q_dedup_impact",
      Some("""
        WITH pc AS (
          SELECT source, md5(lower(text)) AS h,
                 CAST(count(*) AS BIGINT) AS copies,
                 CAST(sum(n_chars) AS BIGINT) AS chars,
                 arg_min(n_chars, doc_id) AS keepchars
          FROM documents GROUP BY 1, 2
        )
        SELECT source, CAST(sum(copies) AS BIGINT) AS n_docs,
               CAST(count(*) AS BIGINT) AS n_unique,
               round(1.0 - CAST(count(*) AS DOUBLE) / sum(copies), 6)
                 AS dup_ratio,
               CAST(sum(chars) AS BIGINT) AS chars_total,
               CAST(sum(keepchars) AS BIGINT) AS chars_kept,
               round(1.0 - CAST(sum(keepchars) AS DOUBLE)
                 / sum(chars), 6) AS chars_saved_ratio
        FROM pc GROUP BY 1 ORDER BY source
      """.trim),
      "X325 per-source exact-dedup impact report")(
      (spark, dir) => {
        import spark.implicits._
        Dedup.dedupImpact(table(spark, dir, "documents"), "source",
            "doc_id", "text", "n_chars")
          .orderBy($"source")
      }),

    // X326: token-budget epoch plan per source (alpha 0.5, cap 4
    // epochs, 100k-token budget) — X85's weights as a dataloader
    // repetition table.
    QueryDef(
      "q_epoch_alloc",
      Some("""
        WITH cells AS (
          SELECT source,
                 CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                   AS tokens
          FROM documents GROUP BY 1
        ), powed AS (
          SELECT source, tokens,
                 power(CAST(tokens AS DOUBLE), 0.5) AS w
          FROM cells
        ), tot AS (SELECT sum(w) AS wtot FROM powed)
        SELECT source, tokens,
               round(w / wtot, 6) AS weight,
               CAST(round(w / wtot * 100000) AS BIGINT)
                 AS target_tokens,
               round(least(w / wtot * 100000 / tokens, 4.0), 6)
                 AS epochs,
               CAST(round(least(w / wtot * 100000, 4.0 * tokens))
                 AS BIGINT) AS realized_tokens,
               w / wtot * 100000 / tokens > 4.0 AS capped,
               CAST(round(greatest(w / wtot * 100000
                 - least(w / wtot * 100000, 4.0 * tokens), 0.0))
                 AS BIGINT) AS shortfall_tokens
        FROM powed, tot ORDER BY source
      """.trim),
      "X326 epoch allocation under a 100k-token budget, alpha 0.5")(
      (spark, dir) => {
        import spark.implicits._
        val toks = table(spark, dir, "documents")
          .select($"source", size(split($"text", " ")).as("tok"))
        CorpusOps.epochAllocation(toks, "source", "tok",
            budget = 100000L, alpha = 0.5, maxEpochs = 4.0)
          .orderBy($"source")
      }),

    // X328: embedding anisotropy — the expected random-pair cosine
    // via the one-pass ||sum(u)||^2 identity.
    QueryDef(
      "q_anisotropy",
      Some("""
        WITH base AS (
          SELECT vec_id,
                 list_transform(embedding, x ->
                   CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))
                   AS q
          FROM embeddings
        ), n2t AS (
          SELECT vec_id, q,
                 list_aggregate(list_transform(q, v -> v * v), 'sum')
                   AS n2
          FROM base
        ), comps AS (
          SELECT n2,
                 unnest(range(1, len(q) + 1)) AS d, unnest(q) AS qd
          FROM n2t WHERE n2 > 0
        ), un AS (
          SELECT d, CAST(round(CAST(qd AS DOUBLE)
            / sqrt(CAST(n2 AS DOUBLE)) * 1e9) AS BIGINT) AS u
          FROM comps
        ), dims AS (
          SELECT d, sum(CAST(u AS HUGEINT)) AS sd FROM un GROUP BY 1
        ), folded AS (
          SELECT CAST(count(*) AS BIGINT) AS dim, sum(sd * sd) AS ss
          FROM dims
        ), nn AS (
          SELECT CAST(count(*) AS BIGINT) AS n FROM n2t WHERE n2 > 0
        )
        SELECT n, dim,
               CASE WHEN n > 1 THEN
                 round((CAST(ss AS DOUBLE) / 1e18 - CAST(n AS DOUBLE))
                   / (CAST(n AS DOUBLE) * (n - 1)), 6) END
                 AS mean_cosine
        FROM nn, folded
      """.trim),
      "X328 embedding anisotropy (expected random-pair cosine)")(
      (spark, dir) => {
        Similarity.anisotropy(table(spark, dir, "embeddings"),
          "vec_id", "embedding")
      }),

    // X327: linear CKA between the two halves of the embedding — the
    // rotation-invariant "same geometry?" readout.
    QueryDef(
      "q_cka",
      Some("""
        WITH comps AS (
          SELECT vec_id AS id, i - 1 AS d, 0 AS t,
                 CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT) AS q
          FROM (SELECT vec_id, unnest(embedding[1:32]) AS x,
                       unnest(range(1, 33)) AS i FROM embeddings)
          UNION ALL
          SELECT vec_id, 100000 + i - 1, 1,
                 CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)
          FROM (SELECT vec_id, unnest(embedding[33:64]) AS x,
                       unnest(range(1, 33)) AS i FROM embeddings)
        ), pairs AS (
          SELECT a.d AS di, b.d AS dj, a.t AS ti, b.t AS tj,
                 CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(a.q AS HUGEINT)) AS si,
                 sum(CAST(b.q AS HUGEINT)) AS sj,
                 sum(CAST(a.q AS HUGEINT) * b.q) AS sij
          FROM comps a JOIN comps b ON a.id = b.id
          GROUP BY 1, 2, 3, 4
        ), cells AS (
          SELECT ti, tj,
                 CAST(round((CAST(sij AS DOUBLE) / n
                   - (CAST(si AS DOUBLE) / n)
                     * (CAST(sj AS DOUBLE) / n)) / 1e12 * 1e9)
                   AS BIGINT) AS cn
          FROM pairs
        ), blocks AS (
          SELECT ti, tj, sum(CAST(cn AS HUGEINT) * cn) AS f2
          FROM cells GROUP BY 1, 2
        ), folded AS (
          SELECT sum(CASE WHEN ti = 0 AND tj = 1 THEN f2 END)
                   AS cxy2,
                 sum(CASE WHEN ti = 0 AND tj = 0 THEN f2 END)
                   AS cxx2,
                 sum(CASE WHEN ti = 1 AND tj = 1 THEN f2 END)
                   AS cyy2
          FROM blocks
        )
        SELECT round(CAST(cxy2 AS DOUBLE) / 1e18, 6) AS cross_frob2,
               CASE WHEN sqrt(CAST(cxx2 AS DOUBLE)
                   * CAST(cyy2 AS DOUBLE)) > 0 THEN
                 round(CAST(cxy2 AS DOUBLE)
                   / sqrt(CAST(cxx2 AS DOUBLE)
                     * CAST(cyy2 AS DOUBLE)), 6) END AS cka
        FROM folded
      """.trim),
      "X327 linear CKA between the two embedding halves")(
      (spark, dir) => {
        Similarity.ckaLinear(table(spark, dir, "embeddings"),
          "vec_id", expr("slice(embedding, 1, 32)"),
          expr("slice(embedding, 33, 32)"))
      }),

    // X329: kNN-graph hubness (k=5) — quantized-integer dot products
    // make the brute ranks engine-exact, unlike the float knn path.
    QueryDef(
      "q_hubness",
      Some("""
        WITH base AS (
          SELECT vec_id,
                 list_transform(embedding, x ->
                   CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))
                   AS q
          FROM embeddings
        ), n2t AS (
          SELECT vec_id, q,
                 list_aggregate(list_transform(q, v -> v * v), 'sum')
                   AS n2
          FROM base
        ), pairs AS (
          SELECT a.vec_id AS qa, b.vec_id AS qb,
                 CAST(list_aggregate(list_transform(
                     list_zip(a.q, b.q), p -> p[1] * p[2]), 'sum')
                   AS DOUBLE)
                 / (sqrt(CAST(a.n2 AS DOUBLE))
                   * sqrt(CAST(b.n2 AS DOUBLE))) AS cos
          FROM n2t a JOIN n2t b ON a.vec_id <> b.vec_id
        ), ranked AS (
          SELECT qa, qb, row_number() OVER (PARTITION BY qa
            ORDER BY cos DESC, qb) AS rk
          FROM pairs
        ), indeg AS (
          SELECT n2t.vec_id,
                 CAST(coalesce(cnt, 0) AS BIGINT) AS ind
          FROM n2t LEFT JOIN (
            SELECT qb, count(*) AS cnt FROM ranked WHERE rk <= 5
            GROUP BY 1) t ON t.qb = n2t.vec_id
        ), sums AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(ind AS HUGEINT)) AS s1,
                 sum(CAST(ind AS HUGEINT) * ind) AS s2,
                 sum(CAST(ind AS HUGEINT) * ind * ind) AS s3,
                 CAST(max(ind) AS BIGINT) AS max_indegree,
                 CAST(sum(CASE WHEN ind >= 10 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_hubs,
                 CAST(sum(CASE WHEN ind = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_antihubs
          FROM indeg
        ), m AS (
          SELECT n, max_indegree, n_hubs, n_antihubs,
                 CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m1,
                 CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
                 CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3
          FROM sums
        ), c AS (
          SELECT n, max_indegree, n_hubs, n_antihubs, m1,
                 r2 - m1 * m1 AS m2,
                 r3 - 3.0 * m1 * r2 + 2.0 * m1 * m1 * m1 AS m3
          FROM m
        )
        SELECT n, CAST(5 AS BIGINT) AS k,
               round(m1, 6) AS mean_indegree,
               CASE WHEN m2 > 0 THEN round(sqrt(m2), 6) END
                 AS sd_indegree,
               CASE WHEN m2 > 0 THEN
                 round(m3 / sqrt(m2 * m2 * m2), 6) END AS skewness,
               max_indegree, n_hubs, n_antihubs
        FROM c
      """.trim),
      "X329 kNN-graph hubness of the embeddings (k=5)")(
      (spark, dir) => {
        Similarity.hubness(table(spark, dir, "embeddings"), "vec_id",
          "embedding", k = 5)
      }),

    // X330: standardized Pearson residuals of lang x source — WHICH
    // cells drove the q_g_test verdict, in +-z units.
    QueryDef(
      "q_std_residuals",
      Some("""
        WITH cells AS (
          SELECT lang AS x, source AS y,
                 CAST(count(*) AS BIGINT) AS observed
          FROM documents GROUP BY 1, 2
        ), mx AS (
          SELECT x, CAST(sum(observed) AS BIGINT) AS rx
          FROM cells GROUP BY 1
        ), my AS (
          SELECT y, CAST(sum(observed) AS BIGINT) AS cy
          FROM cells GROUP BY 1
        ), t AS (
          SELECT CAST(sum(observed) AS BIGINT) AS n FROM cells
        )
        SELECT x, y, observed,
               round(CAST(rx AS DOUBLE) * CAST(cy AS DOUBLE)
                 / CAST(n AS DOUBLE), 6) AS expected,
               CASE WHEN sqrt(CAST(rx AS DOUBLE) * CAST(cy AS DOUBLE)
                   / CAST(n AS DOUBLE)
                   * (1.0 - CAST(rx AS DOUBLE) / CAST(n AS DOUBLE))
                   * (1.0 - CAST(cy AS DOUBLE) / CAST(n AS DOUBLE)))
                   > 0 THEN
                 round((CAST(observed AS DOUBLE)
                   - CAST(rx AS DOUBLE) * CAST(cy AS DOUBLE)
                     / CAST(n AS DOUBLE))
                 / sqrt(CAST(rx AS DOUBLE) * CAST(cy AS DOUBLE)
                   / CAST(n AS DOUBLE)
                   * (1.0 - CAST(rx AS DOUBLE) / CAST(n AS DOUBLE))
                   * (1.0 - CAST(cy AS DOUBLE) / CAST(n AS DOUBLE))),
                 6) END AS std_residual
        FROM cells JOIN mx USING (x) JOIN my USING (y) CROSS JOIN t
        ORDER BY x, y
      """.trim),
      "X330 standardized residuals of the lang x source table")(
      (spark, dir) => {
        import spark.implicits._
        CorpusOps.stdResiduals(table(spark, dir, "documents"),
            "lang", "source")
          .orderBy($"x", $"y")
      }),

    // X331: per-source Good-Turing unseen-vocabulary mass — which
    // sources still pay to crawl deeper.
    QueryDef(
      "q_unseen_mass",
      Some("""
        WITH terms AS (
          SELECT source AS g, w, CAST(count(*) AS BIGINT) AS c
          FROM (SELECT source, unnest(string_split(text, ' ')) AS w
                FROM documents)
          WHERE w <> '' GROUP BY 1, 2
        )
        SELECT g AS source, CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_hapaxes,
               round(CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                 AS DOUBLE) / sum(c), 6) AS p_unseen,
               round(CAST(count(*) AS DOUBLE) / sum(c), 6)
                 AS type_token_ratio
        FROM terms GROUP BY 1 ORDER BY source
      """.trim),
      "X331 per-source Good-Turing unseen mass + TTR")(
      (spark, dir) => {
        import spark.implicits._
        CorpusOps.unseenMass(table(spark, dir, "documents"), "text",
            "source")
          .orderBy($"source")
      }),

    // X332: reliability diagram table — does length-as-confidence
    // predict wordiness, bin by bin (the plot under the ECE).
    QueryDef(
      "q_reliability_table",
      Some("""
        WITH base AS (
          SELECT CAST(round(least(n_chars / 500.0, 1.0) * 1000000.0)
                   AS BIGINT) AS p,
                 CASE WHEN len(string_split(text, ' ')) >= 50
                   THEN 1 ELSE 0 END AS y
          FROM documents
        ), binned AS (
          SELECT least((p * 10) // 1000000, 9) AS bin,
                 CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(p AS HUGEINT)) AS sp,
                 CAST(sum(y) AS BIGINT) AS n_positive
          FROM base GROUP BY 1
        )
        SELECT bin, n, n_positive,
               round(CAST(sp AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6),
                 6) AS mean_confidence,
               round(CAST(n_positive AS DOUBLE) / n, 6) AS accuracy,
               round(CAST(sp AS DOUBLE) / (CAST(n AS DOUBLE) * 1e6)
                 - CAST(n_positive AS DOUBLE) / n, 6) AS gap
        FROM binned ORDER BY bin
      """.trim),
      "X332 reliability table: length-confidence vs wordiness")(
      (spark, dir) => {
        import spark.implicits._
        val scored = table(spark, dir, "documents").select(
          least($"n_chars" / 500.0, lit(1.0)).as("p"),
          (size(split($"text", " ")) >= 50).as("y"))
        Calibrate.reliabilityTable(scored, "p", "y", bins = 10)
          .orderBy($"bin")
      }),

    // X333: Dunn's post-hoc — which language pairs differ in length
    // rank after the q_kruskal omnibus.
    QueryDef(
      "q_dunn",
      Some("""
        WITH cells AS (
          SELECT CAST(round(n_chars * 1000000.0) AS BIGINT) AS v,
                 lang AS g, CAST(count(*) AS BIGINT) AS c
          FROM documents GROUP BY 1, 2
        ), perv AS (
          SELECT v, CAST(sum(c) AS BIGINT) AS cv FROM cells GROUP BY 1
        ), ranked AS (
          SELECT v, 2 * (sum(cv) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cv)
              + cv + 1 AS m2
          FROM perv
        ), gs AS (
          SELECT g, CAST(sum(c) AS BIGINT) AS ng,
                 sum(CAST(c AS HUGEINT) * m2) AS r2
          FROM cells JOIN ranked USING (v) GROUP BY 1
        ), ties AS (
          SELECT CAST(sum(cv) AS BIGINT) AS nt,
                 sum(CAST(cv AS HUGEINT) * cv * cv - cv) AS tt
          FROM perv
        )
        SELECT a.g AS group_a, b.g AS group_b,
               a.ng AS n_a, b.ng AS n_b,
               round(CAST(a.r2 AS DOUBLE) / a.ng / 2.0, 6)
                 AS mean_rank_a,
               round(CAST(b.r2 AS DOUBLE) / b.ng / 2.0, 6)
                 AS mean_rank_b,
               CASE WHEN nt > 1 AND (CAST(nt AS DOUBLE)
                   * (CAST(nt AS DOUBLE) + 1.0)
                   - CAST(tt AS DOUBLE) / (CAST(nt AS DOUBLE) - 1.0))
                   / 12.0 > 0 THEN
                 round((CAST(a.r2 AS DOUBLE) / a.ng / 2.0
                   - CAST(b.r2 AS DOUBLE) / b.ng / 2.0)
                 / sqrt((CAST(nt AS DOUBLE)
                     * (CAST(nt AS DOUBLE) + 1.0)
                   - CAST(tt AS DOUBLE) / (CAST(nt AS DOUBLE) - 1.0))
                   / 12.0 * (1.0 / a.ng + 1.0 / b.ng)), 6) END
                 AS z_stat
        FROM gs a JOIN gs b ON a.g < b.g CROSS JOIN ties
        ORDER BY group_a, group_b
      """.trim),
      "X333 Dunn pairwise rank z per language pair")(
      (spark, dir) => {
        import spark.implicits._
        Hypothesis.dunnTest(table(spark, dir, "documents"), "lang",
            "n_chars")
          .orderBy($"group_a", $"group_b")
      }),

    // X334: weekly seasonal strength of the daily series — is the
    // calendar pattern real before trusting seasonal-naive.
    QueryDef(
      "q_seasonal_strength",
      Some("""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS v
          FROM events GROUP BY 1
        ), idx AS (
          SELECT d, v,
                 CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t,
                 sum(CAST(v AS HUGEINT)) OVER (ORDER BY d
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wsum,
                 count(*) OVER (ORDER BY d
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wc
          FROM daily
        ), det AS (
          SELECT (t - 1) % 7 AS phase,
                 CAST(v AS HUGEINT) * 7 - wsum AS dn,
                 CAST(round(CAST(CAST(v AS HUGEINT) * 7 - wsum
                   AS DOUBLE) / 7 * 1e9) AS BIGINT) AS detn
          FROM idx WHERE wc = 7
        ), per AS (
          SELECT phase, CAST(count(*) AS BIGINT) AS nobs,
                 sum(dn) AS sdn
          FROM det GROUP BY 1
        ), eff AS (
          SELECT phase,
                 CAST(round(CAST(sdn AS DOUBLE) / (7.0 * nobs) * 1e9)
                   AS BIGINT) AS effn
          FROM per
        ), g AS (
          SELECT CAST(sum(effn) AS DOUBLE) / count(*) AS gm FROM eff
        ), seas AS (
          SELECT phase,
                 CAST(round(CAST(effn AS DOUBLE) - gm) AS BIGINT)
                   AS seasn
          FROM eff, g
        ), joined AS (
          SELECT det.detn, det.detn - seas.seasn AS resn
          FROM det JOIN seas USING (phase)
        ), sums AS (
          SELECT CAST(count(*) AS BIGINT) AS n_obs,
                 sum(CAST(detn AS HUGEINT)) AS sd,
                 sum(CAST(detn AS HUGEINT) * detn) AS sdd,
                 sum(CAST(resn AS HUGEINT)) AS sr,
                 sum(CAST(resn AS HUGEINT) * resn) AS srr
          FROM joined
        ), m AS (
          SELECT n_obs,
                 (CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE)
                   * CAST(sd AS DOUBLE) / CAST(n_obs AS DOUBLE))
                 / CAST(n_obs AS DOUBLE) / 1e18 AS vard,
                 (CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE)
                   * CAST(sr AS DOUBLE) / CAST(n_obs AS DOUBLE))
                 / CAST(n_obs AS DOUBLE) / 1e18 AS varr
          FROM sums
        )
        SELECT n_obs, CAST(7 AS BIGINT) AS period,
               round(vard, 6) AS var_detrended,
               round(varr, 6) AS var_remainder,
               CASE WHEN vard > 0 THEN
                 round(greatest(0.0, 1.0 - varr / vard), 6) END
                 AS seasonal_strength
        FROM m
      """.trim),
      "X334 weekly seasonal strength of the daily count series")(
      (spark, dir) => {
        import spark.implicits._
        val daily = events(spark, dir)
          .groupBy(to_date($"ts").as("d"))
          .agg(count(lit(1)).cast("long").as("v"))
        TimeSeries.seasonalStrength(daily, "d", "v", period = 7)
      }),

    // X335: Hodges-Lehmann shift — the robust en-vs-rest length gap
    // in the value's own units, beside q_mwu's verdict.
    QueryDef(
      "q_hl_shift",
      Some("""
        WITH per AS (
          SELECT CAST(round(n_chars * 1000000.0) AS BIGINT) AS v,
                 CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                   AS BIGINT) AS ca,
                 CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)
                   AS BIGINT) AS cb
          FROM documents GROUP BY 1
        ), a AS (SELECT v AS va, ca FROM per WHERE ca > 0),
        b AS (SELECT v AS vb, cb FROM per WHERE cb > 0),
        diffs AS (
          SELECT va - vb AS d, sum(CAST(ca AS HUGEINT) * cb) AS m
          FROM a, b GROUP BY 1
        ), tot AS (SELECT sum(m) AS nm FROM diffs),
        ranked AS (
          SELECT d, sum(m) OVER (ORDER BY d
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM diffs
        ), pick AS (
          SELECT min(d) AS hl FROM ranked, tot WHERE cum * 2 >= nm
        )
        SELECT CAST((SELECT nm FROM tot) AS BIGINT) AS n_cross_pairs,
               round(CAST(hl AS DOUBLE) / 1e6, 6) AS hl_shift
        FROM pick
      """.trim),
      "X335 Hodges-Lehmann shift of en-vs-rest doc lengths")(
      (spark, dir) => {
        import spark.implicits._
        Hypothesis.hodgesLehmannShift(table(spark, dir, "documents"),
          "n_chars", $"lang" === "en")
      }),

    // X336: paired sign test on the same chars-vs-5-per-word diff as
    // q_wilcoxon — the signs-only fallback verdict.
    QueryDef(
      "q_sign_test",
      Some("""
        WITH base AS (
          SELECT CAST(round((n_chars - 5 * len(string_split(text, ' ')))
            * 1000000.0) AS BIGINT) AS d
          FROM documents
        ), w AS (
          SELECT CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_pos,
                 CAST(sum(CASE WHEN d < 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_neg,
                 CAST(sum(CASE WHEN d = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_zero
          FROM base
        )
        SELECT n_pos, n_neg, n_zero,
               CASE WHEN n_pos + n_neg > 0 THEN
                 round(CAST(n_pos - n_neg AS DOUBLE)
                   / sqrt(CAST(n_pos + n_neg AS DOUBLE)), 6) END
                 AS z_stat
        FROM w
      """.trim),
      "X336 paired sign test: chars vs the 5-per-word prior")(
      (spark, dir) => {
        import spark.implicits._
        Hypothesis.signTest(table(spark, dir, "documents"),
          $"n_chars" - lit(5) * size(split($"text", " ")))
      }),

    // X337: Brunner-Munzel — q_mann_whitney's grid, studentized for
    // unequal spreads (the curated-vs-raw comparison MW mis-sizes).
    QueryDef(
      "q_brunner_munzel",
      Some("""
        WITH per AS (
          SELECT CAST(round(n_chars * 1000000.0) AS BIGINT) AS v,
                 CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                   AS BIGINT) AS ca,
                 CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)
                   AS BIGINT) AS cb
          FROM documents GROUP BY 1
        ), cum AS (
          SELECT ca, cb, ca + cb AS c,
                 sum(ca) OVER w AS cuma, sum(cb) OVER w AS cumb,
                 sum(ca + cb) OVER w AS cumc
          FROM per WINDOW w AS (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ), g AS (
          SELECT ca, cb,
                 2 * (cumc - c) + c + 1 AS m2,
                 2 * (cuma - ca) + ca + 1 AS a2,
                 2 * (cumb - cb) + cb + 1 AS b2
          FROM cum
        ), tot AS (
          SELECT CAST(sum(ca) AS BIGINT) AS n_a,
                 CAST(sum(cb) AS BIGINT) AS n_b,
                 sum(CAST(ca AS HUGEINT) * m2) AS ra2,
                 sum(CAST(cb AS HUGEINT) * m2) AS rb2
          FROM g
        ), folded AS (
          SELECT n_a, n_b, ra2, rb2,
                 sum(CAST(ca AS HUGEINT)
                   * (CAST(n_a AS HUGEINT) * (m2 - a2 + n_a + 1) - ra2)
                   * (CAST(n_a AS HUGEINT) * (m2 - a2 + n_a + 1) - ra2))
                   AS sa,
                 sum(CAST(cb AS HUGEINT)
                   * (CAST(n_b AS HUGEINT) * (m2 - b2 + n_b + 1) - rb2)
                   * (CAST(n_b AS HUGEINT) * (m2 - b2 + n_b + 1) - rb2))
                   AS sb
          FROM g, tot GROUP BY 1, 2, 3, 4
        ), d AS (
          SELECT n_a, n_b,
                 CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd,
                 CAST(ra2 AS DOUBLE) AS ra2d, CAST(rb2 AS DOUBLE) AS rb2d,
                 CAST(sa AS DOUBLE) AS sad, CAST(sb AS DOUBLE) AS sbd
          FROM folded
        ), s AS (
          SELECT n_a, n_b, nad, nbd, ra2d, rb2d,
                 sad / (4.0 * nad * nad * (nad - 1.0)) AS sa2,
                 sbd / (4.0 * nbd * nbd * (nbd - 1.0)) AS sb2
          FROM d
        )
        SELECT n_a, n_b,
               CASE WHEN n_a > 0 AND n_b > 0 THEN
                 round((rb2d / nbd - (nbd + 1.0)) / (2.0 * nad), 6) END
                 AS p_hat,
               CASE WHEN n_a > 1 AND n_b > 1
                      AND nad * sa2 + nbd * sb2 > 0.0 THEN
                 round(nad * nbd * ((rb2d / nbd - ra2d / nad) / 2.0)
                   / ((nad + nbd) * sqrt(nad * sa2 + nbd * sb2)), 6) END
                 AS w_stat
        FROM s
      """.trim),
      "X337 Brunner-Munzel: en vs non-en doc length, unequal spreads")(
      (spark, dir) => {
        import spark.implicits._
        Hypothesis.brunnerMunzel(table(spark, dir, "documents"),
          "n_chars", $"lang" === "en")
      }),

    // X338: Cliff's delta + Vargha-Delaney A — the effect sizes for
    // the same en-vs-rest comparison, pure pair counts.
    QueryDef(
      "q_cliffs_delta",
      Some("""
        WITH per AS (
          SELECT CAST(round(n_chars * 1000000.0) AS BIGINT) AS v,
                 CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                   AS BIGINT) AS ca,
                 CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)
                   AS BIGINT) AS cb
          FROM documents GROUP BY 1
        ), cum AS (
          SELECT ca, cb,
                 sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) - cb AS bbelow
          FROM per
        ), w AS (
          SELECT CAST(sum(ca) AS BIGINT) AS n_a,
                 CAST(sum(cb) AS BIGINT) AS n_b,
                 coalesce(sum(CAST(ca AS HUGEINT) * bbelow),
                   CAST(0 AS HUGEINT)) AS gt,
                 coalesce(sum(CAST(ca AS HUGEINT) * cb),
                   CAST(0 AS HUGEINT)) AS eq
          FROM cum
        )
        SELECT n_a, n_b,
               CAST(gt AS BIGINT) AS n_gt, CAST(eq AS BIGINT) AS n_eq,
               CAST(CAST(n_a AS HUGEINT) * n_b - gt - eq AS BIGINT)
                 AS n_lt,
               CASE WHEN n_a > 0 AND n_b > 0 THEN
                 round(CAST(gt - (CAST(n_a AS HUGEINT) * n_b - gt - eq)
                     AS DOUBLE)
                   / CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE), 6) END
                 AS cliffs_delta,
               CASE WHEN n_a > 0 AND n_b > 0 THEN
                 round((2.0 * CAST(gt AS DOUBLE) + CAST(eq AS DOUBLE))
                   / (2.0 * CAST(CAST(n_a AS HUGEINT) * n_b AS DOUBLE)),
                   6) END AS vd_a
        FROM w
      """.trim),
      "X338 Cliff's delta + VD-A: en vs non-en doc length")(
      (spark, dir) => {
        import spark.implicits._
        RankStats.cliffsDelta(table(spark, dir, "documents"),
          "n_chars", $"lang" === "en")
      }),

    // X339: Somers' D on the gk_gamma bands — the tie-aware
    // asymmetric association (gamma inflates on coarse bands).
    QueryDef(
      "q_somers_d",
      Some("""
        WITH banded AS (
          SELECT CASE WHEN n_chars < 150 THEN 0
                      WHEN n_chars < 350 THEN 1 ELSE 2 END AS x,
                 CASE WHEN len(string_split(text, ' ')) < 30 THEN 0
                      WHEN len(string_split(text, ' ')) < 70 THEN 1
                      ELSE 2 END AS y
          FROM documents
        ), cells AS (
          SELECT x, y, CAST(count(*) AS BIGINT) AS c
          FROM banded GROUP BY 1, 2
        ), folded AS (
          SELECT coalesce(sum(CASE WHEN a.y < b.y
              THEN CAST(a.c AS HUGEINT) * b.c END),
              CAST(0 AS HUGEINT)) AS conc,
            coalesce(sum(CASE WHEN a.y > b.y
              THEN CAST(a.c AS HUGEINT) * b.c END),
              CAST(0 AS HUGEINT)) AS disc
          FROM cells a JOIN cells b ON a.x < b.x
        ), tx AS (
          SELECT sum((CAST(s AS HUGEINT) * s - ss) / 2) AS t FROM (
            SELECT sum(c) AS s, sum(CAST(c AS HUGEINT) * c) AS ss
            FROM cells GROUP BY x)
        ), ty AS (
          SELECT sum((CAST(s AS HUGEINT) * s - ss) / 2) AS t FROM (
            SELECT sum(c) AS s, sum(CAST(c AS HUGEINT) * c) AS ss
            FROM cells GROUP BY y)
        ), tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells)
        SELECT n, CAST(conc AS BIGINT) AS concordant,
               CAST(disc AS BIGINT) AS discordant,
               CAST(tx.t AS BIGINT) AS ties_x_only,
               CAST(ty.t AS BIGINT) AS ties_y_only,
               CASE WHEN conc + disc + ty.t > 0 THEN
                 round(CAST(conc - disc AS DOUBLE)
                   / CAST(conc + disc + ty.t AS DOUBLE), 6) END AS d_yx,
               CASE WHEN conc + disc + tx.t > 0 THEN
                 round(CAST(conc - disc AS DOUBLE)
                   / CAST(conc + disc + tx.t AS DOUBLE), 6) END AS d_xy
        FROM folded, tx, ty, tot
      """.trim),
      "X339 Somers' D, length vs word-count bands, both directions")(
      (spark, dir) => {
        import spark.implicits._
        val banded = table(spark, dir, "documents").select(
          when($"n_chars" < 150, 0).when($"n_chars" < 350, 1)
            .otherwise(2).as("xb"),
          when(size(split($"text", " ")) < 30, 0)
            .when(size(split($"text", " ")) < 70, 1).otherwise(2)
            .as("yb"))
        CorpusOps.somersD(banded, "xb", "yb")
      }),

    // X340: Cramér's V / Tschuprow's T of lang × source — bounded
    // association strength for the drift dashboards.
    QueryDef(
      "q_cramers_v",
      Some("""
        WITH cells AS (
          SELECT lang AS x, source AS y,
                 CAST(count(*) AS BIGINT) AS o
          FROM documents GROUP BY 1, 2
        ), rx AS (SELECT x, sum(o) AS rxs FROM cells GROUP BY 1),
        cy AS (SELECT y, sum(o) AS cys FROM cells GROUP BY 1),
        tot AS (
          SELECT CAST(sum(o) AS BIGINT) AS n,
                 CAST(count(DISTINCT x) AS BIGINT) AS n_rows,
                 CAST(count(DISTINCT y) AS BIGINT) AS n_cols
          FROM cells
        ), grid AS (
          SELECT rx.rxs, cy.cys, coalesce(cells.o, 0) AS obs
          FROM rx CROSS JOIN cy
          LEFT JOIN cells ON cells.x = rx.x AND cells.y = cy.y
        ), chi AS (
          SELECT sum((CAST(obs AS DOUBLE)
              - CAST(rxs AS DOUBLE) * CAST(cys AS DOUBLE)
                / CAST(n AS DOUBLE))
            * (CAST(obs AS DOUBLE)
              - CAST(rxs AS DOUBLE) * CAST(cys AS DOUBLE)
                / CAST(n AS DOUBLE))
            / (CAST(rxs AS DOUBLE) * CAST(cys AS DOUBLE)
                / CAST(n AS DOUBLE))) AS chi2
          FROM grid, tot
        )
        SELECT n, n_rows, n_cols,
               CASE WHEN n_rows > 1 AND n_cols > 1 AND n > 0 THEN
                 round(chi2, 6) END AS chi2,
               CASE WHEN n_rows > 1 AND n_cols > 1 AND n > 0 THEN
                 round(sqrt(chi2 / (CAST(n AS DOUBLE)
                   * (CAST(least(n_rows, n_cols) AS DOUBLE) - 1.0))), 6)
                 END AS cramers_v,
               CASE WHEN n_rows > 1 AND n_cols > 1 AND n > 0 THEN
                 round(sqrt(chi2 / (CAST(n AS DOUBLE)
                   * sqrt((CAST(n_rows AS DOUBLE) - 1.0)
                     * (CAST(n_cols AS DOUBLE) - 1.0)))), 6)
                 END AS tschuprow_t
        FROM chi, tot
      """.trim),
      "X340 Cramér's V + Tschuprow's T of lang × source")(
      (spark, dir) => {
        import spark.implicits._
        CorpusOps.cramersV(table(spark, dir, "documents"),
          "lang", "source")
      }),

    // X341: two-sample Poisson rate gate — purchases per active day,
    // first half of the month vs the rest.
    QueryDef(
      "q_poisson_rate",
      Some("""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d,
                 CAST(sum(CASE WHEN event_type = 'purchase'
                   THEN 1 ELSE 0 END) AS BIGINT) AS k,
                 date_part('day', CAST(ts AS DATE)) <= 15 AS isa
          FROM events GROUP BY 1, 3
        ), w AS (
          SELECT CAST(sum(CASE WHEN isa THEN k ELSE 0 END) AS BIGINT)
                   AS k_a,
                 CAST(sum(CASE WHEN isa THEN 0 ELSE k END) AS BIGINT)
                   AS k_b,
                 CAST(sum(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT)
                   AS e_a,
                 CAST(sum(CASE WHEN isa THEN 0 ELSE 1 END) AS BIGINT)
                   AS e_b
          FROM daily
        ), d AS (
          SELECT k_a, k_b, e_a, e_b,
                 CAST(k_a AS DOUBLE) AS kad, CAST(k_b AS DOUBLE) AS kbd,
                 CAST(e_a AS DOUBLE) AS ead, CAST(e_b AS DOUBLE) AS ebd
          FROM w
        )
        SELECT k_a, k_b, e_a, e_b,
               CASE WHEN e_a > 0 THEN round(kad / ead, 6) END AS rate_a,
               CASE WHEN e_b > 0 THEN round(kbd / ebd, 6) END AS rate_b,
               CASE WHEN e_a > 0 AND e_b > 0 AND kbd / ebd > 0.0 THEN
                 round((kad / ead) / (kbd / ebd), 6) END AS rate_ratio,
               CASE WHEN e_a > 0 AND e_b > 0
                      AND kad / (ead * ead) + kbd / (ebd * ebd) > 0.0
                 THEN round((kad / ead - kbd / ebd)
                   / sqrt(kad / (ead * ead) + kbd / (ebd * ebd)), 6) END
                 AS z_wald,
               CASE WHEN e_a > 0 AND e_b > 0 AND kad + kbd > 0.0
                      AND ead / (ead + ebd) > 0.0
                      AND ead / (ead + ebd) < 1.0
                 THEN round((kad - (kad + kbd) * (ead / (ead + ebd)))
                   / sqrt((kad + kbd) * (ead / (ead + ebd))
                     * (1.0 - ead / (ead + ebd))), 6) END AS z_cond
        FROM d
      """.trim),
      "X341 Poisson rate gate: purchases/day, days 1-15 vs rest")(
      (spark, dir) => {
        import spark.implicits._
        val daily = events(spark, dir)
          .groupBy(to_date($"ts").as("d"),
            (dayofmonth(to_date($"ts")) <= 15).as("isa"))
          .agg(sum(when($"event_type" === "purchase", 1L)
            .otherwise(0L)).cast("long").as("k"))
          .withColumn("e", lit(1L))
        Hypothesis.poissonRateTest(daily, $"isa", "k", "e")
      }),

    // X342: CUPED — doc length adjusted by word count as the
    // covariate, en vs rest; the A/B variance-reduction staple.
    QueryDef(
      "q_cuped",
      Some("""
        WITH base AS (
          SELECT CAST(round(n_chars * 1000000.0) AS BIGINT) AS y,
                 CAST(round(len(string_split(text, ' ')) * 1000000.0)
                   AS BIGINT) AS x,
                 CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS a
          FROM documents
        ), w AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(a) AS BIGINT) AS n_a,
                 sum(CAST(x AS HUGEINT)) AS sx,
                 sum(CAST(y AS HUGEINT)) AS sy,
                 sum(CAST(x AS HUGEINT) * y) AS sxy,
                 sum(CAST(x AS HUGEINT) * x) AS sxx,
                 sum(CAST(y AS HUGEINT) * y) AS syy,
                 sum(CASE WHEN a = 1 THEN CAST(x AS HUGEINT)
                   ELSE CAST(0 AS HUGEINT) END) AS sxa,
                 sum(CASE WHEN a = 1 THEN CAST(y AS HUGEINT)
                   ELSE CAST(0 AS HUGEINT) END) AS sya
          FROM base
        ), d AS (
          SELECT n, n_a,
                 CAST(n AS DOUBLE) AS nd, CAST(n_a AS DOUBLE) AS nad,
                 CAST(n AS DOUBLE) - CAST(n_a AS DOUBLE) AS nbd,
                 CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
                 CAST(sxy AS DOUBLE) AS sxyd,
                 CAST(sxx AS DOUBLE) AS sxxd,
                 CAST(syy AS DOUBLE) AS syyd,
                 CAST(sxa AS DOUBLE) AS sxad,
                 CAST(sya AS DOUBLE) AS syad
          FROM w
        ), m AS (
          SELECT n, n_a, nad, nbd,
                 sxyd - sxd * syd / nd AS covxy,
                 sxxd - sxd * sxd / nd AS varx,
                 syyd - syd * syd / nd AS vary,
                 (syad / nad - (syd - syad) / nbd) / 1e6 AS diffraw,
                 (sxad / nad - (sxd - sxad) / nbd) / 1e6 AS diffx
          FROM d
        )
        SELECT n_a, CAST(n - n_a AS BIGINT) AS n_b,
               CASE WHEN varx > 0.0 THEN round(covxy / varx, 6) END
                 AS theta,
               CASE WHEN n_a > 0 AND n > n_a THEN round(diffraw, 6) END
                 AS diff_raw,
               CASE WHEN n_a > 0 AND n > n_a AND varx > 0.0 THEN
                 round(diffraw - (covxy / varx) * diffx, 6) END
                 AS diff_adj,
               CASE WHEN varx > 0.0 AND vary > 0.0 THEN
                 round(covxy * covxy / (varx * vary), 6) END
                 AS var_reduction
        FROM m
      """.trim),
      "X342 CUPED: en-vs-rest length gap, word count as covariate")(
      (spark, dir) => {
        import spark.implicits._
        val docs = table(spark, dir, "documents")
        Hypothesis.cuped(docs.withColumn("wc",
            size(split($"text", " ")).cast("long")),
          "n_chars", "wc", $"lang" === "en")
      }),

    // X343: MATTR — length-independent lexical diversity per doc.
    QueryDef(
      "q_mattr",
      Some("""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'),
                   x -> x <> '') AS w
          FROM documents
        ), m AS (
          SELECT doc_id, len(w) AS n, least(len(w), 50) AS win,
                 len(w) - least(len(w), 50) + 1 AS nwin, w
          FROM toks
        )
        SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
               CASE WHEN n > 0 THEN CAST(nwin AS BIGINT)
                 ELSE CAST(0 AS BIGINT) END AS n_windows,
               CASE WHEN n > 0 THEN
                 round(CAST(CAST(list_sum(list_transform(
                     generate_series(0, n - win),
                     i -> len(list_distinct(w[i + 1 : i + win]))))
                   AS BIGINT) AS DOUBLE)
                   / CAST(win * nwin AS DOUBLE), 6) END AS mattr
        FROM m ORDER BY doc_id
      """.trim),
      "X343 MATTR window-50 lexical diversity per document")(
      (spark, dir) => {
        import spark.implicits._
        CorpusOps.mattr(table(spark, dir, "documents"), "doc_id",
            "text", window = 50)
          .orderBy($"doc_id")
      }),

    // X344: Church-Gale term burstiness — clumped vs Poisson terms.
    QueryDef(
      "q_burstiness",
      Some("""
        WITH tf AS (
          SELECT doc_id, t AS term, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id,
                  unnest(list_filter(
                    string_split_regex(lower(text), '\s+'),
                    x -> x <> '')) AS t
                FROM documents)
          GROUP BY 1, 2
        ), nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        per AS (
          SELECT term, CAST(count(*) AS BIGINT) AS df,
                 CAST(sum(tf) AS BIGINT) AS tf_total,
                 sum(CAST(tf AS HUGEINT) * tf) AS tf2
          FROM tf GROUP BY 1 HAVING count(*) >= 2
        )
        SELECT term, df, tf_total,
               round(CAST(tf_total AS DOUBLE) / CAST(df AS DOUBLE), 6)
                 AS burstiness,
               CASE WHEN CAST(tf_total AS DOUBLE) / CAST(n AS DOUBLE)
                      > 0.0 THEN
                 round(((CAST(tf2 AS DOUBLE)
                     - CAST(tf_total AS DOUBLE)
                       * CAST(tf_total AS DOUBLE) / CAST(n AS DOUBLE))
                   / CAST(n AS DOUBLE))
                   / (CAST(tf_total AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                 END AS vmr
        FROM per, nd
        ORDER BY tf_total DESC, term LIMIT 50
      """.trim),
      "X344 term burstiness: top-50 terms by total tf")(
      (spark, dir) => {
        import spark.implicits._
        CorpusOps.termBurstiness(table(spark, dir, "documents"),
          "doc_id", "text", minDf = 2, topK = 50)
      }),

    // X345: partial correlation — chars vs distinct tokens with token
    // count held fixed (the confounder every length pair shares).
    QueryDef(
      "q_partial_corr",
      Some("""
        WITH base AS (
          SELECT CAST(round(n_chars * 1000000.0) AS BIGINT) AS x,
                 CAST(round(len(list_distinct(list_filter(
                     string_split_regex(lower(text), '\s+'),
                     t -> t <> ''))) * 1000000.0) AS BIGINT) AS y,
                 CAST(round(len(list_filter(
                     string_split_regex(lower(text), '\s+'),
                     t -> t <> '')) * 1000000.0) AS BIGINT) AS z
          FROM documents
        ), w AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(x AS HUGEINT)) AS sx,
                 sum(CAST(y AS HUGEINT)) AS sy,
                 sum(CAST(z AS HUGEINT)) AS sz,
                 sum(CAST(x AS HUGEINT) * x) AS sxx,
                 sum(CAST(y AS HUGEINT) * y) AS syy,
                 sum(CAST(z AS HUGEINT) * z) AS szz,
                 sum(CAST(x AS HUGEINT) * y) AS sxy,
                 sum(CAST(x AS HUGEINT) * z) AS sxz,
                 sum(CAST(y AS HUGEINT) * z) AS syz
          FROM base
        ), d AS (
          SELECT n, CAST(n AS DOUBLE) AS nd,
                 CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
                 CAST(sz AS DOUBLE) AS szd,
                 CAST(sxx AS DOUBLE) AS sxxd,
                 CAST(syy AS DOUBLE) AS syyd,
                 CAST(szz AS DOUBLE) AS szzd,
                 CAST(sxy AS DOUBLE) AS sxyd,
                 CAST(sxz AS DOUBLE) AS sxzd,
                 CAST(syz AS DOUBLE) AS syzd
          FROM w
        ), v AS (
          SELECT n,
                 sxxd - sxd * sxd / nd AS vx,
                 syyd - syd * syd / nd AS vy,
                 szzd - szd * szd / nd AS vz,
                 sxyd - sxd * syd / nd AS cxy,
                 sxzd - sxd * szd / nd AS cxz,
                 syzd - syd * szd / nd AS cyz
          FROM d
        ), r AS (
          SELECT n, vx > 0.0 AND vy > 0.0 AND vz > 0.0 AS okv,
                 cxy / sqrt(vx * vy) AS rxy,
                 cxz / sqrt(vx * vz) AS rxz,
                 cyz / sqrt(vy * vz) AS ryz
          FROM v
        )
        SELECT n,
               CASE WHEN okv THEN round(rxy, 6) END AS r_xy,
               CASE WHEN okv THEN round(rxz, 6) END AS r_xz,
               CASE WHEN okv THEN round(ryz, 6) END AS r_yz,
               CASE WHEN okv AND (1.0 - rxz * rxz)
                      * (1.0 - ryz * ryz) > 0.0 THEN
                 round((rxy - rxz * ryz)
                   / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 6)
                 END AS r_partial
        FROM r
      """.trim),
      "X345 partial correlation: chars~distinct tokens | token count")(
      (spark, dir) => {
        import spark.implicits._
        val toks = graft.operators.Dedup.tokens($"text")
        val base = table(spark, dir, "documents").select(
          $"n_chars".as("x"),
          size(array_distinct(toks)).cast("long").as("y"),
          size(toks).cast("long").as("z"))
        Hypothesis.partialCorrelation(base, "x", "y", "z")
      }),

    // X346: Lin's CCC — agreement between actual chars and the
    // 5-per-word predictor (Pearson forgives the scale shift; ρc
    // doesn't).
    QueryDef(
      "q_lins_ccc",
      Some("""
        WITH base AS (
          SELECT CAST(round(n_chars * 1000000.0) AS BIGINT) AS x,
                 CAST(round(5 * len(string_split(text, ' '))
                   * 1000000.0) AS BIGINT) AS y
          FROM documents
        ), w AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(x AS HUGEINT)) AS sx,
                 sum(CAST(y AS HUGEINT)) AS sy,
                 sum(CAST(x AS HUGEINT) * x) AS sxx,
                 sum(CAST(y AS HUGEINT) * y) AS syy,
                 sum(CAST(x AS HUGEINT) * y) AS sxy
          FROM base
        ), d AS (
          SELECT n, CAST(n AS DOUBLE) AS nd,
                 CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
                 CAST(sxx AS DOUBLE) AS sxxd,
                 CAST(syy AS DOUBLE) AS syyd,
                 CAST(sxy AS DOUBLE) AS sxyd
          FROM w
        ), m AS (
          SELECT n, sxd / nd AS mx, syd / nd AS my,
                 (sxxd - sxd * sxd / nd) / nd AS vx,
                 (syyd - syd * syd / nd) / nd AS vy,
                 (sxyd - sxd * syd / nd) / nd AS cxy
          FROM d
        )
        SELECT n, round(mx / 1e6, 6) AS mean_x,
               round(my / 1e6, 6) AS mean_y,
               CASE WHEN vx > 0.0 AND vy > 0.0 THEN
                 round(cxy / sqrt(vx * vy), 6) END AS pearson_r,
               CASE WHEN vx + vy > 0.0 OR (mx - my) / 1e6 <> 0.0 THEN
                 round(2.0 * cxy / (vx + vy + (mx - my) * (mx - my)),
                   6) END AS ccc,
               CASE WHEN vx > 0.0 AND vy > 0.0 AND cxy <> 0.0 THEN
                 round((2.0 * cxy / (vx + vy + (mx - my) * (mx - my)))
                   / (cxy / sqrt(vx * vy)), 6) END AS bias_correction
        FROM m
      """.trim),
      "X346 Lin's CCC: chars vs the 5-per-word predictor")(
      (spark, dir) => {
        import spark.implicits._
        val docs = table(spark, dir, "documents").withColumn("y5",
          (lit(5) * size(split($"text", " "))).cast("long"))
        Hypothesis.linsCcc(docs, "n_chars", "y5")
      }),

    // X347: odds ratio / relative risk panel — weekend exposure vs
    // purchase outcome, with Wald CIs.
    QueryDef(
      "q_odds_ratio",
      Some("""
        WITH w AS (
          SELECT CAST(sum(CASE WHEN dayofweek(CAST(ts AS DATE))
                   IN (0, 6) AND event_type = 'purchase'
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_exp_pos,
                 CAST(sum(CASE WHEN dayofweek(CAST(ts AS DATE))
                   IN (0, 6) AND event_type <> 'purchase'
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_exp_neg,
                 CAST(sum(CASE WHEN dayofweek(CAST(ts AS DATE))
                   NOT IN (0, 6) AND event_type = 'purchase'
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_unexp_pos,
                 CAST(sum(CASE WHEN dayofweek(CAST(ts AS DATE))
                   NOT IN (0, 6) AND event_type <> 'purchase'
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_unexp_neg
          FROM events
        ), d AS (
          SELECT n_exp_pos, n_exp_neg, n_unexp_pos, n_unexp_neg,
                 CAST(n_exp_pos AS DOUBLE) AS a,
                 CAST(n_exp_neg AS DOUBLE) AS b,
                 CAST(n_unexp_pos AS DOUBLE) AS c,
                 CAST(n_unexp_neg AS DOUBLE) AS dd,
                 n_exp_pos > 0 AND n_exp_neg > 0 AND n_unexp_pos > 0
                   AND n_unexp_neg > 0 AS okor
          FROM w
        )
        SELECT n_exp_pos, n_exp_neg, n_unexp_pos, n_unexp_neg,
               CASE WHEN okor THEN round(a * dd / (b * c), 6) END
                 AS odds_ratio,
               CASE WHEN okor THEN round(exp(ln(a * dd / (b * c))
                 - 1.959964 * sqrt(1.0 / a + 1.0 / b + 1.0 / c
                   + 1.0 / dd)), 6) END AS or_lo,
               CASE WHEN okor THEN round(exp(ln(a * dd / (b * c))
                 + 1.959964 * sqrt(1.0 / a + 1.0 / b + 1.0 / c
                   + 1.0 / dd)), 6) END AS or_hi,
               CASE WHEN n_exp_pos > 0 AND n_unexp_pos > 0 THEN
                 round((a / (a + b)) / (c / (c + dd)), 6) END
                 AS rel_risk,
               CASE WHEN okor THEN
                 round(exp(ln((a / (a + b)) / (c / (c + dd)))
                   - 1.959964 * sqrt(1.0 / a - 1.0 / (a + b)
                     + 1.0 / c - 1.0 / (c + dd))), 6) END AS rr_lo,
               CASE WHEN okor THEN
                 round(exp(ln((a / (a + b)) / (c / (c + dd)))
                   + 1.959964 * sqrt(1.0 / a - 1.0 / (a + b)
                     + 1.0 / c - 1.0 / (c + dd))), 6) END AS rr_hi
        FROM d
      """.trim),
      "X347 odds ratio + relative risk: weekend vs purchase")(
      (spark, dir) => {
        import spark.implicits._
        Hypothesis.oddsRatio(events(spark, dir),
          dayofweek($"ts").isin(1, 7), $"event_type" === "purchase")
      }),

    // X348: Quade test on q_friedman's per-user event-type counts —
    // range-weighted blocks, more power at small k.
    QueryDef(
      "q_quade",
      Some("""
        WITH cells AS (
          SELECT user_id AS b, event_type AS t,
                 CAST(round(count(*) * 1000000.0) AS BIGINT) AS q
          FROM events GROUP BY 1, 2
        ), ktot AS (SELECT count(DISTINCT t) AS k FROM cells),
        complete AS (
          SELECT b, t, q FROM (
            SELECT b, t, q, count(*) OVER (PARTITION BY b) AS bk
            FROM cells), ktot
          WHERE bk = k
        ), rho AS (
          SELECT b, t, q,
            2 * (rank() OVER (PARTITION BY b ORDER BY q) - 1)
              + count(*) OVER (PARTITION BY b, q) + 1 AS rho
          FROM complete
        ), ranges AS (
          SELECT b, max(q) - min(q) AS rng FROM rho GROUP BY 1
        ), perrng AS (
          SELECT rng, CAST(count(*) AS BIGINT) AS c
          FROM ranges GROUP BY 1
        ), rnk AS (
          SELECT rng, 2 * (sum(c) OVER (ORDER BY rng ROWS BETWEEN
              UNBOUNDED PRECEDING AND CURRENT ROW) - c) + c + 1 AS q2
          FROM perrng
        ), weighted AS (
          SELECT rho.t,
                 CAST(rnk.q2 AS HUGEINT) * (rho.rho - k - 1) AS s4
          FROM rho JOIN ranges USING (b) JOIN rnk USING (rng), ktot
        ), pert AS (
          SELECT t, count(*) AS nb, sum(s4) AS s4sum,
                 sum(s4 * s4) AS a16
          FROM weighted GROUP BY 1
        ), blocksall AS (
          SELECT CAST(count(DISTINCT b) AS BIGINT) AS ball FROM cells
        ), fold AS (
          SELECT CAST(count(*) AS BIGINT) AS k2,
                 CAST(max(nb) AS BIGINT) AS n_blocks,
                 sum(a16) AS aa, sum(s4sum * s4sum) AS bb
          FROM pert
        )
        SELECT n_blocks, k2 AS k, ball - n_blocks AS n_dropped_blocks,
               k2 - 1 AS df1, (n_blocks - 1) * (k2 - 1) AS df2,
               CASE WHEN k2 > 1 AND n_blocks > 1
                      AND CAST(n_blocks AS DOUBLE) * CAST(aa AS DOUBLE)
                        - CAST(bb AS DOUBLE) > 0.0 THEN
                 round((CAST(n_blocks AS DOUBLE) - 1.0)
                     * CAST(bb AS DOUBLE)
                   / (CAST(n_blocks AS DOUBLE) * CAST(aa AS DOUBLE)
                     - CAST(bb AS DOUBLE)), 6) END AS f_stat
        FROM fold, blocksall
      """.trim),
      "X348 Quade test of per-user event-type count ranks")(
      (spark, dir) => {
        import spark.implicits._
        val cells = events(spark, dir)
          .groupBy($"user_id", $"event_type")
          .agg(count(lit(1)).cast("long").as("cnt"))
        Hypothesis.quadeTest(cells, "user_id", "event_type", "cnt")
      }),

    // X349: Page's L — does per-user weekly activity TREND across the
    // month's ISO weeks (Friedman only says "differs somewhere").
    QueryDef(
      "q_page_trend",
      Some("""
        WITH cells AS (
          SELECT user_id AS b, CAST(week(ts) AS BIGINT) AS t,
                 CAST(round(count(*) * 1000000.0) AS BIGINT) AS q
          FROM events GROUP BY 1, 2
        ), ktot AS (SELECT count(DISTINCT t) AS k FROM cells),
        complete AS (
          SELECT b, t, q FROM (
            SELECT b, t, q, count(*) OVER (PARTITION BY b) AS bk
            FROM cells), ktot
          WHERE bk = k
        ), ord AS (
          SELECT t, CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS j
          FROM (SELECT DISTINCT t FROM cells)
        ), rho AS (
          SELECT b, t,
            2 * (rank() OVER (PARTITION BY b ORDER BY q) - 1)
              + count(*) OVER (PARTITION BY b, q) + 1 AS rho
          FROM complete
        ), fold AS (
          SELECT CAST(count(*) / k AS BIGINT) AS n_blocks,
                 CAST(k AS BIGINT) AS k,
                 sum(CAST(j AS HUGEINT) * rho) AS l2
          FROM rho JOIN ord USING (t), ktot GROUP BY ktot.k
        ), d AS (
          SELECT n_blocks, k, CAST(l2 AS DOUBLE) AS l2d,
                 CAST(n_blocks AS DOUBLE) AS nd,
                 CAST(k AS DOUBLE) AS kd
          FROM fold
        )
        SELECT n_blocks, k, round(l2d / 2.0, 6) AS l_stat,
               CASE WHEN n_blocks > 0 THEN
                 round((6.0 * l2d - 3.0 * nd * kd * (kd + 1.0)
                     * (kd + 1.0))
                   / (kd * (kd + 1.0) * sqrt(nd * (kd - 1.0))), 6) END
                 AS z_stat
        FROM d
      """.trim),
      "X349 Page trend test: per-user event counts across ISO weeks")(
      (spark, dir) => {
        import spark.implicits._
        val cells = events(spark, dir)
          .groupBy($"user_id", weekofyear($"ts").cast("long").as("wk"))
          .agg(count(lit(1)).cast("long").as("cnt"))
        Hypothesis.pageTrendTest(cells, "user_id", "wk", "cnt")
      }),

    // X350: Luhn-validated PII gate over deterministic card-like
    // numbers synthesized from order keys (~10% pass, like real digit
    // noise; every true card number would).
    QueryDef(
      "q_luhn_gate",
      Some("""
        WITH docs AS (
          SELECT o_orderkey,
                 'card ' || lpad(CAST(o_orderkey AS VARCHAR), 8, '0')
                   || lpad(CAST(o_custkey AS VARCHAR), 8, '0') AS text
          FROM orders
        ), scanned AS (
          SELECT o_orderkey,
                 regexp_extract_all(text, '[0-9]{13,19}') AS cands
          FROM docs
        )
        SELECT o_orderkey,
               CAST(len(cands) AS BIGINT) AS n_candidates,
               CAST(len(list_filter(cands, c ->
                 CAST(list_sum(list_transform(
                   generate_series(1, length(c)), i ->
                   CASE WHEN i % 2 = 0 THEN
                     CASE WHEN (ascii(substr(c, length(c) - i + 1, 1))
                         - 48) * 2 > 9
                       THEN (ascii(substr(c, length(c) - i + 1, 1))
                         - 48) * 2 - 9
                       ELSE (ascii(substr(c, length(c) - i + 1, 1))
                         - 48) * 2 END
                   ELSE ascii(substr(c, length(c) - i + 1, 1)) - 48
                   END)) AS INTEGER) % 10 = 0)) AS BIGINT)
                 AS n_luhn_valid
        FROM scanned ORDER BY o_orderkey
      """.trim),
      "X350 Luhn checksum gate over synthesized card-like numbers")(
      (spark, dir) => {
        import spark.implicits._
        val docs = table(spark, dir, "orders").select($"o_orderkey",
          concat(lit("card "),
            lpad($"o_orderkey".cast("string"), 8, "0"),
            lpad($"o_custkey".cast("string"), 8, "0")).as("text"))
        graft.operators.Privacy.luhnScan(docs, "o_orderkey", "text")
          .orderBy($"o_orderkey")
      }),

    // X351a: TPC-H Q4 shape — EXISTS semi-join feeding a grouped
    // count (the plan must compile to a LeftSemi, not a join+distinct).
    QueryDef(
      "q_order_priority_check",
      Some("""
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate < TIMESTAMP '1996-10-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_returnflag = 'R')
        GROUP BY 1 ORDER BY 1
      """.trim),
      "TPC-H Q4 shape: EXISTS order-priority counts")(
      (spark, dir) => {
        import spark.implicits._
        val o = table(spark, dir, "orders")
          .filter($"o_orderdate" >= "1996-07-01" &&
            $"o_orderdate" < "1996-10-01")
        val l = table(spark, dir, "lineitem")
          .filter($"l_returnflag" === "R").select($"l_orderkey")
        o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).cast("long").as("order_count"))
          .orderBy($"o_orderpriority")
      }),

    // X351b: TPC-H Q13 shape — conditional LEFT OUTER join feeding a
    // two-level distribution (customers keep their zero rows).
    QueryDef(
      "q_cust_order_distribution",
      Some("""
        SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        FROM (SELECT c.c_custkey,
                     CAST(count(o.o_orderkey) AS BIGINT) AS c_count
              FROM customer c LEFT JOIN orders o
                ON c.c_custkey = o.o_custkey
                  AND o.o_orderstatus <> 'F'
              GROUP BY 1)
        GROUP BY 1 ORDER BY custdist DESC, c_count DESC
      """.trim),
      "TPC-H Q13 shape: customer order-count distribution")(
      (spark, dir) => {
        import spark.implicits._
        val c = table(spark, dir, "customer").as("c")
        val o = table(spark, dir, "orders").as("o")
        c.join(o, $"c.c_custkey" === $"o.o_custkey" &&
            $"o.o_orderstatus" =!= "F", "left")
          .groupBy($"c.c_custkey")
          .agg(count($"o.o_orderkey").cast("long").as("c_count"))
          .groupBy($"c_count")
          .agg(count(lit(1)).cast("long").as("custdist"))
          .orderBy($"custdist".desc, $"c_count".desc)
      }),

    // X351c: TPC-H Q22 shape — scalar-subquery threshold + anti join
    // (rich customers with no orders at all).
    QueryDef(
      "q_dormant_rich_customers",
      Some("""
        WITH stats AS (
          SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(20,6)))
                   AS DECIMAL(38,6)) AS tot,
                 CAST(count(*) AS BIGINT) AS n
          FROM customer WHERE c_acctbal > 0.0
        )
        SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS numcust,
               round(CAST(sum(CAST(c_acctbal AS DECIMAL(20,6)))
                 AS DOUBLE), 2) AS totacctbal
        FROM customer, stats
        WHERE CAST(c_acctbal AS DECIMAL(20,6)) * n > tot
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '1999-01-01')
        GROUP BY 1 ORDER BY 1
      """.trim),
      "TPC-H Q22 shape: rich customers dormant since 1999")(
      (spark, dir) => {
        import spark.implicits._
        val cust = table(spark, dir, "customer")
        val stats = cust.filter($"c_acctbal" > 0.0).agg(
          sum($"c_acctbal".cast("decimal(20,6)"))
            .cast("decimal(38,6)").as("__tot"),
          count(lit(1)).cast("long").as("__n"))
        cust.crossJoin(broadcast(stats))
          .filter($"c_acctbal".cast("decimal(20,6)") * $"__n" >
            $"__tot")
          .join(table(spark, dir, "orders")
              .filter($"o_orderdate" >= "1999-01-01")
              .select($"o_custkey"),
            $"c_custkey" === $"o_custkey", "left_anti")
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).cast("long").as("numcust"),
            round(sum($"c_acctbal".cast("decimal(20,6)"))
              .cast("double"), 2).as("totacctbal"))
          .orderBy($"c_mktsegment")
      }),

    // X352: top-k churn — day-over-day Jaccard of the top-20 user
    // set; the member-rotation signal volume trends can't see.
    QueryDef(
      "q_topk_churn",
      Some("""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d, user_id AS key,
                 CAST(count(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2
        ), top AS (
          SELECT d, key FROM (
            SELECT d, key,
                   row_number() OVER (PARTITION BY d
                     ORDER BY n DESC, key) AS r
            FROM daily)
          WHERE r <= 20
        ), sizes AS (
          SELECT d, CAST(count(*) AS BIGINT) AS sz FROM top GROUP BY 1
        ), inter AS (
          SELECT t.d, CAST(count(*) AS BIGINT) AS boths
          FROM top t JOIN top p ON t.d = p.d + 1 AND t.key = p.key
          GROUP BY 1
        )
        SELECT s.d AS day, s.sz AS k_today, ps.sz AS k_prev,
               coalesce(i.boths, 0) AS n_shared,
               round(CAST(coalesce(i.boths, 0) AS DOUBLE)
                 / CAST(s.sz + ps.sz - coalesce(i.boths, 0)
                   AS DOUBLE), 6) AS jaccard
        FROM sizes s JOIN sizes ps ON s.d = ps.d + 1
        LEFT JOIN inter i ON i.d = s.d
        ORDER BY day
      """.trim),
      "X352 day-over-day Jaccard churn of the top-20 user set")(
      (spark, dir) => {
        import spark.implicits._
        graft.operators.Funnel.topkChurn(events(spark, dir), "ts",
          "user_id", k = 20)
      }),

    // X353: filter ablation matrix — pairwise kill overlap of four
    // quality gates, one scan-stage aggregate.
    QueryDef(
      "q_filter_ablation",
      Some("""
        WITH g AS (
          SELECT n_chars < 100 AS g1, n_chars > 450 AS g2,
                 lang <> 'en' AS g3,
                 len(list_filter(string_split_regex(lower(text),
                   '\s+'), x -> x <> '')) < 30 AS g4
          FROM documents
        ), w AS (
          SELECT CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS k11,
            CAST(sum(CASE WHEN g2 THEN 1 ELSE 0 END) AS BIGINT) AS k22,
            CAST(sum(CASE WHEN g3 THEN 1 ELSE 0 END) AS BIGINT) AS k33,
            CAST(sum(CASE WHEN g4 THEN 1 ELSE 0 END) AS BIGINT) AS k44,
            CAST(sum(CASE WHEN g1 AND g2 THEN 1 ELSE 0 END) AS BIGINT)
              AS k12,
            CAST(sum(CASE WHEN g1 AND g3 THEN 1 ELSE 0 END) AS BIGINT)
              AS k13,
            CAST(sum(CASE WHEN g1 AND g4 THEN 1 ELSE 0 END) AS BIGINT)
              AS k14,
            CAST(sum(CASE WHEN g2 AND g3 THEN 1 ELSE 0 END) AS BIGINT)
              AS k23,
            CAST(sum(CASE WHEN g2 AND g4 THEN 1 ELSE 0 END) AS BIGINT)
              AS k24,
            CAST(sum(CASE WHEN g3 AND g4 THEN 1 ELSE 0 END) AS BIGINT)
              AS k34
          FROM g
        ), pairs AS (
          SELECT n_docs, 'g1_short' AS gate_a, 'g2_long' AS gate_b,
                 k11 AS n_killed_a, k22 AS n_killed_b,
                 k12 AS n_killed_both FROM w
          UNION ALL SELECT n_docs, 'g1_short', 'g3_nonen', k11, k33,
            k13 FROM w
          UNION ALL SELECT n_docs, 'g1_short', 'g4_fewwords', k11,
            k44, k14 FROM w
          UNION ALL SELECT n_docs, 'g2_long', 'g3_nonen', k22, k33,
            k23 FROM w
          UNION ALL SELECT n_docs, 'g2_long', 'g4_fewwords', k22, k44,
            k24 FROM w
          UNION ALL SELECT n_docs, 'g3_nonen', 'g4_fewwords', k33,
            k44, k34 FROM w
        )
        SELECT n_docs, gate_a, gate_b, n_killed_a, n_killed_b,
               n_killed_both,
               CASE WHEN n_killed_a + n_killed_b - n_killed_both > 0
                 THEN round(CAST(n_killed_both AS DOUBLE)
                   / CAST(n_killed_a + n_killed_b - n_killed_both
                     AS DOUBLE), 6) END AS kill_jaccard
        FROM pairs ORDER BY gate_a, gate_b
      """.trim),
      "X353 quality-gate kill-overlap matrix over documents")(
      (spark, dir) => {
        import spark.implicits._
        val toks = graft.operators.Dedup.tokens($"text")
        CorpusOps.filterAblation(table(spark, dir, "documents"), Seq(
          "g1_short" -> ($"n_chars" < 100),
          "g2_long" -> ($"n_chars" > 450),
          "g3_nonen" -> ($"lang" =!= "en"),
          "g4_fewwords" -> (size(toks) < 30)))
      }),

    // X354: boilerplate prefix templates — top first-3-token
    // prefixes with corpus share.
    QueryDef(
      "q_prefix_templates",
      Some("""
        WITH p AS (
          SELECT array_to_string(list_filter(string_split_regex(
            lower(text), '\s+'), x -> x <> '')[1:3], ' ') AS prefix
          FROM documents
        ), nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
        SELECT prefix, CAST(count(*) AS BIGINT) AS n_docs,
               round(CAST(count(*) AS DOUBLE) / CAST(n AS DOUBLE), 6)
                 AS doc_share
        FROM p, nd WHERE prefix <> ''
        GROUP BY prefix, n
        ORDER BY n_docs DESC, prefix LIMIT 20
      """.trim),
      "X354 top-20 first-3-token boilerplate prefixes")(
      (spark, dir) => {
        import spark.implicits._
        CorpusOps.prefixTemplates(table(spark, dir, "documents"),
          "text", k = 3, topN = 20)
      }),

    // X355: NFC normalization audit — every third doc gets a
    // deterministically appended decomposed accent, so the rate is a
    // real per-source aggregate, not a constant zero.
    QueryDef(
      "q_nfc_audit",
      Some("""
        WITH d AS (
          SELECT source,
                 CASE WHEN doc_id % 3 = 0
                   THEN text || 'e' || chr(769) ELSE text END AS text
          FROM documents
        )
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN text <> nfc_normalize(text)
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_non_nfc,
               round(CAST(sum(CASE WHEN text <> nfc_normalize(text)
                   THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 6) AS non_nfc_rate
        FROM d GROUP BY source ORDER BY source
      """.trim),
      "X355 per-source NFC normalization audit")(
      (spark, dir) => {
        import spark.implicits._
        val docs = table(spark, dir, "documents").withColumn("text",
          when($"doc_id" % 3 === 0, concat($"text", lit("e\u0301")))
            .otherwise($"text"))
        CorpusOps.nfcAudit(docs, "source", "text")
      }),

    // X356: source style cosine — char-trigram signature similarity
    // between sources on the global top-100 trigram basis.
    QueryDef(
      "q_source_style",
      Some("""
        WITH grams AS (
          SELECT source AS src, g,
                 CAST(count(*) AS BIGINT) AS c
          FROM (SELECT source,
                  unnest(list_transform(generate_series(1,
                    greatest(length(text) - 2, 0)),
                    i -> substr(text, i, 3))) AS g
                FROM documents)
          GROUP BY 1, 2
        ), basis AS (
          SELECT g FROM (
            SELECT g, sum(c) AS tot FROM grams GROUP BY 1)
          ORDER BY tot DESC, g LIMIT 100
        ), vecs AS (SELECT src, grams.g, c FROM grams JOIN basis USING (g)),
        norms AS (
          SELECT src, sum(CAST(c AS HUGEINT) * c) AS nn
          FROM vecs GROUP BY 1
        ), dots AS (
          SELECT a.src AS source_a, b.src AS source_b,
                 sum(CAST(a.c AS HUGEINT) * b.c) AS dot
          FROM vecs a JOIN vecs b ON a.g = b.g AND a.src < b.src
          GROUP BY 1, 2
        )
        SELECT source_a, source_b,
               round(CAST(dot AS DOUBLE)
                 / (sqrt(CAST(na.nn AS DOUBLE))
                   * sqrt(CAST(nb.nn AS DOUBLE))), 6) AS style_cosine
        FROM dots
        JOIN norms na ON na.src = source_a
        JOIN norms nb ON nb.src = source_b
        ORDER BY source_a, source_b
      """.trim),
      "X356 pairwise source style cosine on char-trigram signatures")(
      (spark, dir) => {
        import spark.implicits._
        CorpusOps.sourceStyleCosine(table(spark, dir, "documents"),
          "source", "text", m = 100)
      }),

    // X357: clipping gate — n clipped samples + longest clipped run
    // per clip, over the deterministic synth stream (i%50<3 injects
    // 3-sample full-scale runs; the real AudioQa kernel counts them).
    QueryDef(
      "q_audio_clipping",
      Some("""
        WITH s AS (
          SELECT doc_id, greatest(n_chars, 1) AS n FROM documents
        ), e AS (
          SELECT doc_id, n, unnest(range(n)) AS i FROM s
        ), v AS (
          SELECT doc_id, n, i,
                 CASE WHEN i % 50 < 3 THEN 32767
                   ELSE ((i * 31 + 7) % 201 - 100) * 300 END AS v
          FROM e
        ), clipped AS (
          SELECT doc_id, n, i,
                 i - row_number() OVER (PARTITION BY doc_id
                   ORDER BY i) AS grp
          FROM v WHERE abs(v) >= 32767
        ), runs AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS run_len
          FROM clipped GROUP BY doc_id, grp
        ), agg AS (
          SELECT doc_id, CAST(sum(run_len) AS BIGINT) AS n_clipped,
                 CAST(max(run_len) AS BIGINT) AS max_clip_run
          FROM runs GROUP BY doc_id
        )
        SELECT s.doc_id, CAST(s.n AS BIGINT) AS n_samples,
               coalesce(a.n_clipped, 0) AS n_clipped,
               coalesce(a.max_clip_run, 0) AS max_clip_run,
               round(CAST(coalesce(a.n_clipped, 0) AS DOUBLE)
                 / CAST(s.n AS DOUBLE), 6) AS clip_ratio
        FROM s LEFT JOIN agg a ON a.doc_id = s.doc_id
        ORDER BY s.doc_id
      """.trim),
      "X357 clipping gate: count + longest full-scale run per clip")(
      (spark, dir) => {
        import spark.implicits._
        val kernel = udf { nChars: Long =>
          val n = math.max(nChars, 1L).toInt
          val s = Array.tabulate(n)(i =>
            if (i % 50 < 3) 32767 else ((i * 31 + 7) % 201 - 100) * 300)
          val (c, r) = graft.audio.AudioQa.clipping(
            graft.audio.Pcm.fromSamples(s, 16000))
          (n.toLong, c, r)
        }
        table(spark, dir, "documents")
          .select($"doc_id", kernel(greatest($"n_chars", lit(1L)))
            .as("r"))
          .select($"doc_id", $"r._1".as("n_samples"),
            $"r._2".as("n_clipped"), $"r._3".as("max_clip_run"))
          .withColumn("clip_ratio", round($"n_clipped".cast("double") /
            $"n_samples".cast("double"), 6))
          .orderBy($"doc_id")
      }),

    // X378: ZCR + energy speechiness gate — the voiced/unvoiced/
    // noise discriminator pair beside X357-X359: the fixture
    // alternates 40-sample "tone" segments (slow ramp — few
    // crossings, high energy) with 40-sample "hiss" segments (fast
    // small oscillation — many crossings, low energy), and the
    // kernel's exact integer (crossings, Σv²) replays as a lag
    // window + sum in SQL.
    QueryDef(
      "q_audio_zcr",
      Some("""
        WITH s AS (
          SELECT doc_id, greatest(n_chars, 1) AS n FROM documents
        ), e AS (
          SELECT doc_id, n, unnest(range(n)) AS i FROM s
        ), v AS (
          SELECT doc_id, n, i,
                 CASE WHEN (i // 40) % 2 = 0
                   THEN ((i % 20) - 10) * 2500
                   ELSE (((i * 31 + 7) % 7) - 3) * 150 END AS v
          FROM e
        ), l AS (
          SELECT doc_id, n, i, v,
                 lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
          FROM v
        ), a AS (
          SELECT doc_id, CAST(max(n) AS BIGINT) AS n_samples,
                 CAST(sum(CASE WHEN pv IS NOT NULL
                   AND ((v < 0) <> (pv < 0)) THEN 1 ELSE 0 END)
                   AS BIGINT) AS zcr,
                 CAST(sum(v * v) AS BIGINT) AS energy
          FROM l GROUP BY doc_id
        )
        SELECT doc_id, n_samples, zcr, energy,
               CASE WHEN n_samples > 1 THEN
                 round(CAST(zcr AS DOUBLE)
                   / CAST(n_samples - 1 AS DOUBLE), 6) END AS zcr_rate
        FROM a ORDER BY doc_id
      """.trim),
      "X378 zero-crossing + energy gate per clip")(
      (spark, dir) => {
        import spark.implicits._
        val kernel = udf { nChars: Long =>
          val n = math.max(nChars, 1L).toInt
          val s = Array.tabulate(n)(i =>
            if ((i / 40) % 2 == 0) ((i % 20) - 10) * 2500
            else (((i * 31 + 7) % 7) - 3) * 150)
          val (z, sq) = graft.audio.AudioQa.zcrEnergy(
            graft.audio.Pcm.fromSamples(s, 16000))
          (n.toLong, z, sq)
        }
        table(spark, dir, "documents")
          .select($"doc_id", kernel(greatest($"n_chars", lit(1L)))
            .as("r"))
          .select($"doc_id", $"r._1".as("n_samples"),
            $"r._2".as("zcr"), $"r._3".as("energy"))
          .withColumn("zcr_rate",
            when($"n_samples" > 1L, round($"zcr".cast("double") /
              ($"n_samples" - 1L).cast("double"), 6)))
          .orderBy($"doc_id")
      }),

    // X358: loudness panel — peak/RMS dBFS + DC offset from exact
    // kernel moments, dB math in Column space so the oracle replays it.
    QueryDef(
      "q_audio_loudness",
      Some("""
        WITH s AS (
          SELECT doc_id, greatest(n_chars, 1) AS n FROM documents
        ), e AS (
          SELECT doc_id, n, unnest(range(n)) AS i FROM s
        ), v AS (
          SELECT doc_id, n,
                 CASE WHEN i % 50 < 3 THEN 32767
                   ELSE ((i * 31 + 7) % 201 - 100) * 300 END AS v
          FROM e
        ), m AS (
          SELECT doc_id, CAST(max(n) AS BIGINT) AS n_samples,
                 CAST(max(abs(v)) AS BIGINT) AS peak,
                 CAST(sum(v) AS BIGINT) AS sumv,
                 CAST(sum(CAST(v AS HUGEINT) * v) AS BIGINT) AS sumsq
          FROM v GROUP BY doc_id
        )
        SELECT doc_id, n_samples,
               CASE WHEN peak > 0 THEN
                 round(20.0 * log10(CAST(peak AS DOUBLE) / 32768.0), 6)
                 END AS peak_dbfs,
               CASE WHEN sumsq > 0 THEN
                 round(20.0 * log10(sqrt(CAST(sumsq AS DOUBLE)
                   / CAST(n_samples AS DOUBLE)) / 32768.0), 6)
                 END AS rms_dbfs,
               round(CAST(sumv AS DOUBLE)
                 / CAST(n_samples AS DOUBLE), 6) AS dc_offset
        FROM m ORDER BY doc_id
      """.trim),
      "X358 loudness panel: peak/RMS dBFS + DC offset per clip")(
      (spark, dir) => {
        import spark.implicits._
        val kernel = udf { nChars: Long =>
          val n = math.max(nChars, 1L).toInt
          val s = Array.tabulate(n)(i =>
            if (i % 50 < 3) 32767 else ((i * 31 + 7) % 201 - 100) * 300)
          graft.audio.AudioQa.moments(
            graft.audio.Pcm.fromSamples(s, 16000))
        }
        table(spark, dir, "documents")
          .select($"doc_id", kernel(greatest($"n_chars", lit(1L)))
            .as("r"))
          .select($"doc_id", $"r._1".as("n_samples"),
            $"r._2".as("__peak"), $"r._3".as("__sum"),
            $"r._4".as("__sumsq"))
          .select($"doc_id", $"n_samples",
            when($"__peak" > 0L, round(lit(20.0) *
              log10($"__peak".cast("double") / 32768.0), 6))
              .as("peak_dbfs"),
            when($"__sumsq" > 0L, round(lit(20.0) *
              log10(sqrt($"__sumsq".cast("double") /
                $"n_samples".cast("double")) / 32768.0), 6))
              .as("rms_dbfs"),
            round($"__sum".cast("double") /
              $"n_samples".cast("double"), 6).as("dc_offset"))
          .orderBy($"doc_id")
      }),

    // X359: threshold SNR — loud-vs-quiet energy ratio in dB, the
    // zero-model speech-over-noise proxy gate.
    QueryDef(
      "q_audio_snr",
      Some("""
        WITH s AS (
          SELECT doc_id, greatest(n_chars, 1) AS n FROM documents
        ), e AS (
          SELECT doc_id, unnest(range(n)) AS i FROM s
        ), v AS (
          SELECT doc_id,
                 CASE WHEN i % 50 < 3 THEN 32767
                   ELSE ((i * 31 + 7) % 201 - 100) * 300 END AS v
          FROM e
        ), m AS (
          SELECT doc_id,
                 CAST(sum(CASE WHEN abs(v) > 15000 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_loud,
                 CAST(sum(CASE WHEN abs(v) > 15000
                   THEN CAST(v AS HUGEINT) * v ELSE
                   CAST(0 AS HUGEINT) END) AS BIGINT) AS sq_loud,
                 CAST(sum(CASE WHEN abs(v) <= 15000 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_quiet,
                 CAST(sum(CASE WHEN abs(v) <= 15000
                   THEN CAST(v AS HUGEINT) * v ELSE
                   CAST(0 AS HUGEINT) END) AS BIGINT) AS sq_quiet
          FROM v GROUP BY doc_id
        )
        SELECT doc_id, n_loud, n_quiet,
               CASE WHEN n_loud > 0 AND n_quiet > 0 AND sq_quiet > 0
                 THEN round(10.0 * log10(
                   (CAST(sq_loud AS DOUBLE) / CAST(n_loud AS DOUBLE))
                   / (CAST(sq_quiet AS DOUBLE)
                     / CAST(n_quiet AS DOUBLE))), 6) END AS snr_db
        FROM m ORDER BY doc_id
      """.trim),
      "X359 threshold SNR: loud-vs-quiet energy ratio per clip")(
      (spark, dir) => {
        import spark.implicits._
        val kernel = udf { nChars: Long =>
          val n = math.max(nChars, 1L).toInt
          val s = Array.tabulate(n)(i =>
            if (i % 50 < 3) 32767 else ((i * 31 + 7) % 201 - 100) * 300)
          graft.audio.AudioQa.energySplit(
            graft.audio.Pcm.fromSamples(s, 16000), 15000)
        }
        table(spark, dir, "documents")
          .select($"doc_id", kernel(greatest($"n_chars", lit(1L)))
            .as("r"))
          .select($"doc_id", $"r._1".as("n_loud"),
            $"r._2".as("__sqLoud"), $"r._3".as("n_quiet"),
            $"r._4".as("__sqQuiet"))
          .select($"doc_id", $"n_loud", $"n_quiet",
            when($"n_loud" > 0L && $"n_quiet" > 0L && $"__sqQuiet" > 0L,
              round(lit(10.0) * log10(
                ($"__sqLoud".cast("double") / $"n_loud".cast("double"))
                  / ($"__sqQuiet".cast("double") /
                    $"n_quiet".cast("double"))), 6)).as("snr_db"))
          .orderBy($"doc_id")
      }),

    // X361: GPT-2 byte-level codec — round-trip law + shifted-byte
    // pressure per doc (the byte-fallback layer under X73/X121).
    QueryDef(
      "q_byte_codec",
      Some("""
        SELECT doc_id,
               CAST(strlen(text) AS BIGINT) AS n_bytes,
               CAST(length(text)
                 - length(regexp_replace(text, '[^!-~]', '', 'g'))
                 AS BIGINT) AS n_shifted,
               true AS roundtrip_ok
        FROM documents ORDER BY doc_id
      """.trim),
      "X361 GPT-2 byte codec: byte length, shifted bytes, round-trip")(
      (spark, dir) => {
        import spark.implicits._
        // ASCII corpus: every byte is a char, so the oracle's
        // shifted-byte count is "chars outside the printable keep
        // range" — which for ASCII is exactly the codec's shift set.
        // roundtrip_ok is COMPUTED through the real encode∘decode; the
        // oracle asserting literal true makes the law hash-checked.
        val k = udf { text: String =>
          val enc = graft.functions.ByteCodec.encode(text)
          (text.getBytes("UTF-8").length.toLong,
            graft.functions.ByteCodec.shiftedBytes(text),
            graft.functions.ByteCodec.decode(enc) == text)
        }
        table(spark, dir, "documents")
          .select($"doc_id", k($"text").as("r"))
          .select($"doc_id", $"r._1".as("n_bytes"),
            $"r._2".as("n_shifted"), $"r._3".as("roundtrip_ok"))
          .orderBy($"doc_id")
      }),

    // X362: token-level F1 on q_wer's deterministic corruption —
    // the order-free eval between WER and BLEU.
    QueryDef(
      "q_token_f1",
      Some("""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '') AS w
          FROM documents
        ), hyp AS (
          SELECT doc_id,
                 list_filter(list_transform(
                   generate_series(1, len(w)),
                   i -> CASE WHEN i % 7 = 0 THEN NULL
                        WHEN i % 11 = 0 THEN 'zzz' ELSE w[i] END),
                   x -> x IS NOT NULL) AS p,
                 w AS r
          FROM toks
        ), counts AS (
          SELECT doc_id, CAST(len(p) AS BIGINT) AS n_pred,
                 CAST(len(r) AS BIGINT) AS n_ref,
                 CAST(coalesce(list_sum(list_transform(
                   list_distinct(p), t -> least(
                     len(list_filter(p, x -> x = t)),
                     len(list_filter(r, x -> x = t))))), 0)
                   AS BIGINT) AS n_common
          FROM hyp
        )
        SELECT doc_id, n_pred, n_ref, n_common,
               CASE WHEN n_pred > 0 THEN
                 round(CAST(n_common AS DOUBLE)
                   / CAST(n_pred AS DOUBLE), 6) END AS precision,
               CASE WHEN n_ref > 0 THEN
                 round(CAST(n_common AS DOUBLE)
                   / CAST(n_ref AS DOUBLE), 6) END AS recall,
               CASE WHEN n_pred > 0 AND n_ref > 0 AND n_common > 0
                 THEN round(2.0 * (CAST(n_common AS DOUBLE)
                     / CAST(n_pred AS DOUBLE))
                   * (CAST(n_common AS DOUBLE) / CAST(n_ref AS DOUBLE))
                   / ((CAST(n_common AS DOUBLE)
                     / CAST(n_pred AS DOUBLE))
                     + (CAST(n_common AS DOUBLE)
                       / CAST(n_ref AS DOUBLE))), 6)
                 WHEN n_pred > 0 AND n_ref > 0 THEN 0.0 END AS f1
        FROM counts ORDER BY doc_id
      """.trim),
      "X362 token-level F1 vs the drop-7th/sub-11th corruption")(
      (spark, dir) => {
        import spark.implicits._
        val docs = table(spark, dir, "documents")
        val toks = docs.select($"doc_id",
          graft.operators.Dedup.tokens($"text").as("w"))
        val pairs = toks.select($"doc_id",
          array_join(filter(transform(
            sequence(lit(1), size($"w")),
            i => when(i % 7 === 0, lit(null))
              .when(i % 11 === 0, lit("zzz"))
              .otherwise(element_at($"w", i))),
            x => x.isNotNull), " ").as("pred"),
          array_join($"w", " ").as("ref"))
        graft.operators.RankEval.tokenF1(pairs, "doc_id",
            "pred", "ref")
          .orderBy($"doc_id")
      }),

    // X363: HITS hubs & authorities on the directed customer→supplier
    // purchase graph — integer fixed-point, unrolled oracle (the
    // pagerankSql convention).
    QueryDef(
      "q_hits",
      Some(hitsSql(3)),
      "X363 HITS: 3 iterations on the customer->supplier graph")(
      (spark, dir) => {
        import spark.implicits._
        val e = table(spark, dir, "orders").as("o")
          .join(table(spark, dir, "lineitem").as("l"),
            $"o.o_orderkey" === $"l.l_orderkey")
          .select(concat(lit("c"), $"o.o_custkey").as("src"),
            concat(lit("s"), $"l.l_suppkey").as("dst"))
        graft.operators.PageRank.hits(e, "src", "dst", iters = 3)
          .orderBy($"node")
      }),

    // X364: IPW / SNIPS — off-policy length effect of the en
    // "policy" under a deterministic banded propensity.
    QueryDef(
      "q_ipw",
      Some("""
        WITH b AS (
          SELECT lang = 'en' AS t,
                 CAST(n_chars AS DOUBLE) AS y,
                 CAST(4 + 3 * (doc_id % 4) AS DOUBLE) / 20.0 AS e
          FROM documents
        ), w AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_treated,
                 CAST(sum(CAST(round((CASE WHEN t THEN y / e
                   ELSE 0.0 END) * 1e9) AS BIGINT)) AS BIGINT) AS ty,
                 CAST(sum(CAST(round((CASE WHEN t THEN 0.0
                   ELSE y / (1.0 - e) END) * 1e9) AS BIGINT))
                   AS BIGINT) AS cy,
                 CAST(sum(CAST(round((CASE WHEN t THEN 1.0 / e
                   ELSE 0.0 END) * 1e9) AS BIGINT)) AS BIGINT) AS tw,
                 CAST(sum(CAST(round((CASE WHEN t THEN 0.0
                   ELSE 1.0 / (1.0 - e) END) * 1e9) AS BIGINT))
                   AS BIGINT) AS cw
          FROM b
        )
        SELECT n, n_treated,
               CASE WHEN n_treated > 0 AND n > n_treated THEN
                 round((CAST(ty AS DOUBLE) - CAST(cy AS DOUBLE))
                   / (CAST(n AS DOUBLE) * 1e9), 6) END AS ate_ipw,
               CASE WHEN n_treated > 0 AND n > n_treated
                      AND tw > 0 AND cw > 0 THEN
                 round(CAST(ty AS DOUBLE) / CAST(tw AS DOUBLE)
                   - CAST(cy AS DOUBLE) / CAST(cw AS DOUBLE), 6) END
                 AS ate_snips
        FROM w
      """.trim),
      "X364 IPW + SNIPS effect of 'en' on doc length, banded e")(
      (spark, dir) => {
        import spark.implicits._
        // e derived from INTEGER arithmetic then one division, so
        // Spark and the oracle compute the identical double (the
        // 0.2 + 0.15*k form differs by one ulp at k=1 — enough to
        // flip the nano quantization of y/e on unlucky y)
        val docs = table(spark, dir, "documents")
          .withColumn("e",
            (lit(4) + lit(3) * ($"doc_id" % 4)).cast("double") / 20.0)
        Hypothesis.ipwEstimate(docs, $"lang" === "en", "n_chars", "e")
      }),

    // X365: regression discontinuity — token count across the
    // 250-char threshold, bandwidth 150.
    QueryDef(
      "q_rd_jump",
      Some("""
        WITH b AS (
          SELECT CAST(round((n_chars - 250.0) * 1000000.0) AS BIGINT)
                   AS x,
                 CAST(round(len(list_filter(string_split_regex(
                   lower(text), '\s+'), t -> t <> ''))
                   * 1000000.0) AS BIGINT) AS y,
                 n_chars >= 250.0 AS r
          FROM documents WHERE abs(n_chars - 250.0) <= 150.0
        ), l AS (
          SELECT CAST(count(*) AS BIGINT) AS n_left,
                 sum(CAST(x AS HUGEINT)) AS sx,
                 sum(CAST(y AS HUGEINT)) AS sy,
                 sum(CAST(x AS HUGEINT) * y) AS sxy,
                 sum(CAST(x AS HUGEINT) * x) AS sxx
          FROM b WHERE NOT r
        ), rr AS (
          SELECT CAST(count(*) AS BIGINT) AS n_right,
                 sum(CAST(x AS HUGEINT)) AS sx,
                 sum(CAST(y AS HUGEINT)) AS sy,
                 sum(CAST(x AS HUGEINT) * y) AS sxy,
                 sum(CAST(x AS HUGEINT) * x) AS sxx
          FROM b WHERE r
        ), f AS (
          SELECT n_left, n_right,
            (CAST(l.sxy AS DOUBLE) - CAST(l.sx AS DOUBLE)
              * CAST(l.sy AS DOUBLE) / CAST(n_left AS DOUBLE))
              / (CAST(l.sxx AS DOUBLE) - CAST(l.sx AS DOUBLE)
                * CAST(l.sx AS DOUBLE) / CAST(n_left AS DOUBLE))
              AS bl,
            (CAST(rr.sxy AS DOUBLE) - CAST(rr.sx AS DOUBLE)
              * CAST(rr.sy AS DOUBLE) / CAST(n_right AS DOUBLE))
              / (CAST(rr.sxx AS DOUBLE) - CAST(rr.sx AS DOUBLE)
                * CAST(rr.sx AS DOUBLE) / CAST(n_right AS DOUBLE))
              AS br,
            CAST(l.sx AS DOUBLE) AS lsx, CAST(l.sy AS DOUBLE) AS lsy,
            CAST(rr.sx AS DOUBLE) AS rsx, CAST(rr.sy AS DOUBLE) AS rsy,
            CAST(l.sxx AS DOUBLE) - CAST(l.sx AS DOUBLE)
              * CAST(l.sx AS DOUBLE) / CAST(n_left AS DOUBLE) AS vl,
            CAST(rr.sxx AS DOUBLE) - CAST(rr.sx AS DOUBLE)
              * CAST(rr.sx AS DOUBLE) / CAST(n_right AS DOUBLE) AS vr
          FROM l, rr
        ), g AS (
          SELECT n_left, n_right, bl, br, vl, vr,
                 (lsy - bl * lsx) / CAST(n_left AS DOUBLE) / 1e6 AS al,
                 (rsy - br * rsx) / CAST(n_right AS DOUBLE) / 1e6 AS ar
          FROM f
        )
        SELECT n_left, n_right,
               CASE WHEN n_left > 1 AND vl > 0.0 THEN round(al, 6) END
                 AS left_at_cutoff,
               CASE WHEN n_right > 1 AND vr > 0.0 THEN round(ar, 6)
                 END AS right_at_cutoff,
               CASE WHEN n_left > 1 AND vl > 0.0 THEN round(bl, 6) END
                 AS slope_left,
               CASE WHEN n_right > 1 AND vr > 0.0 THEN round(br, 6)
                 END AS slope_right,
               CASE WHEN n_left > 1 AND vl > 0.0 AND n_right > 1
                 AND vr > 0.0 THEN round(ar - al, 6) END AS rd_jump
        FROM g
      """.trim),
      "X365 RD jump of token count at the 250-char threshold")(
      (spark, dir) => {
        import spark.implicits._
        val docs = table(spark, dir, "documents").withColumn("wc",
          size(graft.operators.Dedup.tokens($"text")).cast("long"))
        Hypothesis.regressionDiscontinuity(docs, "n_chars", "wc",
          cutoff = 250.0, bandwidth = 150.0)
      }),

    // X366: Simpson's-paradox check — chars~tokens association,
    // pooled vs within-source.
    QueryDef(
      "q_simpson",
      Some("""
        WITH b AS (
          SELECT source AS s,
                 CAST(round(n_chars * 1000000.0) AS BIGINT) AS x,
                 CAST(round(len(list_filter(string_split_regex(
                   lower(text), '\s+'), t -> t <> ''))
                   * 1000000.0) AS BIGINT) AS y
          FROM documents
        ), per AS (
          SELECT CASE WHEN CAST(count(*) AS HUGEINT)
                   * sum(CAST(x AS HUGEINT) * y)
                   - sum(CAST(x AS HUGEINT)) * sum(CAST(y AS HUGEINT))
                   > 0 THEN 1
                 WHEN CAST(count(*) AS HUGEINT)
                   * sum(CAST(x AS HUGEINT) * y)
                   - sum(CAST(x AS HUGEINT)) * sum(CAST(y AS HUGEINT))
                   < 0 THEN -1 ELSE 0 END AS sig
          FROM b GROUP BY s
        ), strata AS (
          SELECT CAST(count(*) AS BIGINT) AS n_strata,
                 CAST(sum(CASE WHEN sig = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_positive,
                 CAST(sum(CASE WHEN sig = -1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_negative
          FROM per
        ), overall AS (
          SELECT CAST(CASE WHEN CAST(count(*) AS HUGEINT)
                   * sum(CAST(x AS HUGEINT) * y)
                   - sum(CAST(x AS HUGEINT)) * sum(CAST(y AS HUGEINT))
                   > 0 THEN 1
                 WHEN CAST(count(*) AS HUGEINT)
                   * sum(CAST(x AS HUGEINT) * y)
                   - sum(CAST(x AS HUGEINT)) * sum(CAST(y AS HUGEINT))
                   < 0 THEN -1 ELSE 0 END AS BIGINT) AS overall_sign
          FROM b
        )
        SELECT n_strata, n_positive, n_negative, overall_sign,
               CAST(CASE WHEN overall_sign = 1 THEN n_negative
                 WHEN overall_sign = -1 THEN n_positive
                 ELSE 0 END AS BIGINT) AS n_reversed,
               (overall_sign = 1 AND n_negative > n_positive)
                 OR (overall_sign = -1 AND n_positive > n_negative)
                 AS simpson_flag
        FROM strata, overall
      """.trim),
      "X366 Simpson check: chars~tokens pooled vs within-source")(
      (spark, dir) => {
        import spark.implicits._
        val docs = table(spark, dir, "documents").withColumn("wc",
          size(graft.operators.Dedup.tokens($"text")).cast("long"))
        Hypothesis.simpsonCheck(docs, "source", "n_chars", "wc")
      }),

    // X367: one-sample KS of doc length vs Uniform[0, 500] — the
    // calibration/uniformity gate beside the two-sample q_ks_test.
    QueryDef(
      "q_ks_uniform",
      Some("""
        WITH per AS (
          SELECT CAST(round(n_chars * 1000000.0) AS BIGINT) AS v,
                 CAST(count(*) AS BIGINT) AS c
          FROM documents GROUP BY 1
        ), cum AS (
          SELECT v, c, sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
            PRECEDING AND CURRENT ROW) AS cc
          FROM per
        ), tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM per)
        SELECT n,
               CASE WHEN n > 0 THEN round(max(greatest(
                 abs(CAST(cc AS DOUBLE) / CAST(n AS DOUBLE)
                   - least(1.0, greatest(0.0,
                     (CAST(v AS DOUBLE) / 1e6 - 0.0) / 500.0))),
                 abs(CAST(cc - c AS DOUBLE) / CAST(n AS DOUBLE)
                   - least(1.0, greatest(0.0,
                     (CAST(v AS DOUBLE) / 1e6 - 0.0) / 500.0))))), 6)
               END AS ks_d
        FROM cum, tot GROUP BY n
      """.trim),
      "X367 one-sample KS: doc length vs Uniform[0,500]")(
      (spark, dir) => {
        import spark.implicits._
        Hypothesis.ksUniformTest(table(spark, dir, "documents"),
          "n_chars", lo = 0.0, hi = 500.0)
      }),

    // X368: pair-cosine histogram — the corpus semantic-diversity
    // fingerprint over the deterministic half-shift pairing.
    QueryDef(
      "q_pair_cosine_hist",
      Some("""
        WITH ranked AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS r,
                 list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0)
                     AS BIGINT)) AS q
          FROM embeddings
        ), tot AS (
          SELECT CAST(count(*) / 2 AS BIGINT) AS half FROM ranked
        ), pairs AS (
          SELECT a.q AS qa, b.q AS qb
          FROM ranked a, ranked b, tot
          WHERE a.r < half AND b.r = a.r + half
        ), norms AS (
          SELECT qa, qb,
                 list_sum(list_transform(qa, x -> x * x)) AS na,
                 list_sum(list_transform(qb, x -> x * x)) AS nb
          FROM pairs
        ), scored AS (
          SELECT CAST(list_sum(list_transform(
                   generate_series(1, len(qa)),
                   i -> qa[i] * qb[i])) AS DOUBLE)
                 / (sqrt(CAST(na AS DOUBLE))
                   * sqrt(CAST(nb AS DOUBLE))) AS cosv
          FROM norms WHERE na > 0 AND nb > 0
        ), binned AS (
          SELECT CAST(least(19, floor((cosv + 1.0) / 2.0 * 20))
            AS BIGINT) AS bin
          FROM scored
        )
        SELECT bin, round(-1.0 + bin * (2.0 / 20), 6) AS cos_lo,
               round(-1.0 + (bin + 1) * (2.0 / 20), 6) AS cos_hi,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM binned GROUP BY bin ORDER BY bin
      """.trim),
      "X368 pair-cosine histogram over the half-shift pairing")(
      (spark, dir) => {
        import spark.implicits._
        graft.operators.Similarity.pairCosineHistogram(
          table(spark, dir, "embeddings"), "vec_id", "embedding",
          bins = 20)
      }),

    // X374: Mantel-Haenszel pooled OR + Woolf homogeneity — the
    // confounder-adjusted effect the X366 Simpson detector calls
    // for (strata = source, exposure = en, outcome = long doc).
    QueryDef(
      "q_mantel_haenszel",
      Some("""
        WITH cells AS (
          SELECT source,
            CAST(sum(CASE WHEN lang = 'en' AND n_chars >= 250
              THEN 1 ELSE 0 END) AS BIGINT) AS a,
            CAST(sum(CASE WHEN lang = 'en' AND n_chars < 250
              THEN 1 ELSE 0 END) AS BIGINT) AS b,
            CAST(sum(CASE WHEN lang <> 'en' AND n_chars >= 250
              THEN 1 ELSE 0 END) AS BIGINT) AS c,
            CAST(sum(CASE WHEN lang <> 'en' AND n_chars < 250
              THEN 1 ELSE 0 END) AS BIGINT) AS d
          FROM documents GROUP BY source
        ), t AS (
          SELECT a, b, c, d,
            CAST(a + b + c + d AS DOUBLE) AS n,
            ln(((a + 0.5) * (d + 0.5)) / ((b + 0.5) * (c + 0.5)))
              AS lnor,
            1.0 / (1.0 / (a + 0.5) + 1.0 / (b + 0.5)
              + 1.0 / (c + 0.5) + 1.0 / (d + 0.5)) AS w
          FROM cells
        ), terms AS (
          SELECT lnor, w,
            CAST(round(CAST(a AS DOUBLE) * d / n * 1e9) AS BIGINT)
              AS adn,
            CAST(round(CAST(b AS DOUBLE) * c / n * 1e9) AS BIGINT)
              AS bcn,
            CAST(round(w * 1e6) AS BIGINT) AS wq,
            CAST(round(w * lnor * 1e6) AS BIGINT) AS wl
          FROM t
        ), pooled AS (
          SELECT CAST(count(*) AS BIGINT) AS n_strata,
                 CAST(sum(adn) AS BIGINT) AS sad,
                 CAST(sum(bcn) AS BIGINT) AS sbc,
                 CAST(sum(wq) AS BIGINT) AS sw,
                 CAST(sum(wl) AS BIGINT) AS swl
          FROM terms
        ), qsum AS (
          SELECT n_strata, sad, sbc,
            CAST(sum(CAST(round(t.w
              * (t.lnor - CAST(swl AS DOUBLE) / CAST(sw AS DOUBLE))
              * (t.lnor - CAST(swl AS DOUBLE) / CAST(sw AS DOUBLE))
              * 1e6) AS BIGINT)) AS BIGINT) AS sq
          FROM terms t, pooled
          GROUP BY 1, 2, 3
        )
        SELECT n_strata,
               CASE WHEN sbc > 0 THEN
                 round(CAST(sad AS DOUBLE) / CAST(sbc AS DOUBLE), 6)
               END AS or_mh,
               round(CAST(sq AS DOUBLE) / 1e6, 6) AS woolf_q,
               n_strata - 1 AS woolf_df
        FROM qsum
      """.trim),
      "X374 Mantel-Haenszel pooled OR across sources + Woolf Q")(
      (spark, dir) => {
        import spark.implicits._
        Hypothesis.mantelHaenszel(table(spark, dir, "documents"),
          "source", $"lang" === "en", $"n_chars" >= 250)
      }),

    // X375: KPSS level-stationarity on the daily event counts — the
    // null-reversed complement of q_dickey_fuller.
    QueryDef(
      "q_kpss",
      Some("""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS v
          FROM events GROUP BY 1
        ), tot AS (
          SELECT CAST(count(*) AS HUGEINT) AS n,
                 sum(CAST(v AS HUGEINT)) AS tt
          FROM daily
        ), e AS (
          SELECT d, n * v - tt AS ev FROM daily, tot
        ), s AS (
          SELECT d, ev,
                 sum(ev) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS sv,
                 lag(ev, 1) OVER (ORDER BY d) AS l1,
                 lag(ev, 2) OVER (ORDER BY d) AS l2,
                 lag(ev, 3) OVER (ORDER BY d) AS l3,
                 lag(ev, 4) OVER (ORDER BY d) AS l4
          FROM e
        ), agg AS (
          SELECT sum(sv * sv) AS eta, sum(ev * ev) AS g0,
                 sum(ev * l1) AS g1, sum(ev * l2) AS g2,
                 sum(ev * l3) AS g3, sum(ev * l4) AS g4
          FROM s
        )
        SELECT CAST(n AS BIGINT) AS n, CAST(4 AS BIGINT) AS lags,
               CASE WHEN 5 * g0 + 2 * (4 * g1 + 3 * g2 + 2 * g3 + g4)
                      > 0 THEN
                 round(5.0 * CAST(eta AS DOUBLE)
                   / (CAST(n AS DOUBLE)
                     * CAST(5 * g0 + 2 * (4 * g1 + 3 * g2 + 2 * g3
                       + g4) AS DOUBLE)), 6)
               END AS kpss_stat
        FROM agg, tot
      """.trim),
      "X375 KPSS level-stationarity of daily event counts, 4 lags")(
      (spark, dir) => {
        import spark.implicits._
        val daily = events(spark, dir)
          .groupBy(to_date($"ts").as("d"))
          .agg(count(lit(1)).cast("long").as("v"))
        TimeSeries.kpssTest(daily, "d", "v", lags = 4)
      }),

    // X376: expected calibration error — length-as-confidence
    // (min(n_chars,500)/500, an exact micro integer) predicting
    // lang = en, 10 fixed bins.
    QueryDef(
      "q_ece",
      Some("""
        WITH b AS (
          SELECT least(CAST(n_chars AS BIGINT), 500) * 2000 AS c,
                 lang = 'en' AS y
          FROM documents
        ), pb AS (
          SELECT least(9, (c * 10) // 1000000) AS bin,
                 CAST(count(*) AS BIGINT) AS nb,
                 CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
                   AS ob,
                 CAST(sum(c) AS BIGINT) AS cs
          FROM b GROUP BY 1
        ), g AS (
          SELECT nb, abs(ob * 1000000 - cs) AS gn,
                 CAST(abs(ob * 1000000 - cs) AS DOUBLE)
                   / (CAST(nb AS DOUBLE) * 1e6) AS gap
          FROM pb
        )
        SELECT CAST(sum(nb) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_bins_used,
               CASE WHEN sum(nb) > 0 THEN
                 round(CAST(sum(gn) AS DOUBLE)
                   / (CAST(sum(nb) AS DOUBLE) * 1e6), 6) END AS ece,
               round(max(gap), 6) AS mce
        FROM g
      """.trim),
      "X376 ECE/MCE: doc length as confidence for lang=en, 10 bins")(
      (spark, dir) => {
        import spark.implicits._
        graft.operators.RankEval.expectedCalibrationError(
          table(spark, dir, "documents"),
          least($"n_chars".cast("long"), lit(500L)) * 2000L,
          $"lang" === "en", bins = 10)
      }),

    // X385: Brier + Murphy decomposition on the same
    // length-as-confidence contract as q_ece — REL (what ECE sees)
    // vs RES (discrimination) vs UNC (inherent entropy).
    QueryDef(
      "q_brier",
      Some("""
        WITH b AS (
          SELECT least(CAST(n_chars AS BIGINT), 500) * 2000 AS c,
                 CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
          FROM documents
        ), pb AS (
          SELECT least(9, (c * 10) // 1000000) AS bin,
                 CAST(count(*) AS BIGINT) AS nb,
                 CAST(sum(y) AS BIGINT) AS ob,
                 CAST(sum(c) AS BIGINT) AS cs,
                 CAST(sum((c - y * 1000000) * (c - y * 1000000))
                   AS BIGINT) AS sqs
          FROM b GROUP BY 1
        ), tot AS (
          SELECT CAST(sum(nb) AS BIGINT) AS nn,
                 CAST(sum(ob) AS BIGINT) AS oo,
                 CAST(sum(sqs) AS BIGINT) AS bn
          FROM pb
        ), terms AS (
          SELECT
            CAST(round(CAST(nb AS DOUBLE)
              * (CAST(cs AS DOUBLE) / (CAST(nb AS DOUBLE) * 1e6)
                 - CAST(ob AS DOUBLE) / CAST(nb AS DOUBLE))
              * (CAST(cs AS DOUBLE) / (CAST(nb AS DOUBLE) * 1e6)
                 - CAST(ob AS DOUBLE) / CAST(nb AS DOUBLE))
              * 1e12) AS BIGINT) AS rel,
            CAST(round(CAST(nb AS DOUBLE)
              * (CAST(ob AS DOUBLE) / CAST(nb AS DOUBLE)
                 - CAST(oo AS DOUBLE) / CAST(nn AS DOUBLE))
              * (CAST(ob AS DOUBLE) / CAST(nb AS DOUBLE)
                 - CAST(oo AS DOUBLE) / CAST(nn AS DOUBLE))
              * 1e12) AS BIGINT) AS res
          FROM pb, tot
        )
        SELECT t.nn AS n,
               (SELECT CAST(count(*) AS BIGINT) FROM pb)
                 AS n_bins_used,
               round(CAST(t.bn AS DOUBLE)
                 / (CAST(t.nn AS DOUBLE) * 1e12), 6) AS brier,
               round(CAST((SELECT sum(rel) FROM terms) AS DOUBLE)
                 / (CAST(t.nn AS DOUBLE) * 1e12), 6) AS reliability,
               round(CAST((SELECT sum(res) FROM terms) AS DOUBLE)
                 / (CAST(t.nn AS DOUBLE) * 1e12), 6) AS resolution,
               round(CAST(t.oo AS DOUBLE) / CAST(t.nn AS DOUBLE)
                 * (1.0 - CAST(t.oo AS DOUBLE)
                   / CAST(t.nn AS DOUBLE)), 6) AS uncertainty
        FROM tot t
      """.trim),
      "X385 Brier + Murphy decomposition, length-conf for lang=en")(
      (spark, dir) => {
        import spark.implicits._
        graft.operators.RankEval.brierDecomposition(
          table(spark, dir, "documents"),
          least($"n_chars".cast("long"), lit(500L)) * 2000L,
          $"lang" === "en", bins = 10)
      }),

    // X377: link-prediction panel (common neighbors / Jaccard /
    // preferential attachment) on the X230 co-purchase graph —
    // aligned candidate set, top-200 by common neighbors.
    QueryDef(
      "q_link_panel",
      Some("""
        WITH e AS (
          SELECT DISTINCT least(x.l_partkey, y.l_partkey) AS a,
                 greatest(x.l_partkey, y.l_partkey) AS b
          FROM lineitem x JOIN lineitem y
            ON x.l_orderkey = y.l_orderkey
            AND x.l_partkey < y.l_partkey
          WHERE x.l_linenumber <= 3 AND y.l_linenumber <= 3
        ), adj AS (
          SELECT a AS w, b AS u FROM e UNION ALL SELECT b, a FROM e
        ), deg AS (
          SELECT w, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1
        ), mids AS (
          SELECT w FROM deg WHERE d >= 2 AND d <= 50
        ), wadj AS (
          SELECT adj.w, adj.u FROM adj JOIN mids USING (w)
        ), pairs AS (
          SELECT x.u AS node_a, y.u AS node_b,
                 CAST(count(*) AS BIGINT) AS common_neighbors
          FROM wadj x JOIN wadj y ON x.w = y.w AND x.u < y.u
          GROUP BY 1, 2 HAVING count(*) >= 2
        ), scored AS (
          SELECT node_a, node_b, common_neighbors,
                 da.d AS deg_a, db.d AS deg_b
          FROM pairs
          JOIN deg da ON da.w = node_a
          JOIN deg db ON db.w = node_b
        )
        SELECT node_a, node_b, common_neighbors, deg_a, deg_b,
               round(CAST(common_neighbors AS DOUBLE)
                 / CAST(deg_a + deg_b - common_neighbors AS DOUBLE),
                 6) AS jaccard,
               CAST(deg_a * deg_b AS BIGINT) AS pref_attachment,
               (e.a IS NOT NULL) AS is_edge
        FROM scored LEFT JOIN e ON e.a = node_a AND e.b = node_b
        ORDER BY common_neighbors DESC, node_a, node_b
        LIMIT 200
      """.trim),
      "X377 link-prediction panel: CN/Jaccard/PA top-200, co-purchase")(
      (spark, dir) => {
        import spark.implicits._
        val li = table(spark, dir, "lineitem")
          .filter($"l_linenumber" <= 3)
          .select($"l_orderkey", $"l_partkey")
        val e = li.as("x").join(li.as("y"),
            col("x.l_orderkey") === col("y.l_orderkey") &&
              col("x.l_partkey") < col("y.l_partkey"))
          .select(col("x.l_partkey").as("s1"),
            col("y.l_partkey").as("s2"))
        GraphStats.linkScores(e, "s1", "s2",
            maxDegree = 50L, minCommon = 2L)
          .orderBy($"common_neighbors".desc, $"node_a", $"node_b")
          .limit(200)
      }),

    // X384: multi-category PII panel — emails/phones/IPv4/SSN-shaped
    // per doc, over text deterministically decorated from doc_id
    // (the corpus itself is PII-free — the decoration is the fixture,
    // the scan machinery is the contract; the q_token_f1 convention).
    QueryDef(
      "q_pii_scan",
      Some("""
        WITH d AS (
          SELECT doc_id, text
            || CASE WHEN doc_id % 7 = 0 THEN ' contact user'
                 || CAST(doc_id AS VARCHAR) || '@example.com'
               ELSE '' END
            || CASE WHEN doc_id % 11 = 0 THEN ' call 555-867-5309'
               ELSE '' END
            || CASE WHEN doc_id % 13 = 0 THEN ' host 10.0.0.'
                 || CAST(doc_id % 256 AS VARCHAR)
               ELSE '' END
            || CASE WHEN doc_id % 17 = 0 THEN ' ssn 123-45-6789'
               ELSE '' END AS text
          FROM documents
        ), c AS (
          SELECT doc_id,
            CAST(len(regexp_extract_all(text,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
              AS BIGINT) AS n_emails,
            CAST(len(regexp_extract_all(text,
              '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
            CAST(len(regexp_extract_all(text,
              '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ipv4,
            CAST(len(regexp_extract_all(text,
              '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS BIGINT) AS n_ssn
          FROM d
        )
        SELECT doc_id, n_emails, n_phones, n_ipv4, n_ssn,
               n_emails + n_phones + n_ipv4 + n_ssn AS n_pii,
               n_emails + n_phones + n_ipv4 + n_ssn > 0 AS has_pii
        FROM c ORDER BY doc_id
      """.trim),
      "X384 multi-category PII scan over decorated docs")(
      (spark, dir) => {
        import spark.implicits._
        val deco = concat($"text",
          when($"doc_id" % 7 === 0, concat(lit(" contact user"),
            $"doc_id".cast("string"), lit("@example.com")))
            .otherwise(lit("")),
          when($"doc_id" % 11 === 0, lit(" call 555-867-5309"))
            .otherwise(lit("")),
          when($"doc_id" % 13 === 0, concat(lit(" host 10.0.0."),
            ($"doc_id" % 256).cast("string"))).otherwise(lit("")),
          when($"doc_id" % 17 === 0, lit(" ssn 123-45-6789"))
            .otherwise(lit("")))
        graft.operators.Privacy.piiScan(
            table(spark, dir, "documents")
              .select($"doc_id", deco.as("text")),
            "doc_id", "text")
          .orderBy($"doc_id")
      })
  )

  /** Unrolled MMR oracle (X257): pool = top-`poolSize` by the
    * nano-quantized e0-probe relevance; each round's redundancy is
    * the max nano cosine to the picked set and the λ-mix is the
    * identical fixed-shape double the operator computes. MATERIALIZED
    * (the coresetSql lesson: inlined CTEs re-expand the round chain
    * exponentially).
    */
  private def mmrSql(k: Int, poolSize: Int, lambda: Double): String = {
    def cosq(pv: String, pn2: String, sv: String, sn2: String) =
      s"""CAST(round(1e9 * CAST(list_sum(list_transform(
           generate_series(1, len($pv)), t -> $pv[t] * $sv[t]))
           AS DOUBLE) / (sqrt(CAST($pn2 AS DOUBLE))
           * sqrt(CAST($sn2 AS DOUBLE)))) AS BIGINT)"""
    val head = s"""
      WITH q AS (
        SELECT vec_id AS id, list_transform(embedding,
          x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
          AS v
        FROM embeddings
      ), pool AS MATERIALIZED (
        SELECT id, v, n2,
               CAST(round(1e9 * CAST(v[1] * 1000000 AS DOUBLE)
                 / (sqrt(CAST(n2 AS DOUBLE))
                   * sqrt(CAST(1000000000000 AS DOUBLE))))
                 AS BIGINT) AS relq
        FROM (SELECT id, v,
                CAST(list_sum(list_transform(v, x -> x * x))
                  AS BIGINT) AS n2
              FROM q)
        WHERE n2 > 0
        ORDER BY relq DESC, id LIMIT $poolSize
      ), pick1 AS MATERIALIZED (
        SELECT id, relq, CAST(0 AS BIGINT) AS red,
               $lambda * CAST(relq AS DOUBLE)
                 - (1 - $lambda) * CAST(0 AS DOUBLE) AS score
        FROM pool ORDER BY score DESC, id LIMIT 1
      )"""
    val steps = (2 to k).map { r =>
      val pickedUnion = (1 until r).map(i => s"SELECT id FROM pick$i")
        .mkString(" UNION ALL ")
      s""", red$r AS MATERIALIZED (
        SELECT p.id, p.relq,
               max(${cosq("p.v", "p.n2", "s.v", "s.n2")}) AS red
        FROM pool p,
             (SELECT pp.* FROM pool pp
              WHERE pp.id IN ($pickedUnion)) s
        WHERE p.id NOT IN ($pickedUnion)
        GROUP BY p.id, p.relq
      ), pick$r AS MATERIALIZED (
        SELECT id, relq, red,
               $lambda * CAST(relq AS DOUBLE)
                 - (1 - $lambda) * CAST(red AS DOUBLE) AS score
        FROM red$r ORDER BY score DESC, id LIMIT 1
      )"""
    }.mkString
    val rows = (1 to k).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS selection_rank, id AS vec_id,
             round(CAST(relq AS DOUBLE) / 1e9, 6) AS relevance,
             round(score / 1e9, 6) AS mmr_score
      FROM pick$r"""
    }.mkString("\n      UNION ALL\n      ")
    (head + steps + s"""
      SELECT * FROM (
      $rows
      ) ORDER BY selection_rank""").trim
  }

  /** Unrolled Weiszfeld oracle (X272): cN CTE chain over the exact
    * integer center state — each round recomputes the integer
    * squared distances against the previous center list, derives the
    * weight `round(10¹⁵/√D)` (10¹⁸ cap at D = 0), folds HUGEINT
    * weighted sums per dim, and re-rounds the center with the same
    * sign-aware half-away division `(2a ± b) // (2b)` the engine
    * uses (DuckDB `//` and BigInt `/` both truncate toward zero).
    */
  private def geoMedianSql(iters: Int): String = {
    val head = """
      WITH q AS (
        SELECT vec_id, list_transform(embedding,
          x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
          AS v
        FROM embeddings
      ), dims AS (
        SELECT unnest(generate_series(1,
          (SELECT min(len(v)) FROM q))) AS i
      ), n AS (SELECT CAST(count(*) AS HUGEINT) AS np FROM q
      ), c0 AS (
        SELECT list(cq ORDER BY i) AS c FROM (
          SELECT i, CAST((2 * s + CASE WHEN s < 0 THEN -np ELSE np
            END) // (2 * np) AS BIGINT) AS cq
          FROM (SELECT i, CAST(sum(v[i]) AS HUGEINT) AS s
                FROM q, dims GROUP BY i), n
        )
      )"""
    val steps = (1 to iters).map { k =>
      s""", w$k AS (
        SELECT q.vec_id, q.v,
               list_sum(list_transform(generate_series(1, len(q.v)),
                 t -> (q.v[t] - cc.c[t]) * (q.v[t] - cc.c[t]))) AS d2
        FROM q, c${k - 1} cc
      ), x$k AS (
        SELECT v, CASE WHEN d2 = 0
            THEN CAST(1000000000000000000 AS HUGEINT)
            ELSE CAST(round(1e15 / sqrt(CAST(d2 AS DOUBLE)))
              AS HUGEINT) END AS w
        FROM w$k
      ), c$k AS (
        SELECT list(cq ORDER BY i) AS c FROM (
          SELECT i, CAST((2 * swx + CASE WHEN swx < 0 THEN -sw
            ELSE sw END) // (2 * sw) AS BIGINT) AS cq
          FROM (
            SELECT i, CAST(sum(w * v[i]) AS HUGEINT) AS swx,
                   CAST(sum(w) AS HUGEINT) AS sw
            FROM x$k, dims GROUP BY i
          )
        )
      )"""
    }.mkString
    val tail = s"""
      SELECT CAST(i - 1 AS BIGINT) AS dim,
             round(CAST(c[i] AS DOUBLE) / 1e6, 6) AS median_component,
             (SELECT CAST(np AS BIGINT) FROM n) AS n_points,
             CAST($iters AS BIGINT) AS iters
      FROM c$iters, dims
      ORDER BY dim"""
    (head + steps + tail).trim
  }

  /** Unrolled HITS oracle (X363): aN/hN CTE chain with in-query L1
    * renormalization — DuckDB recursive CTEs disallow the aggregate
    * in the recursive term, so the fixed iteration count is spelled
    * out (the [[CurationQueries]] pagerankSql convention).
    */
  private def hitsSql(iters: Int): String = {
    val head = s"""
      WITH e AS (
        SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      ), nodes AS (
        SELECT src AS node FROM e UNION SELECT dst FROM e
      ), h0 AS (
        SELECT node, CAST(1000000000 AS BIGINT) AS hub FROM nodes
      )"""
    val steps = (1 to iters).map { i =>
      s""", a${i}r AS (
        SELECT n.node, coalesce(s.a, 0) AS auth
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS node, sum(h.hub) AS a
          FROM e JOIN h${i - 1} h ON h.node = e.src GROUP BY 1) s
          USING (node)
      ), a$i AS (
        SELECT node, CAST((CAST(auth AS HUGEINT) * 1000000000)
          // (SELECT sum(auth) FROM a${i}r) AS BIGINT) AS auth
        FROM a${i}r
      ), h${i}r AS (
        SELECT n.node, coalesce(s.h, 0) AS hub
        FROM nodes n LEFT JOIN (
          SELECT e.src AS node, sum(a.auth) AS h
          FROM e JOIN a$i a ON a.node = e.dst GROUP BY 1) s
          USING (node)
      ), h$i AS (
        SELECT node, CAST((CAST(hub AS HUGEINT) * 1000000000)
          // (SELECT sum(hub) FROM h${i}r) AS BIGINT) AS hub
        FROM h${i}r
      )"""
    }.mkString
    val tail = s"""
      SELECT h$iters.node AS node, h$iters.hub,
             a$iters.auth AS authority
      FROM h$iters JOIN a$iters ON h$iters.node = a$iters.node
      ORDER BY h$iters.node"""
    (head + steps + tail).trim
  }
}
