package graft.queries

import org.apache.spark.sql.functions._

import graft.Materialize
import graft.operators.{Hypothesis, RankEval, TimeSeries}
import graft.queries.QueryDef.{events, table}

/** Wave 53 — the exact-inference completions of the classical shelf:
  * small-cell exact tests (Fisher), scale/extremes rank tests
  * (Siegel-Tukey, Moses), the tail-weighted two-sample gate
  * (Anderson-Darling), the remaining FWER step procedure (Hochberg +
  * Šidák), doubly-robust causal estimation (AIPW) with its
  * sensitivity readout (E-value), the calibration-shelf MCC, and the
  * integer-state Holt linear trend. Every query carries a full
  * DuckDB hash oracle (exact integer / quantized-fold constructions).
  */
object InferenceQueries {

  /** Pico quantization in DuckDB SQL — the [[TimeSeries.pacf]] grid. */
  private def q12(e: String): String =
    s"CAST(CAST(round(($e) * 1e12) AS BIGINT) AS DOUBLE) / 1e12"

  /** X403 oracle: the q_acf moment CTEs, pico-quantized r_k scalars,
    * then the Durbin-Levinson chain unrolled one CTE per level with
    * every φ re-quantized — the identical fixed shapes the Spark
    * side folds.
    */
  private def pacfSql(maxLag: Int): String = {
    val lagCols = (1 to maxLag).map(k =>
      s"lag(v, $k) OVER (ORDER BY d) AS l$k").mkString(",\n                 ")
    val moments = (1 to maxLag).map(k => s"""
                 sum(CAST(v AS HUGEINT) * l$k) AS p$k,
                 sum(CASE WHEN l$k IS NOT NULL
                   THEN CAST(v AS HUGEINT) END) AS a$k,
                 sum(CAST(l$k AS HUGEINT)) AS b$k""").mkString(",")
    val den = "CAST(CAST(n AS HUGEINT) * n * q - CAST(n AS HUGEINT)" +
      " * s * s AS DOUBLE)"
    val rks = (1 to maxLag).map { k =>
      val num = s"CAST(CAST(n AS HUGEINT) * n * p$k - " +
        s"CAST(n AS HUGEINT) * s * (a$k + b$k) + " +
        s"(CAST(n AS HUGEINT) - $k) * s * s AS DOUBLE)"
      q12(s"$num / (CASE WHEN $den > 0 THEN $den END)") + s" AS r$k"
    }.mkString(",\n                 ")
    val head = s"""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS v
          FROM events GROUP BY 1
        ), lagged AS (
          SELECT v,
                 $lagCols
          FROM daily
        ), agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(v AS HUGEINT)) AS s,
                 sum(CAST(v AS HUGEINT) * v) AS q,$moments
          FROM lagged
        ), rk AS (
          SELECT n,
                 $rks
          FROM agg
        ), lvl1 AS (SELECT *, r1 AS f1_1 FROM rk)"""
    val steps = (2 to maxLag).map { k =>
      val num = (1 until k).foldLeft(s"r$k") { (acc, j) =>
        s"$acc - f${k - 1}_$j * r${k - j}"
      }
      val dd = (1 until k).foldLeft("1.0") { (acc, j) =>
        s"$acc - f${k - 1}_$j * r$j"
      }
      val diag = s""", diag$k AS (
          SELECT *, ${q12(s"($num) / (CASE WHEN ($dd) <> 0 " +
            s"THEN ($dd) END)")} AS f${k}_$k FROM lvl${k - 1})"""
      val offs = (1 until k).map(j =>
        q12(s"f${k - 1}_$j - f${k}_$k * f${k - 1}_${k - j}") +
          s" AS f${k}_$j").mkString(", ")
      diag + s""", lvl$k AS (
          SELECT *, $offs FROM diag$k)"""
    }.mkString
    val rows = (1 to maxLag).map(k =>
      s"SELECT CAST($k AS BIGINT) AS lag, n, round(r$k, 6) AS acf, " +
        s"round(f${k}_$k, 6) AS pacf FROM lvl$maxLag")
      .mkString("\n          UNION ALL ")
    (head + steps + s"""
        SELECT lag, n, acf, pacf FROM (
          $rows
        ) ORDER BY lag""").trim
  }

  /** X404 oracle: one Granger direction's CTE block (suffix `$s`,
    * target `$y`, candidate driver `$x`) — integer moments, Cramer
    * determinants, fixed-shape residual doubles micro-quantized
    * before the RSS fold.
    */
  private def grangerDirSql(s: String, y: String, x: String): String = {
    val ru = s"(CAST(r.y AS DOUBLE) - c.b0 - c.b1 * r.yl - c.b2 * r.xl)"
    val rr = s"(CAST(r.y AS DOUBLE) - c.c0 - c.c1 * r.yl)"
    s""", r_$s AS (
          SELECT $y AS y,
                 lag($y, 1) OVER (ORDER BY d) AS yl,
                 lag($x, 1) OVER (ORDER BY d) AS xl
          FROM daily
        ), rr_$s AS (
          SELECT y, yl, xl FROM r_$s
          WHERE yl IS NOT NULL AND xl IS NOT NULL
        ), m_$s AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(y AS HUGEINT)) AS sy,
                 sum(CAST(yl AS HUGEINT)) AS sa,
                 sum(CAST(xl AS HUGEINT)) AS sb,
                 sum(CAST(yl AS HUGEINT) * yl) AS saa,
                 sum(CAST(xl AS HUGEINT) * xl) AS sbb,
                 sum(CAST(yl AS HUGEINT) * xl) AS sab,
                 sum(CAST(y AS HUGEINT) * yl) AS sya,
                 sum(CAST(y AS HUGEINT) * xl) AS syb
          FROM rr_$s
        ), c_$s AS (
          SELECT n,
            CAST(d0 AS DOUBLE) / (CASE WHEN CAST(du AS DOUBLE) <> 0
              THEN CAST(du AS DOUBLE) END) AS b0,
            CAST(d1 AS DOUBLE) / (CASE WHEN CAST(du AS DOUBLE) <> 0
              THEN CAST(du AS DOUBLE) END) AS b1,
            CAST(d2 AS DOUBLE) / (CASE WHEN CAST(du AS DOUBLE) <> 0
              THEN CAST(du AS DOUBLE) END) AS b2,
            CAST(r0 AS DOUBLE) / (CASE WHEN CAST(dr AS DOUBLE) <> 0
              THEN CAST(dr AS DOUBLE) END) AS c0,
            CAST(r1c AS DOUBLE) / (CASE WHEN CAST(dr AS DOUBLE) <> 0
              THEN CAST(dr AS DOUBLE) END) AS c1
          FROM (
            SELECT n,
              n * (saa * sbb - sab * sab) - sa * (sa * sbb - sab * sb)
                + sb * (sa * sab - saa * sb) AS du,
              sy * (saa * sbb - sab * sab)
                - sa * (sya * sbb - sab * syb)
                + sb * (sya * sab - saa * syb) AS d0,
              n * (sya * sbb - sab * syb) - sy * (sa * sbb - sab * sb)
                + sb * (sa * syb - sya * sb) AS d1,
              n * (saa * syb - sya * sab) - sa * (sa * syb - sya * sb)
                + sy * (sa * sab - saa * sb) AS d2,
              n * saa - sa * sa AS dr,
              sy * saa - sa * sya AS r0,
              n * sya - sa * sy AS r1c
            FROM m_$s)
        ), res_$s AS (
          SELECT m.n,
            CAST(round(($ru * $ru) * 1e6) AS BIGINT) AS ru2,
            CAST(round(($rr * $rr) * 1e6) AS BIGINT) AS rr2
          FROM rr_$s r, c_$s c, m_$s m
        ), rss_$s AS (
          SELECT n, CAST(sum(ru2) AS BIGINT) AS su,
                 CAST(sum(rr2) AS BIGINT) AS sr
          FROM res_$s GROUP BY n
        )"""
  }

  /** X408 oracle: the raking recursion unrolled — integer micro
    * weights, round-half-up scale steps ((2wT+M)//(2M)), one CTE
    * pair (row step, column step) per iteration.
    */
  private def rakingSql(iters: Int): String = {
    val head = """
        WITH cells0 AS (
          SELECT lang AS r, source AS c,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(1000000 AS BIGINT) AS w
          FROM documents GROUP BY 1, 2
        ), tot AS (
          SELECT CAST(sum(n) AS HUGEINT) AS nn,
                 CAST(count(DISTINCT r) AS HUGEINT) AS rr,
                 CAST(count(DISTINCT c) AS HUGEINT) AS cc
          FROM cells0
        ), targets AS (
          SELECT CAST((2 * nn * 1000000 + rr) // (2 * rr) AS BIGINT)
                   AS tr,
                 CAST((2 * nn * 1000000 + cc) // (2 * cc) AS BIGINT)
                   AS tc
          FROM tot
        ), it0 AS (
          SELECT r, c, n, w, tr, tc FROM cells0, targets
        )"""
    val steps = (1 to iters).map { i =>
      s""", it${i}a AS (
          SELECT r, c, n,
                 CASE WHEN m > 0 THEN CAST((2 * CAST(w AS HUGEINT)
                   * tr + m) // (2 * m) AS BIGINT) ELSE w END AS w,
                 tr, tc
          FROM it${i - 1}${if (i == 1) "" else "b"}
          JOIN (SELECT r AS k, sum(CAST(n AS HUGEINT) * w) AS m
                FROM it${i - 1}${if (i == 1) "" else "b"}
                GROUP BY 1) mr ON mr.k = r
        ), it${i}b AS (
          SELECT r, c, n,
                 CASE WHEN m > 0 THEN CAST((2 * CAST(w AS HUGEINT)
                   * tc + m) // (2 * m) AS BIGINT) ELSE w END AS w,
                 tr, tc
          FROM it${i}a
          JOIN (SELECT c AS k, sum(CAST(n AS HUGEINT) * w) AS m
                FROM it${i}a GROUP BY 1) mc ON mc.k = c
        )"""
    }.mkString
    head + steps + s"""
        SELECT r AS lang, c AS source, n, w AS w_micro,
               round(CAST(w AS DOUBLE) / 1e6, 6) AS weight,
               round(CAST(n AS DOUBLE) * CAST(w AS DOUBLE) / 1e6, 6)
                 AS weighted_n
        FROM it${iters}b ORDER BY lang, source"""
  }

  val defs: Seq[QueryDef] = Seq(

    // X408: raking / iterative proportional fitting of the
    // (lang × source) cell table to uniform margins — 5 iterations
    // of integer-state row/column rescaling, the survey-weighting
    // companion to q_kish/q_neyman and the principled version of
    // X85's one-margin temperature mix.
    QueryDef(
      "q_raking",
      Some(rakingSql(5).trim),
      "X408 IPF raking of lang x source cells to uniform margins")(
      (spark, dir) => {
        import spark.implicits._
        graft.operators.DistStats.rakeWeights(
            table(spark, dir, "documents"), "lang", "source",
            iters = 5)
          .select($"r".as("lang"), $"c".as("source"), $"n",
            $"w_micro", $"weight", $"weighted_n")
          .orderBy($"lang", $"source")
      }),

    // X409: two-sample Kuiper V — the whole-support/circular-safe
    // complement to q_ks_test on the same purchase-vs-view gate.
    QueryDef(
      "q_kuiper",
      Some("""
        WITH b AS (
          SELECT CAST(round(value * 1000000.0) AS BIGINT) AS v,
                 event_type = 'purchase' AS is_a
          FROM events WHERE event_type IN ('purchase', 'view')
        ), per AS (
          SELECT v,
                 CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT)
                   AS ca,
                 CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT)
                   AS cb
          FROM b GROUP BY v
        ), tot AS (
          SELECT CAST(sum(ca) AS BIGINT) AS na,
                 CAST(sum(cb) AS BIGINT) AS nb
          FROM per
        ), cum AS (
          SELECT sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS cca,
                 sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS ccb
          FROM per
        ), gaps AS (
          SELECT greatest(max(CAST(cca AS DOUBLE) / na
                   - CAST(ccb AS DOUBLE) / nb), 0.0) AS dp,
                 greatest(max(-(CAST(cca AS DOUBLE) / na
                   - CAST(ccb AS DOUBLE) / nb)), 0.0) AS dm
          FROM cum, tot
        )
        SELECT na AS n_a, nb AS n_b,
               CASE WHEN na > 0 AND nb > 0 THEN round(dp, 6) END
                 AS d_plus,
               CASE WHEN na > 0 AND nb > 0 THEN round(dm, 6) END
                 AS d_minus,
               CASE WHEN na > 0 AND nb > 0 THEN round(dp + dm, 6) END
                 AS kuiper_v
        FROM gaps, tot
      """.trim),
      "X409 two-sample Kuiper V, purchase vs view values")(
      (spark, dir) => {
        import spark.implicits._
        Hypothesis.kuiperTest(
          events(spark, dir)
            .filter($"event_type".isin("purchase", "view")),
          "value", $"event_type" === "purchase")
      }),

    // X410: Bland-Altman agreement between two length measures
    // (declared n_chars vs 5·token count) — mean bias, limits of
    // agreement, and the share of docs outside them; the
    // method-comparison readout beside q_lins_ccc's single number.
    QueryDef(
      "q_bland_altman",
      Some("""
        WITH d AS (
          SELECT doc_id,
                 CAST(n_chars AS BIGINT)
                 - 5 * CAST(len(list_filter(string_split_regex(
                     lower(text), '\s+'), t -> t <> '')) AS BIGINT)
                   AS diff
          FROM documents
        ), s AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(diff AS HUGEINT)) AS sd1,
                 sum(CAST(diff AS HUGEINT) * diff) AS sd2
          FROM d
        ), f AS (
          SELECT n,
                 CAST(sd1 AS DOUBLE) / n AS mean_d,
                 sqrt((CAST(sd2 AS DOUBLE) - CAST(sd1 AS DOUBLE)
                   * CAST(sd1 AS DOUBLE) / n) / (n - 1)) AS sd_d
          FROM s
        )
        SELECT f.n, round(mean_d, 6) AS mean_diff,
               round(sd_d, 6) AS sd_diff,
               round(mean_d - 1.96 * sd_d, 6) AS loa_lo,
               round(mean_d + 1.96 * sd_d, 6) AS loa_hi,
               CAST((SELECT count(*) FROM d, f
                 WHERE CAST(diff AS DOUBLE) < mean_d - 1.96 * sd_d
                    OR CAST(diff AS DOUBLE) > mean_d + 1.96 * sd_d)
                 AS BIGINT) AS n_outside,
               round(CAST((SELECT count(*) FROM d, f
                 WHERE CAST(diff AS DOUBLE) < mean_d - 1.96 * sd_d
                    OR CAST(diff AS DOUBLE) > mean_d + 1.96 * sd_d)
                 AS DOUBLE) / f.n, 6) AS pct_outside
        FROM f
      """.trim),
      "X410 Bland-Altman limits of agreement, chars vs 5x tokens")(
      (spark, dir) => {
        import spark.implicits._
        val d = table(spark, dir, "documents")
          .select($"doc_id",
            ($"n_chars".cast("long") - lit(5L) *
              size(filter(split(lower($"text"), "\\s+"),
                t => t =!= "")).cast("long")).as("diff"))
        val dec = "decimal(38,0)"
        val s = d.agg(count(lit(1)).cast("long").as("n"),
          sum($"diff").cast(dec).as("sd1"),
          sum(($"diff".cast(dec) * $"diff").cast(dec)).cast(dec)
            .as("sd2"))
        val meanD = $"sd1".cast("double") / $"n"
        val sdD = sqrt(($"sd2".cast("double") -
          $"sd1".cast("double") * $"sd1".cast("double") / $"n") /
          ($"n" - 1L))
        val f = s.select($"n", meanD.as("__mean"), sdD.as("__sd"))
        val outside = $"diff".cast("double") <
          $"__mean" - lit(1.96) * $"__sd" ||
          $"diff".cast("double") > $"__mean" + lit(1.96) * $"__sd"
        d.crossJoin(broadcast(f))
          .agg(max($"n").as("n"),
            max($"__mean").as("__m"), max($"__sd").as("__s"),
            sum(when(outside, 1L).otherwise(0L)).cast("long")
              .as("n_outside"))
          .select($"n", round($"__m", 6).as("mean_diff"),
            round($"__s", 6).as("sd_diff"),
            round($"__m" - lit(1.96) * $"__s", 6).as("loa_lo"),
            round($"__m" + lit(1.96) * $"__s", 6).as("loa_hi"),
            $"n_outside",
            round($"n_outside".cast("double") / $"n", 6)
              .as("pct_outside"))
      }),

    // X387: Hochberg step-up + Šidák over the SAME per-source
    // length-band GOF p-value family as q_holm/q_bh_fdr — the three
    // procedures on one alert table is exactly how they are used.
    QueryDef(
      "q_hochberg",
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
          SELECT source, pv, rk, m,
                 least(1.0, min(pv * (m - rk + 1)) OVER (
                   ORDER BY pv DESC, source DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                   AS adj
          FROM r
        )
        SELECT source, round(pv, 6) AS p_value, rk AS p_rank,
               round(adj, 6) AS p_adj,
               round(1.0 - power(1.0 - pv, m), 6) AS p_sidak,
               adj <= 0.05 AS reject
        FROM a ORDER BY source
      """.trim),
      "X387 Hochberg+Sidak over per-source length-band GOF p-values")(
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
        val pv = cells.crossJoin(broadcast(glob))
          .select($"source",
            round(exp(-(term("o0", "g0") + term("o1", "g1") +
              term("o2", "g2")) / 2.0), 9).as("pv"))
        Hypothesis.hochbergAdjust(pv, "source", "pv")
          .withColumnRenamed("source", "source")
          .orderBy($"source")
      }),

    // X388: Fisher's exact 2×2 per source (exposure en, outcome
    // long doc) — the small-cell exact companion to q_odds_ratio's
    // asymptotics. The oracle enumerates the hypergeometric support
    // with HUGEINT factorials (per-source n = 25 at the oracle SF,
    // well under factorial(33)'s HUGEINT ceiling); Spark runs the
    // identical enumeration in BigInt, so any corpus size works.
    QueryDef(
      "q_fisher_exact",
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
        ), m AS (
          SELECT source, a, b, c, d,
                 a + b AS r1, c + d AS r2, a + c AS c1,
                 a + b + c + d AS n
          FROM cells
        ), e AS (
          SELECT source, a, b, c, d, r1, r2, c1, n,
                 unnest(range(greatest(0, c1 - r2),
                   least(r1, c1) + 1)) AS k
          FROM m
        ), w AS (
          SELECT source, a, b, c, d, n, c1, k,
                 (factorial(CAST(r1 AS INTEGER))
                   // (factorial(CAST(k AS INTEGER))
                      * factorial(CAST(r1 - k AS INTEGER))))
                 * (factorial(CAST(r2 AS INTEGER))
                   // (factorial(CAST(c1 - k AS INTEGER))
                      * factorial(CAST(r2 - c1 + k AS INTEGER))))
                   AS wk,
                 (factorial(CAST(r1 AS INTEGER))
                   // (factorial(CAST(a AS INTEGER))
                      * factorial(CAST(r1 - a AS INTEGER))))
                 * (factorial(CAST(r2 AS INTEGER))
                   // (factorial(CAST(c1 - a AS INTEGER))
                      * factorial(CAST(r2 - c1 + a AS INTEGER))))
                   AS wobs
          FROM e
        ), s AS (
          SELECT source, a, b, c, d, n, c1,
                 sum(CASE WHEN wk <= wobs THEN wk
                     ELSE CAST(0 AS HUGEINT) END) AS num
          FROM w GROUP BY 1, 2, 3, 4, 5, 6, 7
        ), f AS (
          SELECT source, a, b, c, d, num,
                 factorial(CAST(n AS INTEGER))
                   // (factorial(CAST(c1 AS INTEGER))
                      * factorial(CAST(n - c1 AS INTEGER))) AS den
          FROM s
        )
        SELECT source, a, b, c, d,
               round(CAST((num * 2000000000 + den) // (den * 2)
                 AS DOUBLE) / 1e9, 9) AS p_two_sided
        FROM f ORDER BY source
      """.trim),
      "X388 Fisher exact 2x2 per source: en exposure, long outcome")(
      (spark, dir) => {
        import spark.implicits._
        Hypothesis.fisherExact(table(spark, dir, "documents"),
            "source", $"lang" === "en", $"n_chars" >= 250)
          .orderBy($"source")
      }),

    // X389: Siegel-Tukey scale test — purchase vs view event values;
    // the tie-broken (value, event_id) order is part of the
    // contract, both engines sort identically.
    QueryDef(
      "q_siegel_tukey",
      Some("""
        WITH b AS (
          SELECT CAST(round(value * 1000000.0) AS BIGINT) AS v,
                 event_id AS t,
                 event_type = 'purchase' AS is_a
          FROM events WHERE event_type IN ('purchase', 'view')
        ), r AS (
          SELECT is_a,
                 CAST(row_number() OVER (ORDER BY v, t) AS BIGINT) AS i,
                 CAST(count(*) OVER () AS BIGINT) AS n
          FROM b
        ), st AS (
          SELECT is_a,
                 CASE WHEN i <= n + 1 - i THEN
                   CASE WHEN i % 2 = 1 THEN 2 * i - 1 ELSE 2 * i END
                 ELSE
                   CASE WHEN (n + 1 - i) % 2 = 1 THEN 2 * (n + 1 - i)
                        ELSE 2 * (n + 1 - i) - 1 END
                 END AS rank_st
          FROM r
        ), agg AS (
          SELECT CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
                 CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_b,
                 CAST(sum(CASE WHEN is_a THEN rank_st ELSE 0 END)
                   AS BIGINT) AS w_a
          FROM st
        )
        SELECT n_a, n_b, w_a,
               round(CAST(w_a AS DOUBLE)
                 - n_a * (n_a + 1.0) / 2.0, 6) AS u_stat,
               round((CAST(w_a AS DOUBLE) - n_a * (n_a + 1.0) / 2.0
                   - n_a * CAST(n_b AS DOUBLE) / 2.0)
                 / sqrt(n_a * CAST(n_b AS DOUBLE)
                   * (n_a + n_b + 1.0) / 12.0), 6) AS z_stat
        FROM agg
      """.trim),
      "X389 Siegel-Tukey scale test, purchase vs view values")(
      (spark, dir) => {
        import spark.implicits._
        Hypothesis.siegelTukey(
          events(spark, dir)
            .filter($"event_type".isin("purchase", "view")),
          "value", $"event_type" === "purchase", $"event_id")
      }),

    // X390: two-sample Anderson-Darling (tie-aware A²akN) on the
    // same pair — the tail-weighted gate beside q_ks_test.
    QueryDef(
      "q_ad_2sample",
      Some("""
        WITH b AS (
          SELECT CAST(round(value * 1000000.0) AS BIGINT) AS v,
                 event_type = 'purchase' AS is_a
          FROM events WHERE event_type IN ('purchase', 'view')
        ), per AS (
          SELECT v,
                 CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT)
                   AS ca,
                 CAST(count(*) AS BIGINT) AS h
          FROM b GROUP BY v
        ), tot AS (
          SELECT CAST(sum(ca) AS BIGINT) AS m,
                 CAST(sum(h - ca) AS BIGINT) AS nb,
                 CAST(sum(h) AS BIGINT) AS nn,
                 CAST(count(*) AS BIGINT) AS l
          FROM per
        ), cum AS (
          SELECT v, ca, h,
                 sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS cca,
                 sum(h) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS ch
          FROM per
        ), terms AS (
          SELECT CASE WHEN CAST(m AS HUGEINT) * nb *
                   ((2 * ch - h) * (2 * CAST(nn AS HUGEINT)
                     - (2 * ch - h)) - CAST(nn AS HUGEINT) * h) > 0
                 THEN CAST(round(
                   CAST(CAST(h AS HUGEINT) * (
                     CAST(nb AS HUGEINT)
                       * (CAST(nn AS HUGEINT) * (2 * cca - ca)
                          - CAST(m AS HUGEINT) * (2 * ch - h))
                       * (CAST(nn AS HUGEINT) * (2 * cca - ca)
                          - CAST(m AS HUGEINT) * (2 * ch - h))
                     + CAST(m AS HUGEINT)
                       * (CAST(nn AS HUGEINT) * ((2 * ch - h)
                            - (2 * cca - ca))
                          - CAST(nb AS HUGEINT) * (2 * ch - h))
                       * (CAST(nn AS HUGEINT) * ((2 * ch - h)
                            - (2 * cca - ca))
                          - CAST(nb AS HUGEINT) * (2 * ch - h))
                   ) AS DOUBLE)
                   / CAST(CAST(m AS HUGEINT) * nb *
                     ((2 * ch - h) * (2 * CAST(nn AS HUGEINT)
                       - (2 * ch - h)) - CAST(nn AS HUGEINT) * h)
                     AS DOUBLE) * 1e9) AS BIGINT)
                 ELSE 0 END AS t
          FROM cum, tot
        )
        SELECT m AS n_a, nb AS n_b, l AS n_distinct,
               CASE WHEN m > 0 AND nb > 0 AND l > 1 THEN
                 round((CAST(nn AS DOUBLE) - 1.0)
                   / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE))
                   * CAST((SELECT sum(t) FROM terms) AS DOUBLE)
                   / 1e9, 6) END AS ad_stat
        FROM tot
      """.trim),
      "X390 two-sample Anderson-Darling A2akN, purchase vs view")(
      (spark, dir) => {
        import spark.implicits._
        Hypothesis.ad2Sample(
          events(spark, dir)
            .filter($"event_type".isin("purchase", "view")),
          "value", $"event_type" === "purchase")
      }),

    // X391: Moses extreme reactions — the span of the view group's
    // combined-order positions after trimming 2 from each side.
    QueryDef(
      "q_moses",
      Some("""
        WITH b AS (
          SELECT CAST(round(value * 1000000.0) AS BIGINT) AS v,
                 event_id AS t,
                 event_type = 'view' AS is_a
          FROM events WHERE event_type IN ('purchase', 'view')
        ), r AS (
          SELECT is_a,
                 CAST(row_number() OVER (ORDER BY v, t) AS BIGINT) - 1
                   AS pos
          FROM b
        ), a AS (
          SELECT pos,
                 CAST(row_number() OVER (ORDER BY pos) AS BIGINT) - 1
                   AS rk
          FROM r WHERE is_a
        ), counts AS (
          SELECT CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
                 CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_b
          FROM r
        ), ends AS (
          SELECT min(CASE WHEN rk = 2 THEN pos END) AS lo,
                 min(CASE WHEN rk = (SELECT n_a FROM counts) - 3
                   THEN pos END) AS hi
          FROM a
        )
        SELECT n_a, n_b, CAST(2 AS BIGINT) AS trim,
               CASE WHEN n_a > 4 THEN hi - lo + 1 END AS span,
               CASE WHEN n_a > 4 THEN hi - lo + 1 - (n_a - 4) END
                 AS excess
        FROM counts, ends
      """.trim),
      "X391 Moses extreme-reactions span, view within purchase+view")(
      (spark, dir) => {
        import spark.implicits._
        Hypothesis.mosesSpan(
          events(spark, dir)
            .filter($"event_type".isin("purchase", "view")),
          "value", $"event_type" === "view", $"event_id", trim = 2)
      }),

    // X394: AIPW doubly-robust ATE — q_ipw's banded propensity plus
    // a per-source outcome model; the estimator that stays
    // consistent when EITHER leg is right.
    QueryDef(
      "q_aipw",
      Some("""
        WITH b AS (
          SELECT source, lang = 'en' AS t,
                 CAST(n_chars AS DOUBLE) AS y,
                 CAST(4 + 3 * (doc_id % 4) AS DOUBLE) / 20.0 AS e
          FROM documents
        ), om AS (
          SELECT source,
                 CAST(sum(CASE WHEN t THEN CAST(n_chars AS BIGINT)
                   ELSE 0 END) AS BIGINT) AS sy1,
                 CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1,
                 CAST(sum(CASE WHEN t THEN 0
                   ELSE CAST(n_chars AS BIGINT) END) AS BIGINT) AS sy0,
                 CAST(sum(CASE WHEN t THEN 0 ELSE 1 END) AS BIGINT)
                   AS n0
          FROM (SELECT source, lang = 'en' AS t, n_chars
                FROM documents)
          GROUP BY source
        ), terms AS (
          SELECT b.t,
            CAST(round((CAST(om.sy1 AS DOUBLE) / om.n1
              + (CASE WHEN b.t THEN (b.y - CAST(om.sy1 AS DOUBLE)
                  / om.n1) / b.e ELSE 0.0 END)) * 1e9) AS BIGINT)
              AS t1,
            CAST(round((CAST(om.sy0 AS DOUBLE) / om.n0
              + (CASE WHEN b.t THEN 0.0
                 ELSE (b.y - CAST(om.sy0 AS DOUBLE) / om.n0)
                   / (1.0 - b.e) END)) * 1e9) AS BIGINT) AS t0
          FROM b JOIN om USING (source)
          WHERE om.n1 > 0 AND om.n0 > 0
        )
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_treated,
               round(CAST(sum(t1) AS DOUBLE)
                 / (CAST(count(*) AS DOUBLE) * 1e9), 6) AS mu1,
               round(CAST(sum(t0) AS DOUBLE)
                 / (CAST(count(*) AS DOUBLE) * 1e9), 6) AS mu0,
               round((CAST(sum(t1) AS DOUBLE) - CAST(sum(t0)
                   AS DOUBLE))
                 / (CAST(count(*) AS DOUBLE) * 1e9), 6) AS ate_aipw
        FROM terms
      """.trim),
      "X394 AIPW doubly-robust ATE of 'en' on length, source model")(
      (spark, dir) => {
        import spark.implicits._
        val docs = table(spark, dir, "documents")
        val t = $"lang" === "en"
        val om = docs.groupBy($"source")
          .agg(sum(when(t, $"n_chars".cast("long")).otherwise(0L))
              .cast("long").as("sy1"),
            sum(when(t, 1L).otherwise(0L)).cast("long").as("n1"),
            sum(when(t, 0L).otherwise($"n_chars".cast("long")))
              .cast("long").as("sy0"),
            sum(when(t, 0L).otherwise(1L)).cast("long").as("n0"))
        val e = (lit(4) + lit(3) * ($"doc_id" % 4)).cast("double") /
          20.0
        val m1 = $"sy1".cast("double") / $"n1"
        val m0 = $"sy0".cast("double") / $"n0"
        val y = $"n_chars".cast("double")
        val terms = docs.join(om, Seq("source"))
          .filter($"n1" > 0L && $"n0" > 0L)
          .select(t.as("t"),
            round((m1 + when(t, (y - m1) / e).otherwise(lit(0.0))) *
              1e9, 0).cast("long").as("t1"),
            round((m0 + when(t, lit(0.0))
              .otherwise((y - m0) / (lit(1.0) - e))) * 1e9, 0)
              .cast("long").as("t0"))
        terms.agg(count(lit(1)).cast("long").as("n"),
            sum(when($"t", 1L).otherwise(0L)).cast("long")
              .as("n_treated"),
            sum($"t1").cast("long").as("__s1"),
            sum($"t0").cast("long").as("__s0"))
          .select($"n", $"n_treated",
            round($"__s1".cast("double") /
              ($"n".cast("double") * 1e9), 6).as("mu1"),
            round($"__s0".cast("double") /
              ($"n".cast("double") * 1e9), 6).as("mu0"),
            round(($"__s1".cast("double") - $"__s0".cast("double")) /
              ($"n".cast("double") * 1e9), 6).as("ate_aipw"))
      }),

    // X395: E-value sensitivity per source — how strong an
    // unmeasured confounder must be to explain away the observed
    // risk ratio; the standard robustness readout next to
    // q_mantel_haenszel's adjusted effect.
    QueryDef(
      "q_evalue",
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
        ), rr AS (
          SELECT source, a, b, c, d,
                 CASE WHEN a + b > 0 AND c + d > 0 AND a > 0 AND c > 0
                 THEN (CAST(a AS DOUBLE) / (a + b))
                   / (CAST(c AS DOUBLE) / (c + d)) END AS rr
          FROM cells
        )
        SELECT source, a, b, c, d, round(rr, 6) AS risk_ratio,
               CASE WHEN rr IS NULL THEN NULL
                    WHEN rr >= 1.0 THEN
                      round(rr + sqrt(rr * (rr - 1.0)), 6)
                    ELSE round(1.0 / rr
                      + sqrt((1.0 / rr) * (1.0 / rr - 1.0)), 6)
               END AS e_value
        FROM rr ORDER BY source
      """.trim),
      "X395 E-value for the per-source en->long-doc risk ratio")(
      (spark, dir) => {
        import spark.implicits._
        val cells = table(spark, dir, "documents")
          .groupBy($"source")
          .agg(
            sum(when($"lang" === "en" && $"n_chars" >= 250, 1L)
              .otherwise(0L)).cast("long").as("a"),
            sum(when($"lang" === "en" && $"n_chars" < 250, 1L)
              .otherwise(0L)).cast("long").as("b"),
            sum(when($"lang" =!= "en" && $"n_chars" >= 250, 1L)
              .otherwise(0L)).cast("long").as("c"),
            sum(when($"lang" =!= "en" && $"n_chars" < 250, 1L)
              .otherwise(0L)).cast("long").as("d"))
        val ok = $"a" + $"b" > 0L && $"c" + $"d" > 0L &&
          $"a" > 0L && $"c" > 0L
        val rr = ($"a".cast("double") / ($"a" + $"b")) /
          ($"c".cast("double") / ($"c" + $"d"))
        val rinv = lit(1.0) / $"rr"
        cells.select($"source", $"a", $"b", $"c", $"d",
            when(ok, rr).as("rr"))
          .select($"source", $"a", $"b", $"c", $"d",
            round($"rr", 6).as("risk_ratio"),
            when($"rr".isNull, lit(null).cast("double"))
              .when($"rr" >= 1.0,
                round($"rr" + sqrt($"rr" * ($"rr" - 1.0)), 6))
              .otherwise(round(rinv +
                sqrt(rinv * (rinv - 1.0)), 6)).as("e_value"))
          .orderBy($"source")
      }),

    // X396: Matthews correlation + balanced accuracy per source for
    // the length-as-en classifier — the chance-robust single numbers
    // the q_class_report precision/recall table lacks.
    QueryDef(
      "q_mcc",
      Some("""
        WITH c AS (
          SELECT source,
            CAST(sum(CASE WHEN n_chars >= 250 AND lang = 'en'
              THEN 1 ELSE 0 END) AS BIGINT) AS tp,
            CAST(sum(CASE WHEN n_chars >= 250 AND lang <> 'en'
              THEN 1 ELSE 0 END) AS BIGINT) AS fp,
            CAST(sum(CASE WHEN n_chars < 250 AND lang = 'en'
              THEN 1 ELSE 0 END) AS BIGINT) AS fn,
            CAST(sum(CASE WHEN n_chars < 250 AND lang <> 'en'
              THEN 1 ELSE 0 END) AS BIGINT) AS tn
          FROM documents GROUP BY source
        )
        SELECT source, tp, fp, fn, tn,
               CASE WHEN (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
                      > 0 THEN
                 round((CAST(tp AS DOUBLE) * tn
                     - CAST(fp AS DOUBLE) * fn)
                   / sqrt(CAST((tp + fp) * (tp + fn) AS DOUBLE)
                     * CAST((tn + fp) * (tn + fn) AS DOUBLE)), 6)
               END AS mcc,
               CASE WHEN tp + fn > 0 AND tn + fp > 0 THEN
                 round((CAST(tp AS DOUBLE) / (tp + fn)
                   + CAST(tn AS DOUBLE) / (tn + fp)) / 2.0, 6)
               END AS balanced_acc
        FROM c ORDER BY source
      """.trim),
      "X396 MCC + balanced accuracy per source, length-as-en")(
      (spark, dir) => {
        import spark.implicits._
        val pred = $"n_chars" >= 250
        val lab = $"lang" === "en"
        val c = table(spark, dir, "documents")
          .groupBy($"source")
          .agg(
            sum(when(pred && lab, 1L).otherwise(0L)).cast("long")
              .as("tp"),
            sum(when(pred && !lab, 1L).otherwise(0L)).cast("long")
              .as("fp"),
            sum(when(!pred && lab, 1L).otherwise(0L)).cast("long")
              .as("fn"),
            sum(when(!pred && !lab, 1L).otherwise(0L)).cast("long")
              .as("tn"))
        val denomOk = ($"tp" + $"fp") * ($"tp" + $"fn") *
          ($"tn" + $"fp") * ($"tn" + $"fn") > 0L
        c.select($"source", $"tp", $"fp", $"fn", $"tn",
            when(denomOk, round(($"tp".cast("double") * $"tn" -
                $"fp".cast("double") * $"fn") /
              sqrt((($"tp" + $"fp") * ($"tp" + $"fn")).cast("double") *
                (($"tn" + $"fp") * ($"tn" + $"fn")).cast("double")),
              6)).as("mcc"),
            when($"tp" + $"fn" > 0L && $"tn" + $"fp" > 0L,
              round(($"tp".cast("double") / ($"tp" + $"fn") +
                $"tn".cast("double") / ($"tn" + $"fp")) / 2.0, 6))
              .as("balanced_acc"))
          .orderBy($"source")
      }),

    // X393: Holt linear trend on the daily event-count series —
    // integer-quantized state replayed by a recursive CTE, the
    // q_jump_shards convention.
    QueryDef(
      "q_holt_linear",
      Some("""
        WITH daily AS (
          SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d,
                 CAST(count(*) AS BIGINT) * 1000000 AS v,
                 CAST(row_number() OVER (ORDER BY CAST(ts AS DATE))
                   AS BIGINT) AS i
          FROM events GROUP BY CAST(ts AS DATE)
        ), seed AS (
          SELECT (SELECT v FROM daily WHERE i = 2)
            - (SELECT v FROM daily WHERE i = 1) AS b0
        ), rec AS (
          WITH RECURSIVE h(i, d, v, l, b, f) AS (
            SELECT daily.i, daily.d, daily.v, daily.v,
                   seed.b0, CAST(NULL AS BIGINT)
            FROM daily, seed WHERE daily.i = 1
            UNION ALL
            SELECT daily.i, daily.d, daily.v,
                   CAST(floor((daily.v + h.l + h.b) / 2.0) AS BIGINT),
                   CAST(floor((h.b
                     + CAST(floor((daily.v + h.l + h.b) / 2.0)
                       AS BIGINT) - h.l) / 2.0) AS BIGINT),
                   h.l + h.b
            FROM h JOIN daily ON daily.i = h.i + 1
          )
          SELECT * FROM h
        )
        SELECT d AS bucket, round(v / 1e6, 6) AS value,
               round(l / 1e6, 6) AS level, round(b / 1e6, 6) AS trend,
               round(f / 1e6, 6) AS forecast
        FROM rec ORDER BY i
      """.trim),
      "X393 Holt linear trend, integer state, daily event counts")(
      (spark, dir) => {
        import spark.implicits._
        val daily = events(spark, dir)
          .groupBy(to_date($"ts").cast("string").as("d"))
          .agg(count(lit(1)).cast("long").as("v"))
        TimeSeries.holtLinear(daily, "d", "v")
      }),

    // X417: Pettitt change-point — the unknown-date break locator
    // beside q_chow's known-date F; exact integer U over every cut.
    QueryDef(
      "q_pettitt",
      Some("""
        WITH daily AS (
          SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d,
                 CAST(count(*) AS BIGINT) * 1000000 AS v
          FROM events GROUP BY 1
        ), idx AS (
          SELECT d, v,
                 CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t
          FROM daily
        ), n1 AS (
          SELECT CAST(count(*) AS BIGINT) AS n FROM idx
        ), u AS (
          SELECT c.t AS cut, c.d,
                 CAST(coalesce(sum(CASE WHEN p2.v > p1.v THEN 1
                   WHEN p2.v < p1.v THEN -1 ELSE 0 END), 0) AS BIGINT)
                   AS uu
          FROM idx c
          JOIN idx p1 ON p1.t <= c.t
          JOIN idx p2 ON p2.t > c.t
          , n1
          WHERE c.t < n1.n
          GROUP BY 1, 2
        ), best AS (
          SELECT CAST(max(abs(uu)) AS BIGINT) AS k FROM u
        )
        SELECT n1.n, best.k AS k_stat, u.d AS break_after,
               u.cut AS break_pos,
               round(least(1.0, 2.0 * exp(-6.0 * CAST(best.k AS DOUBLE)
                 * CAST(best.k AS DOUBLE)
                 / (CAST(n1.n AS DOUBLE) * n1.n * n1.n
                   + CAST(n1.n AS DOUBLE) * n1.n))), 6) AS p_approx
        FROM u, best, n1
        WHERE abs(u.uu) = best.k
        ORDER BY u.cut LIMIT 1
      """.trim),
      "X417 Pettitt change-point on daily counts")(
      (spark, dir) => {
        import spark.implicits._
        val daily = events(spark, dir)
          .groupBy(to_date($"ts").cast("string").as("d"))
          .agg(count(lit(1)).cast("long").as("v"))
        TimeSeries.pettitt(daily, "d", "v")
      }),

    // X418: decile lift/gains table for the length-as-en scorer —
    // the campaign-targeting readout beside q_pr_curve's threshold
    // sweep; exact integer decile masses, tie-broken globalRank.
    QueryDef(
      "q_decile_lift",
      Some("""
        WITH scored AS (
          SELECT doc_id, n_chars, lang = 'en' AS pos,
                 CAST(row_number() OVER (ORDER BY n_chars DESC,
                   doc_id) AS BIGINT) - 1 AS rk,
                 CAST(count(*) OVER () AS BIGINT) AS n
          FROM documents
        ), dec AS (
          SELECT CAST(rk * 10 // n AS BIGINT) AS decile,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_pos
          FROM scored GROUP BY 1
        ), tot AS (
          SELECT CAST(sum(n_docs) AS BIGINT) AS tn,
                 CAST(sum(n_pos) AS BIGINT) AS tp
          FROM dec
        ), cum AS (
          SELECT decile, n_docs, n_pos,
                 sum(n_docs) OVER (ORDER BY decile ROWS BETWEEN
                   UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
                 sum(n_pos) OVER (ORDER BY decile ROWS BETWEEN
                   UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
          FROM dec
        )
        SELECT decile, n_docs, n_pos,
               CAST(cp AS BIGINT) AS cum_pos,
               CASE WHEN tp > 0 THEN
                 round((CAST(cp AS DOUBLE) / cn)
                   / (CAST(tp AS DOUBLE) / tn), 6) END AS cum_lift,
               CASE WHEN tp > 0 THEN
                 round(CAST(cp AS DOUBLE) / tp, 6) END AS cum_capture
        FROM cum, tot ORDER BY decile
      """.trim),
      "X418 decile lift/gains for length-as-en scoring")(
      (spark, dir) => {
        import spark.implicits._
        val ranked = graft.operators.CorpusOps.globalRank(
          table(spark, dir, "documents")
            .select($"doc_id", $"n_chars", ($"lang" === "en").as("pos")),
          Seq($"n_chars".desc, $"doc_id"))
        val n1 = ranked.agg(count(lit(1)).cast("long").as("__n"))
        val dec = ranked.crossJoin(broadcast(n1))
          .groupBy(expr("__rank * 10 div __n").cast("long")
            .as("decile"))
          .agg(count(lit(1)).cast("long").as("n_docs"),
            sum(when($"pos", 1L).otherwise(0L)).cast("long")
              .as("n_pos"))
        val tot = dec.agg(sum($"n_docs").cast("long").as("__tn"),
          sum($"n_pos").cast("long").as("__tp"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy($"decile")
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, org.apache.spark.sql.expressions
            .Window.currentRow)
        dec.withColumn("__cn", sum($"n_docs").over(w))
          .withColumn("__cp", sum($"n_pos").over(w))
          .crossJoin(broadcast(tot))
          .select($"decile", $"n_docs", $"n_pos",
            $"__cp".cast("long").as("cum_pos"),
            when($"__tp" > 0L, round(($"__cp".cast("double") /
              $"__cn") / ($"__tp".cast("double") / $"__tn"), 6))
              .as("cum_lift"),
            when($"__tp" > 0L,
              round($"__cp".cast("double") / $"__tp", 6))
              .as("cum_capture"))
          .orderBy($"decile")
      }),

    // X419: Storey q-values over the shared per-source GOF p family
    // — π₀ estimated at λ=0.5, BH suffix-min scaled by it; the
    // plug-in FDR completion beside q_bh_fdr/q_by_fdr/q_hochberg.
    QueryDef(
      "q_qvalue",
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
                 CAST(count(*) OVER () AS BIGINT) AS m,
                 CAST(sum(CASE WHEN pv > 0.5 THEN 1 ELSE 0 END)
                   OVER () AS BIGINT) AS n_hi
          FROM p
        ), a AS (
          SELECT source, pv, rk, m,
                 least(1.0, CAST(n_hi AS DOUBLE) / (0.5 * m)) AS pi0,
                 min(pv * m / rk) OVER (
                   ORDER BY pv DESC, source DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS bh
          FROM r
        )
        SELECT source, round(pv, 6) AS p_value, rk AS p_rank,
               round(pi0, 6) AS pi0,
               round(least(1.0, pi0 * bh), 6) AS q_value,
               least(1.0, pi0 * bh) <= 0.05 AS significant
        FROM a ORDER BY source
      """.trim),
      "X419 Storey q-values over per-source GOF p-values")(
      (spark, dir) => {
        import spark.implicits._
        import org.apache.spark.sql.expressions.Window
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
        val pv = cells.crossJoin(broadcast(glob))
          .select($"source",
            round(exp(-(term("o0", "g0") + term("o1", "g1") +
              term("o2", "g2")) / 2.0), 9).as("pv"))
        val m = pv.agg(count(lit(1)).cast("long").as("__m"),
          sum(when($"pv" > 0.5, 1L).otherwise(0L)).cast("long")
            .as("__nhi"))
        val wAsc = Window.orderBy($"pv".asc, $"source".asc)
        val wDesc = Window.orderBy($"pv".desc, $"source".desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val pi0 = least(lit(1.0),
          $"__nhi".cast("double") / (lit(0.5) * $"__m"))
        pv.crossJoin(broadcast(m))
          .withColumn("__rank", row_number().over(wAsc).cast("long"))
          .withColumn("__bh",
            min($"pv" * $"__m" / $"__rank").over(wDesc))
          .select($"source", round($"pv", 6).as("p_value"),
            $"__rank".as("p_rank"), round(pi0, 6).as("pi0"),
            round(least(lit(1.0), pi0 * $"__bh"), 6).as("q_value"),
            (least(lit(1.0), pi0 * $"__bh") <= 0.05)
              .as("significant"))
          .orderBy($"source")
      }),

    // X414: seasonal Mann-Kendall — the weekday-stratified trend
    // gate; a pure weekly cycle reads S_w = 0 in every stratum where
    // plain MK books phantom trend from the phase.
    QueryDef(
      "q_seasonal_mk",
      Some("""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d,
                 CAST(count(*) AS BIGINT) * 1000000 AS v
          FROM events GROUP BY 1
        ), base AS (
          SELECT dayofweek(d) AS w, d, v FROM daily
        ), s AS (
          SELECT CAST(coalesce(sum(CASE WHEN b.v > a.v THEN 1
                   WHEN b.v < a.v THEN -1 ELSE 0 END), 0) AS BIGINT)
                 AS s_stat
          FROM base a JOIN base b ON a.w = b.w AND b.d > a.d
        ), perw AS (
          SELECT w, CAST(count(*) AS BIGINT) AS n FROM base GROUP BY 1
        ), ties AS (
          SELECT w, CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)
                   AS BIGINT) AS tie
          FROM (SELECT w, v, CAST(count(*) AS BIGINT) AS t
                FROM base GROUP BY 1, 2)
          GROUP BY 1
        ), v18 AS (
          SELECT CAST(sum(p.n * (p.n - 1) * (2 * p.n + 5) - t.tie)
                   AS BIGINT) AS v18,
                 CAST(count(*) AS BIGINT) AS n_seasons,
                 CAST(sum(p.n) AS BIGINT) AS n
          FROM perw p JOIN ties t ON t.w = p.w
        )
        SELECT n, n_seasons, s_stat,
               CASE WHEN CAST(v18 AS DOUBLE) / 18.0 > 0 THEN
                 round((CASE WHEN s_stat > 0
                          THEN CAST(s_stat AS DOUBLE) - 1.0
                        WHEN s_stat < 0
                          THEN CAST(s_stat AS DOUBLE) + 1.0
                        ELSE 0.0 END)
                   / sqrt(CAST(v18 AS DOUBLE) / 18.0), 6) END AS z
        FROM v18, s
      """.trim),
      "X414 seasonal Mann-Kendall on daily counts, weekday strata")(
      (spark, dir) => {
        import spark.implicits._
        val daily = events(spark, dir)
          .groupBy(to_date($"ts").as("d"))
          .agg(count(lit(1)).cast("long").as("v"))
        TimeSeries.seasonalMannKendall(daily, "d", "v",
          dayofweek($"d"))
      }),

    // X415: additive Holt-Winters, weekly season, integer micro
    // state — replayed by a recursive CTE carrying the rotating
    // 7-slot seasonal register.
    QueryDef(
      "q_holt_winters",
      Some("""
        WITH daily AS (
          SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d,
                 CAST(count(*) AS BIGINT) * 1000000 AS v,
                 CAST(row_number() OVER (ORDER BY CAST(ts AS DATE))
                   AS BIGINT) AS i
          FROM events GROUP BY CAST(ts AS DATE)
        ), seed AS (
          SELECT CAST(floor(CAST(sum(v) AS DOUBLE) / 7.0) AS BIGINT)
            AS l
          FROM daily WHERE i <= 7
        ), s0 AS (
          SELECT max(CASE WHEN i = 1 THEN v - l END) AS s1,
                 max(CASE WHEN i = 2 THEN v - l END) AS s2,
                 max(CASE WHEN i = 3 THEN v - l END) AS s3,
                 max(CASE WHEN i = 4 THEN v - l END) AS s4,
                 max(CASE WHEN i = 5 THEN v - l END) AS s5,
                 max(CASE WHEN i = 6 THEN v - l END) AS s6,
                 max(CASE WHEN i = 7 THEN v - l END) AS s7
          FROM daily, seed WHERE i <= 7
        ), rec AS (
          WITH RECURSIVE h(i, d, v, l, b, sn, f,
                           s1, s2, s3, s4, s5, s6, s7) AS (
            SELECT CAST(7 AS BIGINT), CAST(NULL AS VARCHAR),
                   CAST(NULL AS BIGINT), seed.l, CAST(0 AS BIGINT),
                   CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
                   s0.s1, s0.s2, s0.s3, s0.s4, s0.s5, s0.s6, s0.s7
            FROM seed, s0
            UNION ALL
            SELECT d.i, d.d, d.v,
                   CAST(floor((d.v - h.s1 + h.l + h.b) / 2.0)
                     AS BIGINT),
                   CAST(floor((h.b
                     + CAST(floor((d.v - h.s1 + h.l + h.b) / 2.0)
                         AS BIGINT) - h.l) / 2.0) AS BIGINT),
                   CAST(floor((d.v
                     - CAST(floor((d.v - h.s1 + h.l + h.b) / 2.0)
                         AS BIGINT) + h.s1) / 2.0) AS BIGINT),
                   h.l + h.b + h.s1,
                   h.s2, h.s3, h.s4, h.s5, h.s6, h.s7,
                   CAST(floor((d.v
                     - CAST(floor((d.v - h.s1 + h.l + h.b) / 2.0)
                         AS BIGINT) + h.s1) / 2.0) AS BIGINT)
            FROM h JOIN daily d ON d.i = h.i + 1
          )
          SELECT * FROM h WHERE i >= 8
        )
        SELECT d AS bucket, round(v / 1e6, 6) AS value,
               CAST(NULL AS DOUBLE) AS level,
               CAST(NULL AS DOUBLE) AS trend,
               round((v - l) / 1e6, 6) AS seasonal,
               CAST(NULL AS DOUBLE) AS forecast
        FROM daily, seed WHERE i <= 7
        UNION ALL
        SELECT d, round(v / 1e6, 6), round(l / 1e6, 6),
               round(b / 1e6, 6), round(sn / 1e6, 6),
               round(f / 1e6, 6)
        FROM rec
        ORDER BY bucket
      """.trim),
      "X415 additive Holt-Winters, weekly season, integer state")(
      (spark, dir) => {
        import spark.implicits._
        val daily = events(spark, dir)
          .groupBy(to_date($"ts").cast("string").as("d"))
          .agg(count(lit(1)).cast("long").as("v"))
        TimeSeries.holtWintersAdditive(daily, "d", "v", period = 7)
      }),

    // X416: ABC / Pareto analysis of parts by revenue — cumulative-
    // share classes with the 80/95% cuts decided by exact decimal
    // cross-multiplication; the inventory-policy rollup on top of
    // the X399 value table.
    QueryDef(
      "q_abc_analysis",
      Some("""
        WITH rev AS (
          SELECT l_partkey,
                 sum(CAST(l_extendedprice * (1 - l_discount)
                   AS DECIMAL(20,6))) AS r
          FROM lineitem GROUP BY 1
        ), tot AS (
          SELECT sum(r) AS t FROM rev
        ), ranked AS (
          SELECT l_partkey, r,
                 sum(r) OVER (ORDER BY r DESC, l_partkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
          FROM rev
        ), classed AS (
          SELECT CASE WHEN cum * 5 <= t * 4 THEN 'A'
                      WHEN cum * 20 <= t * 19 THEN 'B'
                      ELSE 'C' END AS abc_class, r
          FROM ranked, tot
        )
        SELECT abc_class, CAST(count(*) AS BIGINT) AS n_parts,
               round(CAST(sum(r) AS DOUBLE), 2) AS revenue,
               round(CAST(sum(r) AS DOUBLE)
                 / CAST(max(t) AS DOUBLE), 6) AS share
        FROM classed, tot
        GROUP BY 1 ORDER BY 1
      """.trim),
      "X416 ABC/Pareto revenue classes over parts (80/95 cuts)")(
      (spark, dir) => {
        import spark.implicits._
        import org.apache.spark.sql.expressions.Window
        val rev = table(spark, dir, "lineitem")
          .groupBy($"l_partkey")
          .agg(sum(($"l_extendedprice" * (lit(1) - $"l_discount"))
            .cast("decimal(20,6)")).as("r"))
        val tot = rev.agg(sum($"r").as("t"))
        val w = Window.orderBy($"r".desc, $"l_partkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val classed = rev.withColumn("cum", sum($"r").over(w))
          .crossJoin(broadcast(tot))
          .withColumn("abc_class",
            when($"cum" * 5 <= $"t" * 4, "A")
              .when($"cum" * 20 <= $"t" * 19, "B")
              .otherwise("C"))
        classed.groupBy($"abc_class")
          .agg(count(lit(1)).cast("long").as("n_parts"),
            round(sum($"r").cast("double"), 2).as("revenue"),
            round(sum($"r").cast("double") /
              max($"t").cast("double"), 6).as("share"))
          .orderBy($"abc_class")
      }),

    // X411: Chow structural-break test on the daily event counts at
    // the mid-month date — pooled vs per-segment OLS on the time
    // index, integer moments, micro-quantized residuals.
    QueryDef(
      "q_chow",
      Some("""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS v,
                 CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
                   THEN 1 ELSE 0 END AS s2
          FROM events GROUP BY 1, 3
        ), rows_ AS (
          SELECT v AS y, s2,
                 CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t
          FROM daily
        ), m AS (
          SELECT CAST(count(*) AS BIGINT) AS pn,
                 sum(CAST(t AS HUGEINT)) AS pst,
                 sum(CAST(y AS HUGEINT)) AS psy,
                 sum(CAST(t AS HUGEINT) * t) AS pstt,
                 sum(CAST(t AS HUGEINT) * y) AS psty,
                 CAST(sum(CASE WHEN s2 = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS an,
                 sum(CASE WHEN s2 = 0 THEN CAST(t AS HUGEINT)
                   ELSE 0 END) AS ast,
                 sum(CASE WHEN s2 = 0 THEN CAST(y AS HUGEINT)
                   ELSE 0 END) AS asy,
                 sum(CASE WHEN s2 = 0 THEN CAST(t AS HUGEINT) * t
                   ELSE 0 END) AS astt,
                 sum(CASE WHEN s2 = 0 THEN CAST(t AS HUGEINT) * y
                   ELSE 0 END) AS asty,
                 CAST(sum(CASE WHEN s2 = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS bn,
                 sum(CASE WHEN s2 = 1 THEN CAST(t AS HUGEINT)
                   ELSE 0 END) AS bst,
                 sum(CASE WHEN s2 = 1 THEN CAST(y AS HUGEINT)
                   ELSE 0 END) AS bsy,
                 sum(CASE WHEN s2 = 1 THEN CAST(t AS HUGEINT) * t
                   ELSE 0 END) AS bstt,
                 sum(CASE WHEN s2 = 1 THEN CAST(t AS HUGEINT) * y
                   ELSE 0 END) AS bsty
          FROM rows_
        ), coef AS (
          SELECT pn, an AS n1, bn AS n2,
            CAST(psy * pstt - pst * psty AS DOUBLE)
              / (CASE WHEN CAST(pn * pstt - pst * pst AS DOUBLE) <> 0
                 THEN CAST(pn * pstt - pst * pst AS DOUBLE) END)
              AS pa,
            CAST(pn * psty - pst * psy AS DOUBLE)
              / (CASE WHEN CAST(pn * pstt - pst * pst AS DOUBLE) <> 0
                 THEN CAST(pn * pstt - pst * pst AS DOUBLE) END)
              AS pb,
            CAST(asy * astt - ast * asty AS DOUBLE)
              / (CASE WHEN CAST(an * astt - ast * ast AS DOUBLE) <> 0
                 THEN CAST(an * astt - ast * ast AS DOUBLE) END)
              AS aa,
            CAST(an * asty - ast * asy AS DOUBLE)
              / (CASE WHEN CAST(an * astt - ast * ast AS DOUBLE) <> 0
                 THEN CAST(an * astt - ast * ast AS DOUBLE) END)
              AS ab,
            CAST(bsy * bstt - bst * bsty AS DOUBLE)
              / (CASE WHEN CAST(bn * bstt - bst * bst AS DOUBLE) <> 0
                 THEN CAST(bn * bstt - bst * bst AS DOUBLE) END)
              AS ba,
            CAST(bn * bsty - bst * bsy AS DOUBLE)
              / (CASE WHEN CAST(bn * bstt - bst * bst AS DOUBLE) <> 0
                 THEN CAST(bn * bstt - bst * bst AS DOUBLE) END)
              AS bb
          FROM m
        ), res AS (
          SELECT c.n1, c.n2,
            CAST(round(((CAST(r.y AS DOUBLE) - c.pa - c.pb * r.t)
              * (CAST(r.y AS DOUBLE) - c.pa - c.pb * r.t)) * 1e6)
              AS BIGINT) AS rp,
            CASE WHEN r.s2 = 0 THEN
              CAST(round(((CAST(r.y AS DOUBLE) - c.aa - c.ab * r.t)
                * (CAST(r.y AS DOUBLE) - c.aa - c.ab * r.t)) * 1e6)
                AS BIGINT)
            ELSE
              CAST(round(((CAST(r.y AS DOUBLE) - c.ba - c.bb * r.t)
                * (CAST(r.y AS DOUBLE) - c.ba - c.bb * r.t)) * 1e6)
                AS BIGINT)
            END AS rs
          FROM rows_ r, coef c
        ), rss AS (
          SELECT n1, n2, CAST(sum(rp) AS BIGINT) AS sp,
                 CAST(sum(rs) AS BIGINT) AS ss
          FROM res GROUP BY 1, 2
        )
        SELECT n1, n2,
               round(CAST(sp AS DOUBLE) / 1e6, 6) AS rss_pooled,
               round(CAST(ss AS DOUBLE) / 1e6, 6) AS rss_split,
               CASE WHEN ss > 0 AND n1 + n2 > 4 AND n1 > 1 AND n2 > 1
               THEN round((CAST(sp - ss AS DOUBLE) / 2.0)
                 / (CAST(ss AS DOUBLE) / (n1 + n2 - 4)), 6) END
                 AS f_stat
        FROM rss
      """.trim),
      "X411 Chow break test on daily counts at 2024-01-16")(
      (spark, dir) => {
        import spark.implicits._
        val daily = events(spark, dir)
          .groupBy(to_date($"ts").as("d"))
          .agg(count(lit(1)).cast("long").as("v"))
        TimeSeries.chowTest(daily, "d", "v",
          $"d" >= lit("2024-01-16").cast("date"))
      }),

    // X412: per-day regression influence — residual, exact-rational
    // leverage, Cook's distance, 4/n flag on the daily trend fit.
    QueryDef(
      "q_influence",
      Some("""
        WITH daily AS (
          SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d,
                 CAST(count(*) AS BIGINT) AS v
          FROM events GROUP BY 1
        ), rows_ AS (
          SELECT d, v AS y,
                 CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS t
          FROM daily
        ), m AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(t AS HUGEINT)) AS st,
                 sum(CAST(y AS HUGEINT)) AS sy,
                 sum(CAST(t AS HUGEINT) * t) AS stt,
                 sum(CAST(t AS HUGEINT) * y) AS sty
          FROM rows_
        ), coef AS (
          SELECT n, st, n * stt - st * st AS sxx,
            CAST(sy * stt - st * sty AS DOUBLE)
              / (CASE WHEN CAST(n * stt - st * st AS DOUBLE) <> 0
                 THEN CAST(n * stt - st * st AS DOUBLE) END) AS a,
            CAST(n * sty - st * sy AS DOUBLE)
              / (CASE WHEN CAST(n * stt - st * st AS DOUBLE) <> 0
                 THEN CAST(n * stt - st * st AS DOUBLE) END) AS b
          FROM m
        ), wr AS (
          SELECT r.d, r.y, r.t, c.n, c.st, c.sxx, c.a, c.b,
                 CAST(r.y AS DOUBLE) - c.a - c.b * r.t AS e,
                 CAST(round(((CAST(r.y AS DOUBLE) - c.a - c.b * r.t)
                   * (CAST(r.y AS DOUBLE) - c.a - c.b * r.t)) * 1e6)
                   AS BIGINT) AS e2
          FROM rows_ r, coef c
        ), rssf AS (
          SELECT CAST(sum(e2) AS BIGINT) AS rss FROM wr
        )
        SELECT d AS bucket, y AS value, t,
               round(a + b * t, 6) AS fitted,
               round(e, 6) AS residual,
               round(1.0 / n + CAST((n * t - st) * (n * t - st)
                   AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)), 6)
                 AS leverage,
               CASE WHEN (CAST(rss AS DOUBLE) / 1e6) / (n - 2) > 0
               THEN round((e * e) * (1.0 / n
                   + CAST((n * t - st) * (n * t - st) AS DOUBLE)
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)))
                 / (2.0 * ((CAST(rss AS DOUBLE) / 1e6) / (n - 2))
                   * (1.0 - (1.0 / n
                     + CAST((n * t - st) * (n * t - st) AS DOUBLE)
                       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE))))
                   * (1.0 - (1.0 / n
                     + CAST((n * t - st) * (n * t - st) AS DOUBLE)
                       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE))))),
                 6) END AS cooks_d,
               CASE WHEN (CAST(rss AS DOUBLE) / 1e6) / (n - 2) > 0
               THEN ((e * e) * (1.0 / n
                   + CAST((n * t - st) * (n * t - st) AS DOUBLE)
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)))
                 / (2.0 * ((CAST(rss AS DOUBLE) / 1e6) / (n - 2))
                   * (1.0 - (1.0 / n
                     + CAST((n * t - st) * (n * t - st) AS DOUBLE)
                       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE))))
                   * (1.0 - (1.0 / n
                     + CAST((n * t - st) * (n * t - st) AS DOUBLE)
                       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)))))
                 > 4.0 / n) END AS influential
        FROM wr, rssf
        WHERE n > 2
        ORDER BY t
      """.trim),
      "X412 regression influence per day: leverage + Cook's D")(
      (spark, dir) => {
        import spark.implicits._
        val daily = events(spark, dir)
          .groupBy(to_date($"ts").cast("string").as("d"))
          .agg(count(lit(1)).cast("long").as("v"))
        TimeSeries.regressionInfluence(daily, "d", "v")
      }),

    // X413: Western Electric rules on the daily counts — the control-
    // chart alarm ladder beside q_cusum/q_page_hinkley.
    QueryDef(
      "q_we_rules",
      Some("""
        WITH daily AS (
          SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d,
                 CAST(count(*) AS BIGINT) AS v
          FROM events GROUP BY 1
        ), m AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(CAST(v AS HUGEINT)) AS s,
                 sum(CAST(v AS HUGEINT) * v) AS ss
          FROM daily
        ), coef AS (
          SELECT n, CAST(s AS DOUBLE) / n AS mu,
            CASE WHEN n > 1 AND (CAST(ss AS DOUBLE)
                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1)
                > 0
            THEN sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
              * CAST(s AS DOUBLE) / n) / (n - 1)) END AS sd
          FROM m
        ), j AS (
          SELECT d.d, d.v, c.mu, c.sd,
                 CAST(d.v AS DOUBLE) > c.mu + 3 * c.sd
                   OR CAST(d.v AS DOUBLE) < c.mu - 3 * c.sd AS b3,
                 CAST(d.v AS DOUBLE) > c.mu + 2 * c.sd AS h2,
                 CAST(d.v AS DOUBLE) < c.mu - 2 * c.sd AS l2,
                 CAST(d.v AS DOUBLE) > c.mu + 1 * c.sd AS h1,
                 CAST(d.v AS DOUBLE) < c.mu - 1 * c.sd AS l1,
                 CAST(d.v AS DOUBLE) > c.mu AS hm,
                 CAST(d.v AS DOUBLE) < c.mu AS lm
          FROM daily d, coef c
        ), wdw AS (
          SELECT d, v, mu, sd, b3,
            sum(CASE WHEN h2 THEN 1 ELSE 0 END) OVER w3 >= 2
              OR sum(CASE WHEN l2 THEN 1 ELSE 0 END) OVER w3 >= 2
              AS r2,
            sum(CASE WHEN h1 THEN 1 ELSE 0 END) OVER w5 >= 4
              OR sum(CASE WHEN l1 THEN 1 ELSE 0 END) OVER w5 >= 4
              AS r3,
            count(*) OVER w8 = 8 AND
              (sum(CASE WHEN hm THEN 1 ELSE 0 END) OVER w8 = 8
               OR sum(CASE WHEN lm THEN 1 ELSE 0 END) OVER w8 = 8)
              AS r4
          FROM j
          WINDOW w3 AS (ORDER BY d ROWS BETWEEN 2 PRECEDING
                        AND CURRENT ROW),
                 w5 AS (ORDER BY d ROWS BETWEEN 4 PRECEDING
                        AND CURRENT ROW),
                 w8 AS (ORDER BY d ROWS BETWEEN 7 PRECEDING
                        AND CURRENT ROW)
        )
        SELECT d AS bucket, v AS value,
               round((CAST(v AS DOUBLE) - mu) / sd, 6) AS z,
               b3 AS r1, r2, r3, r4,
               b3 OR r2 OR r3 OR r4 AS any_signal
        FROM wdw ORDER BY bucket
      """.trim),
      "X413 Western Electric rules on daily counts")(
      (spark, dir) => {
        import spark.implicits._
        val daily = events(spark, dir)
          .groupBy(to_date($"ts").cast("string").as("d"))
          .agg(count(lit(1)).cast("long").as("v"))
        TimeSeries.westernElectric(daily, "d", "v")
      }),

    // X403: PACF beside q_acf's ACF — Durbin-Levinson on the
    // pico-quantized autocorrelations, every φ re-quantized to the
    // grid so the recursion replays identically in the unrolled CTE.
    QueryDef(
      "q_pacf",
      Some(pacfSql(5)),
      "X403 partial autocorrelation (Durbin-Levinson), lags 1-5")(
      (spark, dir) => {
        import spark.implicits._
        val daily = events(spark, dir)
          .groupBy(to_date($"ts").as("d"))
          .agg(count(lit(1)).cast("long").as("v"))
        TimeSeries.pacf(daily, "d", "v", maxLag = 5)
      }),

    // X404: lag-1 Granger causality BOTH ways between the daily
    // purchase and view count series — integer-moment OLS via Cramer
    // determinants, residuals micro-quantized before the RSS fold.
    QueryDef(
      "q_granger",
      Some(("""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS d,
                 CAST(sum(CASE WHEN event_type = 'purchase'
                   THEN 1 ELSE 0 END) AS BIGINT) AS vp,
                 CAST(sum(CASE WHEN event_type = 'view'
                   THEN 1 ELSE 0 END) AS BIGINT) AS vv
          FROM events GROUP BY 1
        )""" +
        grangerDirSql("pv", "vv", "vp") +
        grangerDirSql("vp", "vp", "vv") + """
        SELECT direction, n, rss_r, rss_u, f_stat FROM (
          SELECT 'purchase->view' AS direction, n,
                 round(CAST(sr AS DOUBLE) / 1e6, 6) AS rss_r,
                 round(CAST(su AS DOUBLE) / 1e6, 6) AS rss_u,
                 CASE WHEN su > 0 AND n > 3 THEN
                   round(CAST(sr - su AS DOUBLE)
                     / (CAST(su AS DOUBLE) / (n - 3)), 6) END AS f_stat
          FROM rss_pv
          UNION ALL
          SELECT 'view->purchase', n,
                 round(CAST(sr AS DOUBLE) / 1e6, 6),
                 round(CAST(su AS DOUBLE) / 1e6, 6),
                 CASE WHEN su > 0 AND n > 3 THEN
                   round(CAST(sr - su AS DOUBLE)
                     / (CAST(su AS DOUBLE) / (n - 3)), 6) END
          FROM rss_vp
        ) ORDER BY direction
      """).trim),
      "X404 lag-1 Granger F both ways, purchase vs view dailies")(
      (spark, dir) => {
        import spark.implicits._
        val daily = events(spark, dir)
          .groupBy(to_date($"ts").as("d"))
          .agg(sum(when($"event_type" === "purchase", 1L)
              .otherwise(0L)).cast("long").as("vp"),
            sum(when($"event_type" === "view", 1L).otherwise(0L))
              .cast("long").as("vv"))
        val pv = TimeSeries.grangerLag1(daily, "d", "vv", "vp")
          .select(lit("purchase->view").as("direction"), $"n",
            $"rss_r", $"rss_u", $"f_stat")
        val vp = TimeSeries.grangerLag1(daily, "d", "vp", "vv")
          .select(lit("view->purchase").as("direction"), $"n",
            $"rss_r", $"rss_u", $"f_stat")
        pv.unionAll(vp).orderBy($"direction")
      }),

    // X405: ERR@5 of the brute-force cosine ranking under graded
    // label-distance relevance — the cascade-model companion to
    // q_ndcg; dyadic gains keep the whole metric an exact rational.
    QueryDef(
      "q_err",
      Some {
        val k = 5
        val base = 16L
        val l = 60L
        val num = (1 to k).map { i =>
          val pref = (1 until i).map(j => s"(16 - n$j)")
            .foldLeft("1")((a, b) => s"$a * $b")
          val scale = (0 until (k - i)).foldLeft(1L)((a, _) => a * base)
          s"n$i * $pref * $scale * ${l / i}"
        }.mkString(" + ")
        val den = (0 until k).foldLeft(1L)((a, _) => a * base) * l
        s"""
        WITH v AS (
          SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings
        ), q AS (SELECT * FROM v WHERE vec_id % 25 = 0),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 q.label AS ql, c.label AS nl,
                 list_dot_product(q.e, c.e) /
                 (sqrt(list_dot_product(q.e, q.e)) *
                  sqrt(list_dot_product(c.e, c.e))) AS cos
          FROM q JOIN v c ON q.vec_id <> c.vec_id
        ), topk AS (
          SELECT query_id, rank,
                 CAST(power(2, 4 - least(abs(ql - nl), 3)) AS BIGINT)
                   - 1 AS n
          FROM (
            SELECT query_id, ql, nl, cos,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY cos DESC, neighbor_id) AS rank
            FROM scored
          )
          WHERE rank <= $k
        ), piv AS (
          SELECT query_id, CAST(count(*) AS BIGINT) AS n_ranked,
                 ${(1 to k).map(i =>
                   s"coalesce(max(CASE WHEN rank = $i THEN n END), 0)" +
                   s" AS n$i").mkString(",\n                 ")}
          FROM topk GROUP BY query_id
        )
        SELECT query_id, n_ranked,
               CAST($num AS BIGINT) AS err_num,
               CAST($den AS BIGINT) AS err_den,
               round(CAST($num AS DOUBLE) / $den.0, 6) AS err
        FROM piv ORDER BY query_id
        """.trim
      },
      "X405 ERR@5 of cosine retrieval, graded label-distance gains")(
      (spark, dir) => {
        import spark.implicits._
        val emb = table(spark, dir, "embeddings")
        val lab = emb.select($"vec_id", $"label")
        val ranked = graft.operators.Similarity.bruteForceTopK(
          emb.filter($"vec_id" % 25 === 0), emb,
          "vec_id", "embedding", 5)
        val graded = ranked
          .join(lab.select($"vec_id".as("query_id"),
            $"label".as("__ql")), "query_id")
          .join(lab.select($"vec_id".as("neighbor_id"),
            $"label".as("__nl")), "neighbor_id")
          .withColumn("grade",
            lit(4) - least(abs($"__ql" - $"__nl"), lit(3)))
        RankEval.errAtK(graded, "query_id", "rank", "grade",
            k = 5, maxGrade = 4)
          .orderBy($"query_id")
      }),

    // X406: Yule's characteristic K per source — the repeated-vocab
    // concentration number (10⁴·(Σc²−N)/N², scale-invariant where
    // raw TTR is length-biased); exact integers end to end.
    QueryDef(
      "q_yule_k",
      Some("""
        WITH toks AS (
          SELECT source, unnest(list_filter(string_split_regex(
            lower(text), '\s+'), t -> t <> '')) AS tok
          FROM documents
        ), counts AS (
          SELECT source, tok, CAST(count(*) AS BIGINT) AS c
          FROM toks GROUP BY 1, 2
        ), agg AS (
          SELECT source,
                 CAST(sum(c) AS BIGINT) AS n_tokens,
                 CAST(count(*) AS BIGINT) AS n_types,
                 CAST(sum(c * c) AS BIGINT) AS m2
          FROM counts GROUP BY 1
        )
        SELECT source, n_tokens, n_types,
               CASE WHEN n_tokens > 0 THEN
                 round(10000.0 * CAST(m2 - n_tokens AS DOUBLE)
                   / (CAST(n_tokens AS DOUBLE)
                     * CAST(n_tokens AS DOUBLE)), 6) END AS yule_k
        FROM agg ORDER BY source
      """.trim),
      "X406 Yule's K vocabulary concentration per source")(
      (spark, dir) => {
        import spark.implicits._
        val toks = table(spark, dir, "documents")
          .select($"source",
            explode(filter(split(lower($"text"), "\\s+"),
              t => t =!= "")).as("tok"))
        val counts = toks.groupBy($"source", $"tok")
          .agg(count(lit(1)).cast("long").as("c"))
        counts.groupBy($"source")
          .agg(sum($"c").cast("long").as("n_tokens"),
            count(lit(1)).cast("long").as("n_types"),
            sum($"c" * $"c").cast("long").as("m2"))
          .select($"source", $"n_tokens", $"n_types",
            when($"n_tokens" > 0L,
              round(lit(10000.0) *
                ($"m2" - $"n_tokens").cast("double") /
                ($"n_tokens".cast("double") *
                  $"n_tokens".cast("double")), 6)).as("yule_k"))
          .orderBy($"source")
      }),

    // X407: 3-hop harmonic centrality of each supplier on the
    // customer-supplier bipartite graph of ONE quarter — H·6 =
    // 6n₁+3n₂+2n₃ is an exact integer (distances on a bipartite walk
    // alternate sides, so n₂ is suppliers-sharing-a-customer and n₃
    // is their other customers). The quarter filter keeps the graph
    // SPARSE: on the full history every supplier saturates to every
    // customer within 2 hops and the 3-hop candidate join goes
    // |S|·|C|-dense — the same reason one computes centrality on a
    // windowed interaction graph, not the all-time one.
    QueryDef(
      "q_harmonic",
      Some("""
        WITH adj AS (
          SELECT DISTINCT l.l_suppkey AS s, o.o_custkey AS c
          FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
          WHERE l.l_shipdate >= DATE '1997-01-01'
            AND l.l_shipdate < DATE '1997-04-01'
        ), n1 AS (
          SELECT s, CAST(count(*) AS BIGINT) AS n1 FROM adj GROUP BY 1
        ), d2 AS (
          SELECT DISTINCT a.s AS s, b.s AS s2
          FROM adj a JOIN adj b ON a.c = b.c AND a.s <> b.s
        ), n2 AS (
          SELECT s, CAST(count(*) AS BIGINT) AS n2 FROM d2 GROUP BY 1
        ), cand3 AS (
          SELECT DISTINCT d2.s, a2.c
          FROM d2 JOIN adj a2 ON a2.s = d2.s2
        ), d3 AS (
          SELECT c3.s, c3.c FROM cand3 c3
          LEFT JOIN adj a ON a.s = c3.s AND a.c = c3.c
          WHERE a.s IS NULL
        ), n3 AS (
          SELECT s, CAST(count(*) AS BIGINT) AS n3 FROM d3 GROUP BY 1
        )
        SELECT n1.s AS s_suppkey, n1.n1,
               coalesce(n2.n2, 0) AS n2, coalesce(n3.n3, 0) AS n3,
               CAST(6 * n1.n1 + 3 * coalesce(n2.n2, 0)
                 + 2 * coalesce(n3.n3, 0) AS BIGINT) AS harmonic6,
               round(CAST(6 * n1.n1 + 3 * coalesce(n2.n2, 0)
                 + 2 * coalesce(n3.n3, 0) AS DOUBLE) / 6.0, 6)
                 AS harmonic
        FROM n1
        LEFT JOIN n2 ON n2.s = n1.s
        LEFT JOIN n3 ON n3.s = n1.s
        ORDER BY s_suppkey
      """.trim),
      "X407 3-hop harmonic centrality per supplier, bipartite graph")(
      (spark, dir) => {
        import spark.implicits._
        val adj = Materialize.share(table(spark, dir, "orders")
          .join(table(spark, dir, "lineitem")
              .filter($"l_shipdate" >= lit("1997-01-01")
                .cast("timestamp") &&
                $"l_shipdate" < lit("1997-04-01").cast("timestamp")),
            $"l_orderkey" === $"o_orderkey")
          .select($"l_suppkey".as("s"), $"o_custkey".as("c"))
          .distinct())
        val n1 = adj.groupBy($"s")
          .agg(count(lit(1)).cast("long").as("n1"))
        val d2 = adj.as("a").join(adj.as("b"),
            col("a.c") === col("b.c") && col("a.s") =!= col("b.s"))
          .select(col("a.s").as("s"), col("b.s").as("s2"))
          .distinct()
        val n2 = d2.groupBy($"s")
          .agg(count(lit(1)).cast("long").as("n2"))
        val cand3 = d2.join(adj.select($"s".as("s2"), $"c"), Seq("s2"))
          .select($"s", $"c").distinct()
        val d3 = cand3.join(adj, Seq("s", "c"), "left_anti")
        val n3 = d3.groupBy($"s")
          .agg(count(lit(1)).cast("long").as("n3"))
        val h6 = lit(6L) * $"n1" + lit(3L) * coalesce($"n2", lit(0L)) +
          lit(2L) * coalesce($"n3", lit(0L))
        n1.join(n2, Seq("s"), "left").join(n3, Seq("s"), "left")
          .select($"s".as("s_suppkey"), $"n1",
            coalesce($"n2", lit(0L)).as("n2"),
            coalesce($"n3", lit(0L)).as("n3"),
            h6.cast("long").as("harmonic6"),
            round(h6.cast("double") / 6.0, 6).as("harmonic"))
          .orderBy($"s_suppkey")
      }),
  )
}