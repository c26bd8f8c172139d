package graft.queries

import org.apache.spark.sql.functions._

import graft.Materialize
import graft.queries.QueryDef.table

/** Table-stakes OLAP operators beyond the reference surface — pivot,
  * multi-level rollup, exact quantiles — so a user migrating any
  * analytics workload onto this engine finds them first-class and
  * oracle-verified.
  */
object OlapQueries {

  val defs: Seq[QueryDef] = Seq(

    // Pivot: per-user event counts, event types as columns. The plan
    // is ONE aggregation (Spark pivots in a single groupBy with
    // pivot-value partial aggregates — no per-column scans); pivot
    // values are declared, which at scale is mandatory (an undeclared
    // pivot needs a distinct-values pre-query).
    QueryDef(
      "q_pivot_event_counts",
      Some("""
        SELECT user_id,
          CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
          CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
          CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
          CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
          CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        FROM events
        GROUP BY user_id
        ORDER BY user_id
      """.trim),
      "pivot: per-user event-type count matrix")(
      (spark, dir) => {
        import spark.implicits._
        QueryDef.events(spark, dir)
          .groupBy($"user_id")
          .pivot("event_type",
            Seq("click", "error", "purchase", "signup", "view"))
          .agg(coalesce(count(lit(1)), lit(0L)))
          .na.fill(0L)
          .orderBy($"user_id")
      }),

    // Rollup: order totals at (status, priority), (status), and grand
    // -total levels in one pass — Spark expands grouping sets inside
    // a single shuffle with partial aggregation per set.
    QueryDef(
      "q_order_rollup",
      Some("""
        SELECT o_orderstatus AS status, o_orderpriority AS priority,
               count(*) AS n,
               round(CAST(sum(CAST(o_totalprice AS DECIMAL(20,6))) AS DOUBLE), 2)
                 AS total_price
        FROM orders
        GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        ORDER BY status NULLS FIRST, priority NULLS FIRST
      """.trim),
      "rollup: order totals at three grouping levels in one pass")(
      (spark, dir) => {
        import spark.implicits._
        QueryDef.table(spark, dir, "orders")
          .rollup($"o_orderstatus".as("status"),
            $"o_orderpriority".as("priority"))
          .agg(count(lit(1)).as("n"),
            round(sum($"o_totalprice".cast("decimal(20,6)")).cast("double"), 2)
              .as("total_price"))
          .orderBy($"status".asc_nulls_first, $"priority".asc_nulls_first)
      }),

    // Cube: all four grouping combinations of (status, priority) in
    // one pass — same grouping-sets machinery as rollup, 2ⁿ sets.
    QueryDef(
      "q_order_cube",
      Some("""
        SELECT o_orderstatus AS status, o_orderpriority AS priority,
               count(*) AS n
        FROM orders
        GROUP BY CUBE(o_orderstatus, o_orderpriority)
        ORDER BY status NULLS FIRST, priority NULLS FIRST
      """.trim),
      "cube: order counts across every grouping combination")(
      (spark, dir) => {
        import spark.implicits._
        QueryDef.table(spark, dir, "orders")
          .cube($"o_orderstatus".as("status"),
            $"o_orderpriority".as("priority"))
          .agg(count(lit(1)).as("n"))
          .orderBy($"status".asc_nulls_first, $"priority".asc_nulls_first)
      }),

    // Set difference over NESTED deterministic samples: the 20% md5
    // sample minus the 10% sample must be exactly the hash band
    // [10%, 20%) — EXCEPT on one side, a closed-form predicate on the
    // oracle side. Verifies both the set operator and the sampler's
    // nesting guarantee in one query.
    QueryDef(
      "q_sample_band_except",
      Some(s"""
        SELECT doc_id
        FROM documents
        WHERE CAST(('0x' || substr(md5('s1' || text), 1, 8)) AS BIGINT)
              >= ${math.round(0.1 * 4294967296.0)}
          AND CAST(('0x' || substr(md5('s1' || text), 1, 8)) AS BIGINT)
              < ${math.round(0.2 * 4294967296.0)}
        ORDER BY doc_id
      """.trim),
      "EXCEPT of nested samples == the closed-form hash band")(
      (spark, dir) => {
        import spark.implicits._
        import graft.operators.CorpusOps
        val docs = QueryDef.table(spark, dir, "documents")
        CorpusOps.hashSample(docs, "text", 0.2, "s1").select($"doc_id")
          .except(
            CorpusOps.hashSample(docs, "text", 0.1, "s1").select($"doc_id"))
          .orderBy($"doc_id")
      }),

    // Exact quantiles per event type: Spark `percentile` and DuckDB
    // `quantile_cont` both use linear interpolation over the sorted
    // values — identical doubles, rounded for belt-and-braces. The
    // scale path swaps in approx_percentile (t-digest, no full sort);
    // the exact form is the oracle-able twin, same pairing as
    // HLL/countDistinct.
    QueryDef(
      "q_value_quantiles",
      Some("""
        SELECT event_type,
               round(quantile_cont(value, 0.25), 6) AS p25,
               round(quantile_cont(value, 0.5), 6) AS p50,
               round(quantile_cont(value, 0.75), 6) AS p75,
               round(quantile_cont(value, 0.95), 6) AS p95
        FROM events
        GROUP BY event_type
        ORDER BY event_type
      """.trim),
      "exact per-group quantiles (linear interpolation)")(
      (spark, dir) => {
        import spark.implicits._
        QueryDef.events(spark, dir)
          .groupBy($"event_type")
          .agg(
            round(percentile($"value", lit(0.25)), 6).as("p25"),
            round(percentile($"value", lit(0.5)), 6).as("p50"),
            round(percentile($"value", lit(0.75)), 6).as("p75"),
            round(percentile($"value", lit(0.95)), 6).as("p95"))
          .orderBy($"event_type")
      }),

    // The 100 TB quantile path: approx_percentile (t-digest-style
    // sketch, partial-aggregatable, no per-group sort). Rows-only for
    // the driver (sketch values aren't SQL-reproducible); OlapSpec
    // bounds its error against the exact twin, the same pairing as
    // HLL vs countDistinct.
    QueryDef(
      "q_approx_quantiles",
      None,
      "approximate per-group quantiles (sketch; exact twin above)")(
      (spark, dir) => {
        import spark.implicits._
        QueryDef.events(spark, dir)
          .groupBy($"event_type")
          .agg(approx_percentile($"value", lit(0.5), lit(1000)).as("p50"),
            approx_percentile($"value", lit(0.95), lit(1000)).as("p95"))
          .orderBy($"event_type")
      }),

    // Funnel: users progressing view → click → purchase with
    // first-touch ordering (each step at-or-after the previous
    // step's first time). One filtered aggregate per step, frames
    // shrink monotonically — no full-stream window.
    QueryDef(
      "q_funnel",
      Some("""
        WITH s1 AS (
          SELECT user_id, min(ts) AS t1 FROM events
          WHERE event_type = 'view' GROUP BY user_id
        ), s2 AS (
          SELECT e.user_id, min(e.ts) AS t2
          FROM events e JOIN s1 USING (user_id)
          WHERE e.event_type = 'click' AND e.ts >= s1.t1
            AND e.ts <= s1.t1 + INTERVAL 12 HOUR
          GROUP BY e.user_id
        ), s3 AS (
          SELECT e.user_id, min(e.ts) AS t3
          FROM events e JOIN s2 USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
            AND e.ts <= s2.t2 + INTERVAL 12 HOUR
          GROUP BY e.user_id
        )
        SELECT (SELECT count(*) FROM s1) AS n_view,
               (SELECT count(*) FROM s2) AS n_click,
               (SELECT count(*) FROM s3) AS n_purchase
      """.trim),
      "funnel: view -> click -> purchase within 12h conversion windows")(
      (spark, dir) => {
        import spark.implicits._
        graft.operators.Funnel.counts(
          QueryDef.events(spark, dir), "user_id", "ts",
          Seq(
            ("view", $"event_type" === "view"),
            ("click", $"event_type" === "click"),
            ("purchase", $"event_type" === "purchase")),
          maxGapMicros = Some(12L * 3600 * 1000000))
      }),

    // Semi-structured extraction: parse the JSON props column with a
    // declared schema (from_json — codegen'd Jackson parse, no UDF)
    // and aggregate the extracted field. Declared schemas are the
    // 100 TB rule: schema inference would need a pre-pass over the
    // data.
    QueryDef(
      "q_json_props",
      Some("""
        SELECT event_type, count(*) AS n,
               min(CAST(props->>'k' AS BIGINT)) AS min_k,
               max(CAST(props->>'k' AS BIGINT)) AS max_k,
               CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
               count(DISTINCT CAST(props->>'k' AS BIGINT)) AS n_k
        FROM events
        GROUP BY event_type
        ORDER BY event_type
      """.trim),
      "JSON field extraction from props + integer aggregates")(
      (spark, dir) => {
        import spark.implicits._
        QueryDef.events(spark, dir)
          .withColumn("k", from_json($"props",
            org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
            .getField("k"))
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n"), min($"k").as("min_k"),
            max($"k").as("max_k"), sum($"k").as("sum_k"),
            count_distinct($"k").as("n_k"))
          .orderBy($"event_type")
      }),

    // Fixed-width histogram — the one-pass binning staple: bin id is
    // a pure scan-stage expression, the aggregate is map-side
    // combined, output is ∝ bins regardless of input size.
    QueryDef(
      "q_histogram",
      Some("""
        SELECT CAST(floor(value / 50) AS BIGINT) AS bin,
               count(*) AS n,
               round(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE), 2)
                 AS sum_value
        FROM events
        GROUP BY 1
        ORDER BY bin
      """.trim),
      "fixed-width value histogram (50-unit bins)")(
      (spark, dir) => {
        import spark.implicits._
        QueryDef.events(spark, dir)
          .groupBy(floor($"value" / 50).cast("long").as("bin"))
          .agg(count(lit(1)).as("n"),
            round(sum($"value".cast("decimal(20,6)")).cast("double"), 2)
              .as("sum_value"))
          .orderBy($"bin")
      }),

    // Winsorization (outlier clipping at per-group p05/p95) — the
    // data-cleaning staple. Plan shape is the 100 TB one: percentile
    // boundaries per group (small), broadcast-joined back onto the
    // stream; the oracle computes the identical boundaries with a
    // window form (same linear-interpolation values).
    QueryDef(
      "q_winsorize",
      Some("""
        SELECT event_id,
               round(least(greatest(value,
                 quantile_cont(value, 0.05)
                   OVER (PARTITION BY event_type)),
                 quantile_cont(value, 0.95)
                   OVER (PARTITION BY event_type)), 3) AS clipped
        FROM events
        ORDER BY event_id
      """.trim),
      "winsorize values at per-type p05/p95 (broadcast boundaries)")(
      (spark, dir) => {
        import spark.implicits._
        val ev = QueryDef.events(spark, dir)
        val bounds = ev.groupBy($"event_type")
          .agg(percentile($"value", lit(0.05)).as("p05"),
            percentile($"value", lit(0.95)).as("p95"))
        ev.join(broadcast(bounds), "event_type")
          .select($"event_id",
            round(least(greatest($"value", $"p05"), $"p95"), 3)
              .as("clipped"))
          .orderBy($"event_id")
      }),

    // Time-series resample: hourly buckets per user with event count
    // and forward-filled last value — empty buckets materialized
    // between each user's first and last active hour. (user, µs-ts)
    // is unique in the data, so arg_max/max_by last-value picks are
    // deterministic and identical across engines.
    QueryDef(
      "q_resample",
      Some("""
        WITH b AS (
          SELECT user_id, date_trunc('hour', ts) AS bucket,
                 count(*) AS n_events, arg_max(value, ts) AS last_value
          FROM events GROUP BY 1, 2
        ), grid AS (
          SELECT user_id,
                 unnest(generate_series(min(bucket), max(bucket),
                                        INTERVAL 1 HOUR)) AS bucket
          FROM b GROUP BY user_id
        )
        SELECT g.user_id, CAST(epoch_us(g.bucket) AS BIGINT) AS bucket_us,
               coalesce(b.n_events, 0) AS n_events,
               round(last_value(b.last_value IGNORE NULLS)
                 OVER (PARTITION BY g.user_id ORDER BY g.bucket), 3)
                 AS filled
        FROM grid g LEFT JOIN b USING (user_id, bucket)
        ORDER BY user_id, bucket_us
      """.trim),
      "hourly resample per user: counts + forward-filled last value")(
      (spark, dir) => {
        import spark.implicits._
        graft.operators.TimeSeries.resampleFfill(
            QueryDef.events(spark, dir), "user_id", "ts", "value", "hour")
          .select($"user_id", unix_micros($"bucket").as("bucket_us"),
            $"n_events", round($"filled", 3).as("filled"))
          .orderBy($"user_id", $"bucket_us")
      }),

    // Correlation + least-squares regression from DECIMAL moments:
    // n, Σx, Σy, Σxy, Σx², Σy² accumulate exactly (order-independent
    // decimal sums), then the corr/slope/intercept formulas run in
    // double over those exact sums — the same IEEE expression on both
    // engines, so results match bit-for-bit before rounding. The
    // built-in `corr()` (double running accumulation) is the noisy
    // twin this replaces for oracle-exact work.
    QueryDef(
      "q_corr_regression",
      Some("""
        WITH m AS (
          SELECT l_returnflag,
                 count(*) AS n,
                 sum(CAST(l_quantity AS DECIMAL(18,6))) AS sx,
                 sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS sy,
                 sum(CAST(l_quantity AS DECIMAL(19,6)) *
                     CAST(l_extendedprice AS DECIMAL(19,6))) AS sxy,
                 sum(CAST(l_quantity AS DECIMAL(19,6)) *
                     CAST(l_quantity AS DECIMAL(19,6))) AS sxx,
                 sum(CAST(l_extendedprice AS DECIMAL(19,6)) *
                     CAST(l_extendedprice AS DECIMAL(19,6))) AS syy
          FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, n,
               round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
                 AS corr_qty_price,
               round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
                 AS slope,
               round((CAST(sy AS DOUBLE)
                      - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                         / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                        * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
                 AS intercept
        FROM m ORDER BY l_returnflag
      """.trim),
      "exact corr + regression of quantity vs price per returnflag")(
      (spark, dir) => {
        import spark.implicits._
        val qd = $"l_quantity".cast("decimal(18,6)")
        val pd = $"l_extendedprice".cast("decimal(18,6)")
        val m = table(spark, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n"), sum(qd).as("sx"), sum(pd).as("sy"),
            sum(qd * pd).as("sxy"), sum(qd * qd).as("sxx"),
            sum(pd * pd).as("syy"))
        val (n, sx, sy) =
          ($"n".cast("double"), $"sx".cast("double"), $"sy".cast("double"))
        val (sxy, sxx, syy) =
          ($"sxy".cast("double"), $"sxx".cast("double"), $"syy".cast("double"))
        val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        m.select($"l_returnflag", $"n",
            round((n * sxy - sx * sy) /
              (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
              .as("corr_qty_price"),
            round(slope, 6).as("slope"),
            round((sy - slope * sx) / n, 6).as("intercept"))
          .orderBy($"l_returnflag")
      }),

    // Analytic window-function suite over the per-user event stream:
    // lag delta, ntile quartile, percent_rank, cume_dist — one
    // window shuffle (partition by user), total order via (ts,
    // event_id). percent_rank/cume_dist are rationals of row counts,
    // identical doubles in any engine; the lag delta subtracts two
    // stored doubles — also engine-invariant.
    QueryDef(
      "q_window_funcs",
      Some("""
        SELECT event_id, user_id,
               round(value - lag(value) OVER w, 3) AS delta,
               ntile(4) OVER w AS quartile,
               round(percent_rank() OVER w, 6) AS pr,
               round(cume_dist() OVER w, 6) AS cd
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ORDER BY event_id
      """.trim),
      "window suite: lag delta, ntile, percent_rank, cume_dist")(
      (spark, dir) => {
        import spark.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"user_id").orderBy($"ts", $"event_id")
        QueryDef.events(spark, dir)
          .select($"event_id", $"user_id",
            round($"value" - lag($"value", 1).over(w), 3).as("delta"),
            ntile(4).over(w).as("quartile"),
            round(percent_rank().over(w), 6).as("pr"),
            round(cume_dist().over(w), 6).as("cd"))
          .orderBy($"event_id")
      }),

    // X112: rolling z-score anomaly flags — each event vs its user's
    // trailing-20 window. Values quantize to integer centi-units
    // before the windowed sums, so mean/var/z — and therefore the
    // anomaly FLAGS, which a 1-ulp drift could flip at the threshold
    // — are bit-identical cross-engine in any accumulation order.
    QueryDef(
      "q_anomaly",
      Some("""
        WITH q AS (
          SELECT event_id, user_id, ts, value,
                 CAST(round(value * 100, 0) AS BIGINT) AS qv
          FROM events
        ), w AS (
          SELECT event_id, user_id, value, qv,
                 CAST(count(qv) OVER win AS BIGINT) AS n_ref,
                 CAST(sum(qv) OVER win AS BIGINT) AS s1,
                 CAST(sum(qv * qv) OVER win AS BIGINT) AS s2
          FROM q
          WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
        )
        SELECT event_id, user_id, value, n_ref,
               CASE WHEN n_ref >= 10 AND s2 - s1 * s1 / n_ref > 0
                    THEN round((qv - s1 / n_ref)
                      / sqrt((s2 - s1 * s1 / n_ref) / n_ref), 6)
               END AS z,
               coalesce(CASE WHEN n_ref >= 10 AND s2 - s1 * s1 / n_ref > 0
                    THEN abs((qv - s1 / n_ref)
                      / sqrt((s2 - s1 * s1 / n_ref) / n_ref)) > 3.0
               END, false) AS is_anomaly
        FROM w
        ORDER BY event_id
      """.trim),
      "X112 rolling z-score anomaly flags (trailing-20 per user)")(
      (spark, dir) => {
        import spark.implicits._
        graft.operators.TimeSeries.rollingZScore(
            QueryDef.events(spark, dir), "user_id", "ts", "event_id",
            "value", lookback = 20, minN = 10, threshold = 3.0)
          .orderBy($"event_id")
      }),

    // X132: Hilbert clustering key over the same (partkey, suppkey)
    // grid as q_zorder_key — the oracle unrolls the 16-level quadrant
    // walk as a CTE chain, so every rotation/flip replays exactly.
    QueryDef(
      "q_hilbert_key",
      Some {
        val steps = (0 until 16).map { i =>
          val sb = 1L << (15 - i)
          val s2 = sb * sb
          s""", h${i + 1} AS (
          SELECT l_orderkey, l_linenumber,
            CASE WHEN (y & $sb) > 0 THEN x
                 WHEN (x & $sb) > 0 THEN $sb - 1 - y
                 ELSE y END AS x,
            CASE WHEN (y & $sb) > 0 THEN y
                 WHEN (x & $sb) > 0 THEN $sb - 1 - x
                 ELSE x END AS y,
            d + $s2 * (CASE WHEN (x & $sb) = 0 AND (y & $sb) = 0 THEN 0
                            WHEN (x & $sb) = 0 THEN 1
                            WHEN (y & $sb) > 0 THEN 2
                            ELSE 3 END) AS d
          FROM h$i)"""
        }.mkString
        s"""
        WITH h0 AS (
          SELECT l_orderkey, l_linenumber,
                 CAST(l_partkey % 65536 AS BIGINT) AS x,
                 CAST(l_suppkey % 65536 AS BIGINT) AS y,
                 CAST(0 AS BIGINT) AS d
          FROM lineitem
        )$steps
        SELECT l_orderkey, l_linenumber, d AS hkey
        FROM h16
        ORDER BY hkey, l_orderkey, l_linenumber
        """.trim
      },
      "X132 Hilbert clustering key (16-level quadrant walk)")(
      (spark, dir) => {
        import spark.implicits._
        val hk = graft.operators.ZOrder.hilbertKeyUdf(16)
        table(spark, dir, "lineitem")
          .select($"l_orderkey", $"l_linenumber",
            hk($"l_partkey" % 65536, $"l_suppkey" % 65536).as("hkey"))
          .orderBy($"hkey", $"l_orderkey", $"l_linenumber")
      }),

    // X130: DAU/WAU active-user trend — exact trailing-7-day distinct
    // via the bounded coverage explode (no windowed count_distinct
    // exists in any engine). Integer counts → hash-exact.
    QueryDef(
      "q_active_trend",
      Some("""
        WITH act AS (
          SELECT DISTINCT user_id,
                 CAST(date_trunc('day', ts) AS DATE) AS d
          FROM events
        ), dau AS (
          SELECT d AS day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
          FROM act GROUP BY 1
        ), cover AS (
          SELECT user_id, CAST(d + o * INTERVAL 1 DAY AS DATE) AS day
          FROM act, unnest(range(0, 7)) AS u(o)
        ), wau AS (
          SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
          FROM cover GROUP BY 1
        )
        SELECT dau.day, dau.dau, wau.wau,
               round(CAST(dau.dau AS DOUBLE) / wau.wau, 6) AS stickiness
        FROM dau JOIN wau USING (day)
        ORDER BY day
      """.trim),
      "X130 DAU / trailing-7-day WAU / stickiness per activity day")(
      (spark, dir) => {
        import spark.implicits._
        graft.operators.Funnel.activeUserTrend(
            QueryDef.events(spark, dir), "user_id", "ts")
          .orderBy($"day")
      }),

    // X129: persistable mergeable HLL sketch table — full hash oracle
    // (r13): the portable register HLL hashes with the md5-head
    // sampling idiom, takes per-(group, register) max-ρ, and
    // estimates in pure integer arithmetic with pinned constants
    // (see Hll.scala), so DuckDB replays registers AND estimates
    // bit-exactly. Error bound and part-vs-whole merge equality are
    // spec-asserted in ChunkingWaveSpec.
    QueryDef(
      "q_hll_snapshots",
      Some {
        val (sSql, vSql) = graft.operators.Hll.duckSvSql()
        s"""
        WITH mx AS (${graft.operators.Hll.duckRegistersSql(
          "events", "event_type", "user_id")}
        ), agg AS (
          SELECT g AS event_type, $sSql AS s, $vSql AS v
          FROM mx GROUP BY g
        )
        SELECT event_type,
               ${graft.operators.Hll.duckEstimateSql("s", "v")} AS estimate
        FROM agg ORDER BY event_type
        """.trim
      },
      "X129 per-event-type HLL sketch estimates (mergeable snapshots)")(
      (spark, dir) => {
        import spark.implicits._
        graft.operators.Hll.groupSketches(
            QueryDef.events(spark, dir), "event_type", "user_id")
          .select($"event_type", $"estimate")
          .orderBy($"event_type")
      }),

    // X125: retention cohort matrix — users cohort by first-seen day;
    // each (cohort, offset) cell counts distinct members active that
    // many days later. Integer counts + day arithmetic → hash-exact.
    QueryDef(
      "q_retention_cohorts",
      Some("""
        WITH fs AS (
          SELECT user_id, date_trunc('day', min(ts)) AS cohort
          FROM events GROUP BY 1
        ), act AS (
          SELECT DISTINCT user_id, date_trunc('day', ts) AS b FROM events
        ), cells AS (
          SELECT f.cohort,
                 CAST(date_diff('day', f.cohort, a.b) AS BIGINT)
                   AS "offset",
                 CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
          FROM act a JOIN fs f USING (user_id)
          GROUP BY 1, 2
        ), sizes AS (
          SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size
          FROM fs GROUP BY 1
        )
        SELECT c.cohort, c."offset", s.cohort_size, c.n_active,
               round(CAST(c.n_active AS DOUBLE) / s.cohort_size, 6)
                 AS retention
        FROM cells c JOIN sizes s USING (cohort)
        ORDER BY c.cohort, c."offset"
      """.trim),
      "X125 daily retention cohort matrix with rates")(
      (spark, dir) => {
        import spark.implicits._
        graft.operators.Funnel.retentionCohorts(
            QueryDef.events(spark, dir), "user_id", "ts", grain = "day")
          .orderBy($"cohort", $"offset")
      }),

    // X124: SCD2 interval compaction — per user, consecutive
    // same-event_type runs collapse to validity intervals (the
    // gaps-and-islands warehouse materialization). Pure
    // integer/timestamp arithmetic, hash-exact.
    QueryDef(
      "q_scd2_intervals",
      Some("""
        WITH f AS (
          SELECT user_id, ts, event_id, event_type,
                 CASE WHEN lag(event_type) OVER w
                           IS DISTINCT FROM event_type
                      THEN 1 ELSE 0 END AS nw
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), r AS (
          SELECT *, CAST(sum(nw) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                 AS BIGINT) AS run
          FROM f
        ), g AS (
          SELECT user_id, run, event_type, min(ts) AS valid_from,
                 CAST(count(*) AS BIGINT) AS n_events
          FROM r GROUP BY 1, 2, 3
        )
        SELECT user_id, event_type, valid_from,
               lead(valid_from) OVER (PARTITION BY user_id
                 ORDER BY run) AS valid_to,
               n_events
        FROM g
        ORDER BY user_id, valid_from
      """.trim),
      "X124 SCD2 interval compaction per user (gaps-and-islands)")(
      (spark, dir) => {
        import spark.implicits._
        graft.operators.TimeSeries.compactIntervals(
            QueryDef.events(spark, dir), "user_id", "ts", "event_id",
            "event_type")
          .orderBy($"user_id", $"valid_from")
      }),

    // Z-order (Morton) clustering key: bit-interleave two dimension
    // keys so one sort column preserves locality in both — the
    // multi-dimensional file-skipping layout (ZOrder.cluster writes
    // it; ZOrderSpec measures the pruning win on real file spans).
    // Pure shift/mask integer arithmetic, so the oracle replays the
    // identical five spread steps and the key hash-matches bit for
    // bit. 16-bit bins keep every intermediate below DuckDB's
    // overflow-checked bit 63.
    QueryDef(
      "q_zorder_key",
      Some("""
        WITH src AS (
          SELECT l_orderkey, l_linenumber,
                 l_partkey % 65536 AS a, l_suppkey % 65536 AS b
          FROM lineitem
        ), t1 AS (
          SELECT * REPLACE ((a | (a << 16)) & 281470681808895 AS a,
                            (b | (b << 16)) & 281470681808895 AS b) FROM src
        ), t2 AS (
          SELECT * REPLACE ((a | (a << 8)) & 71777214294589695 AS a,
                            (b | (b << 8)) & 71777214294589695 AS b) FROM t1
        ), t3 AS (
          SELECT * REPLACE ((a | (a << 4)) & 1085102592571150095 AS a,
                            (b | (b << 4)) & 1085102592571150095 AS b) FROM t2
        ), t4 AS (
          SELECT * REPLACE ((a | (a << 2)) & 3689348814741910323 AS a,
                            (b | (b << 2)) & 3689348814741910323 AS b) FROM t3
        ), t5 AS (
          SELECT * REPLACE ((a | (a << 1)) & 6148914691236517205 AS a,
                            (b | (b << 1)) & 6148914691236517205 AS b) FROM t4
        )
        SELECT l_orderkey, l_linenumber, a | (b << 1) AS zkey
        FROM t5
        ORDER BY zkey, l_orderkey, l_linenumber
      """.trim),
      "Morton key of (l_partkey, l_suppkey) 16-bit bins per lineitem")(
      (spark, dir) => {
        import spark.implicits._
        import graft.operators.ZOrder
        table(spark, dir, "lineitem")
          .select($"l_orderkey", $"l_linenumber",
            ZOrder.interleave2($"l_partkey" % 65536L, $"l_suppkey" % 65536L)
              .as("zkey"))
          .orderBy($"zkey", $"l_orderkey", $"l_linenumber")
      }),

    // Exact quantiles WITHOUT a sort: binary search on the value
    // domain, one pushed-down count per step (Quantiles.exactQuantile)
    // — the contract-grade exact path where approx_percentile's rank
    // error is unacceptable and `percentile`'s per-group sort is
    // unpayable. Oracle replays the rank definition with one
    // cumulative-count window.
    QueryDef(
      "q_exact_quantile_scan",
      Some("""
        WITH t AS (
          SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders
        ), tot AS (SELECT count(*) AS total FROM t),
        o AS (
          SELECT v, sum(cnt) OVER (ORDER BY v) AS cum
          FROM (SELECT v, count(*) AS cnt FROM t GROUP BY v)
        )
        SELECT (SELECT total FROM tot) AS n,
               (SELECT min(v) FROM o
                WHERE cum >= ceil(0.5 * (SELECT total FROM tot)))
                 AS median_cents,
               (SELECT min(v) FROM o
                WHERE cum >= ceil(0.9 * (SELECT total FROM tot)))
                 AS p90_cents
      """.trim),
      "exact median/p90 of order totals by domain bisection")(
      (spark, dir) => Materialize.scoped { keep =>
        import spark.implicits._
        import graft.operators.Quantiles
        // keep the skinny value column: every bisection pass counts
        // it, so the search never re-reads storage
        val vals = keep(table(spark, dir, "orders")
          .select(round($"o_totalprice" * 100).cast("long").as("v")))
        val n = vals.count()
        val median = Quantiles.exactQuantile(vals, "v", 0.5)
        val p90 = Quantiles.exactQuantile(vals, "v", 0.9)
        Seq((n, median, p90)).toDF("n", "median_cents", "p90_cents")
      }),

    // Grouped exact quantiles, same sort-free refinement: every group
    // narrows in the SAME histogram passes (broadcast bounds join),
    // so per-language medians cost the widest group's pass count,
    // not a per-group sort or Σ-groups passes.
    QueryDef(
      "q_exact_quantile_by_group",
      Some("""
        WITH t AS (SELECT lang, n_chars AS v FROM documents),
        tot AS (SELECT lang, count(*) AS total FROM t GROUP BY lang),
        o AS (
          SELECT lang, v, sum(cnt) OVER (PARTITION BY lang ORDER BY v)
                 AS cum
          FROM (SELECT lang, v, count(*) AS cnt FROM t GROUP BY lang, v)
        )
        SELECT o.lang, min(v) AS quantile
        FROM o JOIN tot USING (lang)
        WHERE cum >= ceil(0.5 * total)
        GROUP BY o.lang
        ORDER BY lang
      """.trim),
      "per-language exact median doc length, sort-free refinement")(
      (spark, dir) => {
        import spark.implicits._
        import graft.operators.Quantiles
        Quantiles.exactQuantileByGroup(
            table(spark, dir, "documents")
              .select($"lang", $"n_chars".as("v")),
            "lang", "v", q = 0.5)
          .orderBy($"lang")
      }),

    // X70: robust MAD outlier flags per language — median and MAD by
    // sort-free grouped refinement, the comparison in pure 64-bit
    // integers end to end (no distribution assumptions, no floats) —
    // the quantile machinery's production consumer.
    QueryDef(
      "q_mad_outliers",
      Some("""
        WITH t AS (SELECT doc_id, lang, n_chars FROM documents),
        tot AS (SELECT lang, count(*) AS total FROM t GROUP BY lang),
        o AS (
          SELECT lang, n_chars,
                 sum(cnt) OVER (PARTITION BY lang ORDER BY n_chars) AS cum
          FROM (SELECT lang, n_chars, count(*) AS cnt
                FROM t GROUP BY lang, n_chars)
        ), med AS (
          SELECT o.lang, min(n_chars) AS med
          FROM o JOIN tot USING (lang)
          WHERE cum >= ceil(0.5 * total) GROUP BY o.lang
        ), d AS (
          SELECT t.doc_id, t.lang, t.n_chars, med.med,
                 abs(t.n_chars - med.med) AS dev
          FROM t JOIN med USING (lang)
        ), dtot AS (SELECT lang, count(*) AS total FROM d GROUP BY lang),
        do_ AS (
          SELECT lang, dev,
                 sum(cnt) OVER (PARTITION BY lang ORDER BY dev) AS cum
          FROM (SELECT lang, dev, count(*) AS cnt FROM d GROUP BY lang, dev)
        ), mad AS (
          SELECT do_.lang, min(dev) AS mad
          FROM do_ JOIN dtot USING (lang)
          WHERE cum >= ceil(0.5 * total) GROUP BY do_.lang
        )
        SELECT d.doc_id, d.lang, d.n_chars, d.med, mad.mad,
               d.dev > 3 * mad.mad AS is_outlier
        FROM d JOIN mad USING (lang)
        ORDER BY doc_id
      """.trim),
      "X70 per-language MAD outlier flags, integer-exact")(
      (spark, dir) => {
        import spark.implicits._
        import graft.operators.Quantiles
        Quantiles.madOutliers(
            table(spark, dir, "documents")
              .select($"doc_id", $"lang", $"n_chars"),
            "doc_id", "lang", "n_chars", c = 3L)
          .orderBy($"doc_id")
      }),

    // Manifest-pruned range read (SkippingIndex): plan the scan from
    // a per-file min/max manifest, open only intersecting files,
    // re-apply the exact predicate — result equals the plain WHERE
    // for any layout (the spec proves the file-skipping win on a
    // z-clustered multi-file table; the driver table may be one file,
    // where pruning is a no-op and equality still must hold).
    QueryDef(
      "q_manifest_prune",
      Some("""
        SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey
        FROM lineitem
        WHERE l_partkey BETWEEN 500 AND 700
          AND l_suppkey BETWEEN 10 AND 60
        ORDER BY l_orderkey, l_linenumber
      """.trim),
      "range read planned via the per-file min/max skipping manifest")(
      (spark, dir) => {
        import spark.implicits._
        import graft.sources.SkippingIndex
        val path = s"$dir/lineitem.parquet"
        val manifest = SkippingIndex.build(spark, path,
          Seq("l_partkey", "l_suppkey"))
        SkippingIndex.prunedRead(spark, path, manifest,
            Map("l_partkey" -> (lit(500L), lit(700L)),
              "l_suppkey" -> (lit(10L), lit(60L))))
          .select($"l_orderkey", $"l_linenumber", $"l_partkey",
            $"l_suppkey")
          .orderBy($"l_orderkey", $"l_linenumber")
      }),

    // X141: temporal embargo split — train strictly before the 0.8
    // time quantile, a one-day purged gap, test after. Timestamps
    // and counts are exact; the quantile is the proven
    // percentile/quantile_cont parity on epoch micros.
    QueryDef(
      "q_temporal_split",
      Some("""
        WITH t0 AS (
          SELECT CAST(floor(quantile_cont(epoch_us(ts), 0.8)) AS BIGINT)
            AS t0
          FROM events
        ), tagged AS (
          SELECT CASE WHEN epoch_us(ts) < t0 THEN 'train'
                      WHEN epoch_us(ts) < t0 + 86400000000 THEN 'embargo'
                      ELSE 'test' END AS split,
                 user_id, epoch_us(ts) AS us
          FROM events CROSS JOIN t0
        )
        SELECT split, CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys,
               CAST(min(us) AS BIGINT) AS min_us,
               CAST(max(us) AS BIGINT) AS max_us
        FROM tagged GROUP BY split
        ORDER BY split
      """.trim),
      "X141 temporal embargo (purged) train/test split over events")(
      (spark, dir) => {
        import spark.implicits._
        graft.operators.CorpusOps.temporalSplit(
            QueryDef.events(spark, dir), "user_id", "ts",
            trainFrac = 0.8, embargoMicros = 86400000000L)
          .select($"split", $"n_events", $"n_keys",
            unix_micros($"min_ts").as("min_us"),
            unix_micros($"max_ts").as("max_us"))
          .orderBy($"split")
      }),
  )
}
