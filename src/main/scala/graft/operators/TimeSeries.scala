package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize

/** Time-series resampling: bucket an event stream to a fixed grain,
  * materialize the missing buckets, and forward-fill the last
  * observation — pandas `resample(...).last().ffill()` semantics,
  * the standard shape for turning irregular event streams into
  * fixed-step training series.
  *
  * Scale notes (100 TB):
  *   - The bucket aggregate is map-side combined; the shuffle carries
  *     one row per (key, bucket), not per event.
  *   - The grid generates each key's own [min, max] bucket range —
  *     rows ∝ keys × span/grain, independent of event count.
  *   - The forward fill is one window per key ordered by bucket (the
  *     grid is already skinny); a key spanning years at minute grain
  *     should be range-chunked upstream, same mitigation as hot
  *     sessionization keys.
  */
object TimeSeries {

  /** Resample `events` to `grain` (a `date_trunc` unit: "hour",
    * "day", ...) per `keyCol`: per-bucket event count and last
    * observed `valueCol` (by `tsCol` order — ties must not exist or a
    * caller-chosen total order must be baked into `tsCol`),
    * forward-filled across empty buckets between each key's first
    * and last active bucket.
    *
    * Output: (keyCol, bucket, n_events, filled).
    */
  def resampleFfill(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, grain: String): DataFrame = {
    // r16 NEGATIVE RESULT (guide §1 measure-first): bucketed feeds
    // both the grid agg and the join probe side, and Catalyst
    // collapses the grid's two-level min/max into a second direct
    // events scan (plans/r15/q_resample_before.txt shows two parquet
    // scans). Materializing bucketed with localCheckpoint(true) to
    // share it was probed at sf0.1 and LOST (1.74 → 2.46 s): the
    // (key × bucket) table is not much smaller than events here, so
    // the cache write costs more than the pruned 2-column re-scan.
    // Left as two scans on purpose; the grid scan reads only
    // (tsCol, keyCol) columnar-pruned.
    val bucketed = events
      .groupBy(col(keyCol), date_trunc(grain, col(tsCol)).as("bucket"))
      .agg(count(lit(1)).as("n_events"),
        max_by(col(valueCol), col(tsCol)).as("last_value"))
    val grid = bucketed.groupBy(col(keyCol))
      .agg(min(col("bucket")).as("b0"), max(col("bucket")).as("b1"))
      .select(col(keyCol),
        explode(sequence(col("b0"), col("b1"),
          expr(s"interval 1 $grain"))).as("bucket"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("bucket"))
    grid.join(bucketed, Seq(keyCol, "bucket"), "left")
      .select(col(keyCol), col("bucket"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        last(col("last_value"), ignoreNulls = true).over(w).as("filled"))
  }

  /** X124 — SCD2 interval compaction (the warehouse slowly-changing-
    * dimension type-2 materialization, via the gaps-and-islands
    * pattern): per key, consecutive runs of the same `valueCol`
    * collapse into validity intervals — (value, valid_from,
    * valid_to, n_events), `valid_to` = the next run's start, NULL on
    * the current (open) run. Null values compare with null-safe
    * equality, so a null-valued run compacts like any other.
    *
    * Scale shape: one per-key ordered window (lag flag + running run
    * id — the sessionize lag→flag→cumsum shape), one map-side-
    * combinable run agg, and the `valid_to` lead runs on the SKINNY
    * run table. Pure integer/timestamp arithmetic — hash-exact.
    */
  def compactIntervals(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
    val runs = events.select(col(keyCol), col(tsCol), col(idCol),
        col(valueCol))
      .withColumn("__new",
        when(!(lag(col(valueCol), 1).over(w) <=> col(valueCol)), 1)
          .otherwise(0))
      .withColumn("__run", sum(col("__new"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(keyCol), col("__run"), col(valueCol))
      .agg(min(col(tsCol)).as("valid_from"),
        count(lit(1)).as("n_events"))
    val wr = Window.partitionBy(col(keyCol)).orderBy(col("__run"))
    runs.withColumn("valid_to", lead(col("valid_from"), 1).over(wr))
      .select(col(keyCol), col(valueCol), col("valid_from"),
        col("valid_to"), col("n_events"))
  }

  /** X112 — rolling z-score anomaly flags: each event's `valueCol`
    * against the mean/std of its own key's trailing `lookback`
    * events (the current row excluded — the reference window must
    * not contain the candidate), flagged when |z| > `threshold` with
    * at least `minN` reference rows and positive variance. The
    * standard streaming-metrics outlier gate (value spike per user /
    * host / sensor).
    *
    * Exactness: values are quantized to integer centi-units
    * (`round(value·100)` — identical doubles round identically), so
    * the windowed Σv and Σv² are exact integers in ANY accumulation
    * order (Spark's running frames vs DuckDB's segment trees), and
    * mean/var/z derive from identical integers — bit-exact flags,
    * not just rounded-digit agreement.
    *
    * Scale shape: one window per key (shuffle by key, per-key
    * sequential scan) — the sessionize/window-suite shape; work per
    * key bounded by its event count, skew mitigated upstream like
    * every per-key window here.
    */
  def rollingZScore(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String, valueCol: String, lookback: Int = 20,
      minN: Int = 10, threshold: Double = 3.0): DataFrame = {
    require(lookback >= minN && minN >= 2,
      s"need lookback >= minN >= 2, got $lookback/$minN")
    val qv = round(col(valueCol) * 100, 0).cast("long")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(idCol))
      .rowsBetween(-lookback, -1)
    val base = events.select(col(idCol), col(keyCol), col(tsCol),
        col(valueCol), qv.as("__q"))
      .select(col(idCol), col(keyCol), col(valueCol), col("__q"),
        count(col("__q")).over(w).as("n_ref"),
        sum(col("__q")).over(w).as("__s1"),
        sum(col("__q") * col("__q")).over(w).as("__s2"))
    val varNum = col("__s2") - col("__s1") * col("__s1") / col("n_ref")
    val z = (col("__q") - col("__s1") / col("n_ref")) /
      sqrt(varNum / col("n_ref"))
    base.select(col(idCol), col(keyCol), col(valueCol), col("n_ref"),
      when(col("n_ref") >= minN && varNum > 0, round(z, 6)).as("z"),
      coalesce(when(col("n_ref") >= minN && varNum > 0,
        abs(z) > threshold), lit(false)).as("is_anomaly"))
  }

  /** X196 — one-sided CUSUM changepoint detection per key: the
    * classic recurrence S_n = max(0, S_{n−1} + x_n − μ − k) rewritten
    * as the WINDOW-EXPRESSIBLE identity S_n = P_n − min(0, min_{j≤n}
    * P_j) with P the plain cumulative sum of (x − μ − k) — no
    * sequential loop, just two per-key ordered windows. Alarms fire
    * at the first S_n > h; the sustained-small-shift detector beside
    * [[rollingZScore]]'s single-point spikes (X112).
    *
    * Exactness: x quantizes to micro-units, P and S are integer
    * cumsums, the alarm index is an integer compare — engine-exact.
    * Output per key: (n_obs, s_max, alarm_n, s_at_alarm); keys that
    * never cross report NULL alarm columns.
    */
  def cusum(df: DataFrame, keyCol: String, valueCol: String,
      orderCols: Seq[org.apache.spark.sql.Column], target: Double,
      slack: Double, threshold: Double): DataFrame = {
    require(threshold > 0, s"bad threshold $threshold")
    val mu = math.round((target + slack) * 1e6)
    val h = math.round(threshold * 1e6)
    val base = df.select(Seq(col(keyCol),
      (round(col(valueCol) * 1e6, 0).cast("long") - mu).as("__z")) ++
      orderCols.zipWithIndex.map { case (c, i) => c.as(s"__o$i") }: _*)
    val ord = orderCols.indices.map(i => col(s"__o$i"))
    val w = Window.partitionBy(col(keyCol)).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val walk = base
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__p", sum(col("__z")).over(w))
      .withColumn("__s",
        col("__p") - least(lit(0L), min(col("__p")).over(w)))
    val alarms = walk.filter(col("__s") > h)
      .groupBy(col(keyCol)).agg(min(col("__n")).as("__na"))
    val atAlarm = alarms.join(walk, Seq(keyCol))
      .filter(col("__n") === col("__na"))
      .select(col(keyCol), col("__n").as("__an"),
        col("__s").as("__as"))
    walk.groupBy(col(keyCol))
      .agg(max(col("__n")).cast("long").as("n_obs"),
        round(max(col("__s")).cast("double") / 1e6, 6).as("s_max"))
      .join(atAlarm, Seq(keyCol), "left")
      .select(col(keyCol), col("n_obs"), col("s_max"),
        col("__an").cast("long").as("alarm_n"),
        round(col("__as").cast("double") / 1e6, 6).as("s_at_alarm"))
  }

  /** X221 — Mann-Kendall trend test per key over an ordered series:
    * S = Σ_{i<j} sgn(vⱼ − vᵢ), the tie-corrected variance
    * n(n−1)(2n+5)/18 − Σₜ t(t−1)(2t+5)/18, and the continuity-
    * corrected z — the nonparametric "is this metric drifting
    * monotonically" gate (no distributional assumption, robust to
    * outliers) that X196's CUSUM alarms hand over to for
    * confirmation. Exact integer S and tie terms from the
    * per-key pair self-join — bounded by the BUCKET count squared
    * (daily series: ~365² pairs/key), never rows.
    */
  def mannKendall(daily: DataFrame, keyCol: String, orderCol: String,
      valueCol: String): DataFrame = {
    val base = daily.select(col(keyCol), col(orderCol).as("__o"),
      round(col(valueCol) * 1e6, 0).cast("long").as("__v"))
    val a = base.select(col(keyCol), col("__o").as("__oa"),
      col("__v").as("__va"))
    val b = base.select(col(keyCol), col("__o").as("__ob"),
      col("__v").as("__vb"))
    val pairs = a.join(b, Seq(keyCol))
      .filter(col("__ob") > col("__oa"))
    val sAgg = pairs.groupBy(col(keyCol))
      .agg(sum(signum(col("__vb") - col("__va")).cast("long"))
        .cast("long").as("__S"))
    val nAgg = base.groupBy(col(keyCol))
      .agg(count(lit(1)).cast("long").as("n"))
    val ties = base.groupBy(col(keyCol), col("__v"))
      .agg(count(lit(1)).as("__t"))
      .groupBy(col(keyCol))
      .agg(coalesce(sum(col("__t") * (col("__t") - 1L) *
        (lit(2L) * col("__t") + 5L)), lit(0L)).cast("long")
        .as("__tieTerm"))
    val j = nAgg.join(sAgg, Seq(keyCol)).join(ties, Seq(keyCol))
    val nd = col("n").cast("double")
    val varS = (nd * (nd - 1.0) * (lit(2.0) * nd + 5.0) -
      col("__tieTerm").cast("double")) / 18.0
    val sD = col("__S").cast("double")
    val zNum = when(col("__S") > 0L, sD - 1.0)
      .when(col("__S") < 0L, sD + 1.0).otherwise(lit(0.0))
    j.select(col(keyCol), col("n"), col("__S").as("s_stat"),
      when(varS > 0.0, round(zNum / sqrt(varS), 6)).as("z"))
  }

  /** X414 — seasonal Mann-Kendall: [[mannKendall]] computed WITHIN
    * each season stratum (weekday, month) and combined — S = Σ S_w,
    * Var·18 = Σ[n_w(n_w−1)(2n_w+5) − tieTerm_w] (exact integers),
    * z = (S∓1)/√Var — the trend gate that is immune to the weekly
    * cycle itself (a pure seasonal pattern has S_w = 0 in every
    * stratum where plain MK reads phantom trend from the phase).
    * Pair joins are stratum-bounded (Σ n_w² ≤ n²/|seasons|).
    */
  def seasonalMannKendall(daily: DataFrame, orderCol: String,
      valueCol: String, seasonCol: Column): DataFrame = {
    val base = daily.select(seasonCol.as("__w"),
      col(orderCol).as("__o"),
      round(col(valueCol) * 1e6, 0).cast("long").as("__v"))
    val a = base.select(col("__w"), col("__o").as("__oa"),
      col("__v").as("__va"))
    val b = base.select(col("__w"), col("__o").as("__ob"),
      col("__v").as("__vb"))
    val sAgg = a.join(b, Seq("__w"))
      .filter(col("__ob") > col("__oa"))
      .agg(coalesce(sum(signum(col("__vb") - col("__va")).cast("long")),
        lit(0L)).cast("long").as("s_stat"))
    val perW = base.groupBy(col("__w"))
      .agg(count(lit(1)).cast("long").as("__n"))
    val ties = base.groupBy(col("__w"), col("__v"))
      .agg(count(lit(1)).as("__t"))
      .groupBy(col("__w"))
      .agg(coalesce(sum(col("__t") * (col("__t") - 1L) *
        (lit(2L) * col("__t") + 5L)), lit(0L)).cast("long")
        .as("__tie"))
    val var18 = perW.join(ties, Seq("__w"))
      .agg(sum(col("__n") * (col("__n") - 1L) *
          (lit(2L) * col("__n") + 5L) - col("__tie")).cast("long")
          .as("__v18"),
        count(lit(1)).cast("long").as("n_seasons"),
        sum(col("__n")).cast("long").as("n"))
    val j = var18.crossJoin(broadcast(sAgg))
    val varS = col("__v18").cast("double") / 18.0
    val sD = col("s_stat").cast("double")
    val zNum = when(col("s_stat") > 0L, sD - 1.0)
      .when(col("s_stat") < 0L, sD + 1.0).otherwise(lit(0.0))
    j.select(col("n"), col("n_seasons"), col("s_stat"),
      when(varS > 0.0, round(zNum / sqrt(varS), 6)).as("z"))
  }

  /** X415 — additive Holt-Winters (triple exponential smoothing,
    * α=β=γ=½) with INTEGER micro state and weekly season: the
    * [[holtLinear]] recursion plus a rotating p-slot seasonal
    * register — l' = ⌊(v−s_old+l+b)/2⌋, b' = ⌊(b+l'−l)/2⌋,
    * s' = ⌊(v−l'+s_old)/2⌋, seeded l = ⌊Σ₁..p v/p⌋, b = 0,
    * s_i = v_i − l. Every update is a floor-halving of exact
    * integers, so the p+2-column state replays verbatim in a
    * recursive CTE. The one-step forecast l+b+s_old is the
    * seasonality-aware baseline X196/X413 alarm against. This form
    * runs the recursion in ONE partition (correct and period-bounded
    * for the single-series contract); fitting thousands of series at
    * once is [[holtWintersByKey]], which distributes per key.
    */
  def holtWintersAdditive(series: DataFrame, orderCol: String,
      valueCol: String, period: Int = 7): DataFrame = {
    require(period >= 2 && period <= 24, s"bad period $period")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val base = series.select(col(orderCol).cast("string").as("__o"),
      round(col(valueCol) * 1e6, 0).cast("long").as("__v"))
    val outSchema = StructType(Seq(
      StructField("bucket", StringType, nullable = true),
      StructField("value", DoubleType, nullable = true),
      StructField("level", DoubleType, nullable = true),
      StructField("trend", DoubleType, nullable = true),
      StructField("seasonal", DoubleType, nullable = true),
      StructField("forecast", DoubleType, nullable = true)))
    val p = period
    val rows = base.repartition(1).sortWithinPartitions(col("__o"))
      .queryExecution.toRdd.mapPartitions { it =>
        val buf = it.map(r => (r.getUTF8String(0).toString, r.getLong(1)))
          .toArray
        hwFoldL(buf, p).map { case (o, v, l, b, s, f) =>
          Row(o, v / 1e6, l.map(_ / 1e6).orNull, b.map(_ / 1e6).orNull,
            s / 1e6, f.map(_ / 1e6).orNull)
        }
      }
    base.sparkSession.createDataFrame(rows, outSchema)
      .select(col("bucket"), round(col("value"), 6).as("value"),
        round(col("level"), 6).as("level"),
        round(col("trend"), 6).as("trend"),
        round(col("seasonal"), 6).as("seasonal"),
        round(col("forecast"), 6).as("forecast"))
  }

  /** The Holt-Winters recursion over one already-ordered micro-scaled
    * series — shared by the single-series plan above and the grouped
    * [[holtWintersByKey]]. Input (bucket, v·10⁶) SORTED by bucket;
    * output (bucket, v, level?, trend?, seasonal, forecast?) in micro
    * longs (None = the seed rows' NULLs). Short series (≤ p rows)
    * emit only partial-sum seed seasonals, recursion never starts.
    */
  private[operators] def hwFoldL(buf: Array[(String, Long)], p: Int)
      : Iterator[(String, Long, Option[Long], Option[Long], Long, Option[Long])] = {
    if (buf.length <= p) {
      // short series: every row is a seed row — emit the same
      // v − l seasonal the oracle's seed SELECT produces, with
      // l = ⌊Σ available v / p⌋ (the partial-sum seed; the
      // oracle divides by the FULL period even when fewer rows
      // exist). level/trend/forecast stay NULL: the recursion
      // never starts.
      val l0 = Math.floorDiv(buf.map(_._2).sum, p.toLong)
      buf.iterator.map { case (o, v) =>
        (o, v, None, None, v - l0, None)
      }
    } else {
      var l = Math.floorDiv(buf.take(p).map(_._2).sum, p.toLong)
      var bb = 0L
      val s = Array.tabulate(p)(i => buf(i)._2 - l)
      val out =
        new Array[(String, Long, Option[Long], Option[Long], Long, Option[Long])](
          buf.length)
      var i = 0
      while (i < p) {
        out(i) = (buf(i)._1, buf(i)._2, None, None, s(i), None)
        i += 1
      }
      var slot = 0
      while (i < buf.length) {
        val v = buf(i)._2
        val sOld = s(slot)
        val f = l + bb + sOld
        val l2 = Math.floorDiv(v - sOld + l + bb, 2L)
        bb = Math.floorDiv(bb + (l2 - l), 2L)
        val sNew = Math.floorDiv(v - l2 + sOld, 2L)
        s(slot) = sNew
        l = l2
        out(i) = (buf(i)._1, v, Some(l), Some(bb), sNew, Some(f))
        i += 1
        slot = (slot + 1) % p
      }
      out.iterator
    }
  }

  /** Grouped Holt-Winters — the form a production pipeline calls on
    * THOUSANDS of series at once (per-tenant, per-metric, per-shard):
    * the identical integer recursion runs per key inside
    * `groupByKey.flatMapGroups`, so the work distributes across
    * executors with ONE shuffle on the key and no single-partition
    * bottleneck (the single-series [[holtWintersAdditive]] is the
    * repartition(1) special case, kept for its oracle). Each key's
    * series is buffered and sorted in memory — bounded by the series
    * length (time-bucketed data: years of daily points ≈ thousands
    * of rows), not the corpus. Grouped(single key) == single-series
    * output, spec-asserted.
    */
  def holtWintersByKey(series: DataFrame, keyCol: String,
      orderCol: String, valueCol: String, period: Int = 7): DataFrame = {
    require(period >= 2 && period <= 24, s"bad period $period")
    val spark = series.sparkSession
    import spark.implicits._
    val p = period
    val base = series.select(col(keyCol).cast("string"),
        col(orderCol).cast("string"),
        // explicit 0 for null values — the single-series path's
        // toRdd read yields 0 for a null slot; the tuple encoder
        // here would throw instead, so parity needs the coalesce
        coalesce(round(col(valueCol) * 1e6, 0).cast("long"), lit(0L)))
      .as[(String, String, Long)]
    base.groupByKey(_._1)
      .flatMapGroups { (k, it) =>
        // sort in UTF8String binary order — the exact comparator
        // sortWithinPartitions gives the single-series path. Java
        // String's UTF-16 code-unit order differs for supplementary-
        // plane bucket labels and would break the spec-asserted
        // grouped==solo equivalence. Encode each key ONCE (sortBy
        // would re-derive it per comparison).
        val buf = it.map(t =>
            (org.apache.spark.unsafe.types.UTF8String.fromString(t._2),
              t._2, t._3)).toArray
          .sortWith((x, y) => x._1.compareTo(y._1) < 0)
          .map(t => (t._2, t._3))
        hwFoldL(buf, p).map { case (o, v, l, b, s, f) =>
          (k, o, v / 1e6, l.map(_ / 1e6), b.map(_ / 1e6), s / 1e6,
            f.map(_ / 1e6))
        }
      }
      .toDF("key", "bucket", "value", "level", "trend", "seasonal",
        "forecast")
      .select(col("key"), col("bucket"), round(col("value"), 6).as("value"),
        round(col("level"), 6).as("level"),
        round(col("trend"), 6).as("trend"),
        round(col("seasonal"), 6).as("seasonal"),
        round(col("forecast"), 6).as("forecast"))
  }

  /** X417 — Pettitt change-point test: U_t = Σ_{i≤t<j} sgn(x_j−x_i)
    * over every cut t, K = max|U_t| at the most probable break
    * position — the UNKNOWN-date complement to [[chowTest]] (which
    * needs the break named) and the location [[mannKendall]]'s
    * global S can't give. Exact integers via the standard
    * rank-count recurrence instead of a cut × pair join (which is
    * O(n³) in period count — the r12 verdict's scale-killer): with
    * le(v)/eq(v) from the distinct-value grid's inclusive prefix
    * sums, W_t = Σ_j sgn(x_j − x_t) = n − 2·le(x_t) + eq(x_t) and
    * U_t = Σ_{s≤t} W_s — one value-grid prefix window plus one
    * period-bounded ordered prefix window (both frames ride the
    * period/value-grid-bounded class this operator's run-sort
    * already uses — a cumSums two-phase pass here only added
    * driver-barrier jobs to a bounded table), identical integers to
    * the pair-join form at any n. The significance approximation
    * 2·exp(−6K²/(n³+n²)) is one fixed-shape double. Ties contribute
    * sgn = 0 (the standard convention); the earliest maximizing cut
    * wins (deterministic tiebreak).
    */
  def pettitt(series: DataFrame, orderCol: String, valueCol: String)
      : DataFrame = {
    val base = series.select(col(orderCol).cast("string").as("__o"),
      round(col(valueCol) * 1e6, 0).cast("long").as("__v"))
    val vw = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = base.groupBy(col("__v"))
      .agg(count(lit(1)).cast("long").as("__eq"))
      .withColumn("__cum__eq", sum(col("__eq")).over(vw).cast("long"))
    val n1 = base.agg(count(lit(1)).cast("long").as("__n"))
    val w = Window.orderBy(col("__o"))
    val uw = Window.orderBy(col("__o"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // __cum__eq is the INCLUSIVE count ≤ v, so lt = le − eq and
    // W = gt − lt = (n − le) − (le − eq) = n − 2·le + eq
    val u = base.join(broadcast(cum), Seq("__v"))
      .crossJoin(broadcast(n1))
      .select(col("__o"), col("__n"),
        (col("__n") - lit(2L) * col("__cum__eq") + col("__eq"))
          .as("__w"))
      .select(col("__o"), col("__n"),
        row_number().over(w).cast("long").as("__cut"),
        sum(col("__w")).over(uw).cast("long").as("__u"))
      .filter(col("__cut") < col("__n"))
    val best = u.agg(max(abs(col("__u"))).cast("long").as("__k"))
    u.crossJoin(broadcast(best))
      .filter(abs(col("__u")) === col("__k"))
      .orderBy(col("__cut"))
      .limit(1)
      .select(col("__n").as("n"), col("__k").as("k_stat"),
        col("__o").as("break_after"),
        col("__cut").as("break_pos"),
        round(least(lit(1.0), lit(2.0) * exp(lit(-6.0) *
          col("__k").cast("double") * col("__k").cast("double") /
          (col("__n").cast("double") * col("__n").cast("double") *
            col("__n").cast("double") +
            col("__n").cast("double") * col("__n").cast("double")))),
          6).as("p_approx"))
  }

  /** X222 — Theil-Sen slope per key: the MEDIAN of all pairwise
    * slopes (vⱼ−vᵢ)/(oⱼ−oᵢ) — the robust trend MAGNITUDE beside
    * [[mannKendall]]'s significance (one wild day moves an OLS fit,
    * not the median slope). Slopes quantize to micro-units and the
    * median is the exact LOWER order statistic at rank ⌈m/2⌉ (a
    * deterministic convention — no two-middle averaging) via a
    * per-key rank window over the bucket²-bounded slope multiset.
    */
  def theilSen(daily: DataFrame, keyCol: String, orderCol: String,
      valueCol: String): DataFrame = {
    val base = daily.select(col(keyCol),
      col(orderCol).cast("long").as("__o"),
      round(col(valueCol) * 1e6, 0).cast("long").as("__v"))
    val a = base.select(col(keyCol), col("__o").as("__oa"),
      col("__v").as("__va"))
    val b = base.select(col(keyCol), col("__o").as("__ob"),
      col("__v").as("__vb"))
    val slopes = a.join(b, Seq(keyCol))
      .filter(col("__ob") > col("__oa"))
      .select(col(keyCol),
        round((col("__vb") - col("__va")).cast("double") /
          (col("__ob") - col("__oa")).cast("double"), 0).cast("long")
          .as("__slope"))
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("__slope"))
    val ranked = slopes
      .withColumn("__r", row_number().over(w).cast("long"))
      .withColumn("__m",
        count(lit(1)).over(Window.partitionBy(col(keyCol))))
    ranked.filter(col("__r") === expr("(__m + 1) div 2"))
      .select(col(keyCol), col("__m").cast("long").as("n_pairs"),
        round(col("__slope").cast("double") / 1e6, 6)
          .as("median_slope"))
  }

  /** X214 — temporal coverage report: per key, the active day span,
    * how much of it actually has data, and the largest silent gap —
    * the "is this feed healthy / is this slice complete" audit a
    * pipeline runs before trusting a date-partitioned source. All
    * integer day arithmetic on the distinct (key, day) table;
    * per-key ordered lag window over PRESENT days only
    * (days-bounded, never rows).
    */
  def coverageReport(df: DataFrame, keyCol: String, tsCol: String)
      : DataFrame = {
    val days = df.select(col(keyCol),
        to_date(date_trunc("day", col(tsCol))).as("__day"))
      .distinct()
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__day"))
    val gaps = days
      .withColumn("__prev", lag(col("__day"), 1).over(w))
      .withColumn("__gap",
        when(col("__prev").isNull, 0L)
          .otherwise(datediff(col("__day"), col("__prev"))
            .cast("long") - 1L))
    gaps.groupBy(col(keyCol))
      .agg(min(col("__day")).as("first_day"),
        max(col("__day")).as("last_day"),
        count(lit(1)).cast("long").as("days_present"),
        max(col("__gap")).cast("long").as("max_gap_days"))
      .select(col(keyCol), col("first_day"), col("last_day"),
        (datediff(col("last_day"), col("first_day")).cast("long") +
          1L).as("span_days"),
        col("days_present"),
        round(col("days_present").cast("double") /
          (datediff(col("last_day"), col("first_day")).cast("double") +
            1.0), 6).as("coverage"),
        col("max_gap_days"))
  }

  /** X210 — seasonal profile: per key the hour-of-day and
    * day-of-week activity shape — event count and mean value per
    * bucket — the periodic fingerprint a scheduler or anomaly
    * baseline (X112/X196 reference levels) reads. Buckets are
    * calendar-derived in the session timezone (UTC here); day-of-
    * week is 0=Sunday..6 (the DuckDB convention — Spark's 1-based
    * dayofweek shifts down by one for parity). Exact micro sums;
    * ≤ (24+7)·keys rows out.
    */
  def seasonalProfile(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val base = df.select(col(keyCol),
      hour(col(tsCol)).cast("long").as("__hr"),
      (dayofweek(col(tsCol)) - 1).cast("long").as("__dow"),
      round(col(valueCol) * 1e6, 0).cast("long").as("__v"))
    def profile(bucket: org.apache.spark.sql.Column, grain: String) =
      base.groupBy(col(keyCol), bucket.as("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("__v")).as("__s"))
        .select(col(keyCol), lit(grain).as("grain"), col("bucket"),
          col("n").cast("long").as("n"),
          round(col("__s").cast("double") / col("n").cast("double") /
            1e6, 6).as("mean_value"))
    profile(col("__hr"), "hour")
      .unionByName(profile(col("__dow"), "dow"))
  }

  /** X203 — lead-lag cross-correlation: Pearson correlation between
    * two daily series at every shift in [−maxLag, +maxLag] days —
    * "do purchases follow clicks, and by how many days" — from exact
    * integer count sums per lag (the X15 corr arithmetic, one row
    * per lag). Input is the already-bucketed (day, x, y) table;
    * a positive lag correlates x(day) with y(day + lag), i.e. y
    * LAGGING x. Scale shape: (2·maxLag+1)-way bounded explode of the
    * day table, shuffle on (day+lag) — days-bounded, never rows.
    */
  def leadLagCorr(daily: DataFrame, dayCol: String, xCol: String,
      yCol: String, maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1 && maxLag <= 60, s"bad maxLag $maxLag")
    val dec = "decimal(38,0)"
    val x = daily.select(col(dayCol).as("__d"),
      col(xCol).cast("long").as("__x"))
    val y = daily.select(col(dayCol).as("__dy"),
      col(yCol).cast("long").as("__y"))
    val lagged = x
      .select(col("__d"), col("__x"),
        explode(sequence(lit(-maxLag), lit(maxLag))).as("lag"))
      .withColumn("__dt", date_add(col("__d"), col("lag")))
    val j = lagged.join(y, col("__dt") === col("__dy"))
    val m = j.groupBy(col("lag"))
      .agg(count(lit(1)).cast("long").as("n_days"),
        sum(col("__x").cast(dec)).as("__sx"),
        sum(col("__y").cast(dec)).as("__sy"),
        sum((col("__x").cast(dec) * col("__y")).cast(dec)).as("__sxy"),
        sum((col("__x").cast(dec) * col("__x")).cast(dec)).as("__sxx"),
        sum((col("__y").cast(dec) * col("__y")).cast(dec)).as("__syy"))
    def d(c: String) = col(c).cast("double")
    val nd = col("n_days").cast("double")
    val num = nd * d("__sxy") - d("__sx") * d("__sy")
    val vx = nd * d("__sxx") - d("__sx") * d("__sx")
    val vy = nd * d("__syy") - d("__sy") * d("__sy")
    m.select(col("lag"), col("n_days"),
      when(col("n_days") > 1L && vx > 0.0 && vy > 0.0,
        round(num / sqrt(vx * vy), 6)).as("corr"))
  }

  /** X201 — PAA + SAX symbolization: each key's time-ordered series
    * splits into `segments` equal-population segments (rank-range
    * assignment, no timestamps math), each segment reduces to its
    * mean, and the mean quantizes to an `alphabet`-letter symbol by
    * equal-width bins over the KEY's own [min, max] — the dimension-
    * reduced shape signature that lets series compare/join by string
    * ops (two keys with the same sax word trend alike). Classic SAX
    * uses Gaussian breakpoints on z-normalized data; the equal-width
    * variant keeps every boundary an exact integer comparison
    * (symbol = ⌊alphabet·(Σv − n·lo) / (n·(hi−lo+1))⌋ in micro
    * units — no libm in the symbol path), which is what makes the
    * word engine-replayable.
    *
    * Scale shape: one partitioned rank window per key, then
    * keys×segments-bounded aggregates. Output per (key, segment):
    * (n, seg_mean, symbol).
    */
  def saxSymbols(df: DataFrame, keyCol: String, valueCol: String,
      orderCols: Seq[org.apache.spark.sql.Column], segments: Int = 8,
      alphabet: Int = 4): DataFrame = {
    require(segments >= 2 && segments <= 64, s"bad segments $segments")
    require(alphabet >= 2 && alphabet <= 26, s"bad alphabet $alphabet")
    val base = df.select(Seq(col(keyCol),
      round(col(valueCol) * 1e6, 0).cast("long").as("__v")) ++
      orderCols.zipWithIndex.map { case (c, i) => c.as(s"__o$i") }: _*)
    val ord = orderCols.indices.map(i => col(s"__o$i"))
    val wr = Window.partitionBy(col(keyCol)).orderBy(ord: _*)
    val ranked = base
      .withColumn("__r", row_number().over(wr).cast("long"))
      .withColumn("__n",
        count(lit(1)).over(Window.partitionBy(col(keyCol))))
      .withColumn("segment",
        expr(s"((__r - 1) * $segments) div __n"))
    val ext = base.groupBy(col(keyCol))
      .agg(min(col("__v")).as("__lo"), max(col("__v")).as("__hi"))
    val segs = ranked.groupBy(col(keyCol), col("segment"))
      .agg(count(lit(1)).as("n"), sum(col("__v")).as("__s"))
      .join(ext, Seq(keyCol))
    segs.select(col(keyCol), col("segment"),
        col("n").cast("long").as("n"),
        round(col("__s").cast("double") / col("n").cast("double") / 1e6,
          6).as("seg_mean"),
        expr(s"char(97 + ($alphabet * (__s - n * __lo))" +
          s" div (n * (__hi - __lo + 1)))").as("symbol"))
  }
  /** X242 — interrupted time series (segmented regression at a KNOWN
    * breakpoint): per key, fit OLS level+slope on the daily series
    * separately before and after `breakAt`, and report the LEVEL
    * CHANGE (both fits evaluated AT the breakpoint) and SLOPE CHANGE
    * — the no-control-group sibling of X231's diff-in-diff: when
    * everything got the treatment at once, the pre-trend extrapolated
    * to the break is the counterfactual. One wild day still moves an
    * OLS fit (that is X222's robust lane); this one answers the
    * level-shift question OLS is right for.
    *
    * Determinism: input is the already-bucketed daily table (the
    * mannKendall convention); values quantize to micro ints, and all
    * five per-segment sums (n, Σt, Σt², Σv, Σtv) accumulate in exact
    * decimals, so slope/intercept are fixed-shape doubles, round(6).
    * A segment with < 2 days (or a degenerate Σt² after centering)
    * voids its fit and the changes, not the other segment's fit.
    * Scale shape: one (key, segment) agg — days-bounded, never rows.
    */
  /** X268 — exponential time-decay aggregates: per key, the
    * recency-weighted count Σe^(−λ·age) and value sum Σv·e^(−λ·age)
    * as of the table's horizon — the "what's hot NOW" score that a
    * plain count can't give (a doc clicked 1000× last year loses to
    * one clicked 50× this week) and the standard freshness feature
    * for X55/X250's samplers. Half-life parameterization: λ =
    * ln 2 / halfLifeDays.
    *
    * Determinism: age is an exact integer day difference from the
    * table's max day; each decay term e^(−λ·age) is one fixed-shape
    * double from that integer, nano-quantized BEFORE the per-key
    * fold (value terms micro·nano folded in decimal) — so the sums
    * are exact integers in any aggregation order. One map-side-
    * combined groupBy; the horizon is a broadcast one-row agg.
    */
  def decayAggregate(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, halfLifeDays: Double): DataFrame = {
    require(halfLifeDays > 0, s"bad halfLifeDays $halfLifeDays")
    val dec = "decimal(38,0)"
    val lam = math.log(2.0) / halfLifeDays
    val day = to_date(col(tsCol))
    val horizon = events.agg(max(day).as("__h"))
    val aged = events.select(col(keyCol), day.as("__d"),
        round(col(valueCol) * 1e6, 0).cast("long").as("__v"))
      .crossJoin(broadcast(horizon))
      .withColumn("__age", datediff(col("__h"), col("__d")))
      .withColumn("__wn",
        round(exp(col("__age").cast("double") * -lam) * 1e9, 0)
          .cast("long"))
    aged.groupBy(col(keyCol))
      .agg(count(lit(1)).cast("long").as("n_events"),
        sum(col("__wn").cast(dec)).cast(dec).as("__cw"),
        sum((col("__v").cast(dec) * col("__wn")).cast(dec)).cast(dec)
          .as("__vw"))
      .select(col(keyCol), col("n_events"),
        round(col("__cw").cast("double") / 1e9, 6)
          .as("decayed_count"),
        round(col("__vw").cast("double") / 1e15, 6)
          .as("decayed_value_sum"))
  }

  def interruptedSeries(daily: DataFrame, keyCol: String,
      orderCol: String, valueCol: String, breakAt: Long): DataFrame = {
    val dec = "decimal(38,0)"
    val base = daily.select(col(keyCol),
      col(orderCol).cast("long").as("__t"),
      round(col(valueCol) * 1e6, 0).cast("long").as("__v"))
    val seg = base
      .groupBy(col(keyCol), (col("__t") >= breakAt).as("__post"))
      .agg(count(lit(1)).cast("long").as("__n"),
        sum(col("__t").cast(dec)).cast(dec).as("__st"),
        sum((col("__t").cast(dec) * col("__t")).cast(dec)).cast(dec)
          .as("__stt"),
        sum(col("__v").cast(dec)).cast(dec).as("__sv"),
        sum((col("__t").cast(dec) * col("__v")).cast(dec)).cast(dec)
          .as("__stv"))
    def side(p: Boolean, c: String, out: String) =
      max(when(col("__post") === p, col(c))).as(out)
    val w = seg.groupBy(col(keyCol)).agg(
      coalesce(max(when(!col("__post"), col("__n"))), lit(0L))
        .as("n_pre"),
      side(p = false, "__st", "__stPre"),
      side(p = false, "__stt", "__sttPre"),
      side(p = false, "__sv", "__svPre"),
      side(p = false, "__stv", "__stvPre"),
      coalesce(max(when(col("__post"), col("__n"))), lit(0L))
        .as("n_post"),
      side(p = true, "__st", "__stPost"),
      side(p = true, "__stt", "__sttPost"),
      side(p = true, "__sv", "__svPost"),
      side(p = true, "__stv", "__stvPost"))
    def dd(c: String) = col(c).cast("double")
    def fit(n: Column, st: String, stt: String, sv: String,
        stv: String): (Column, Column, Column) = {
      val nd = n.cast("double")
      val den = nd * dd(stt) - dd(st) * dd(st)
      val slope = (nd * dd(stv) - dd(st) * dd(sv)) / den
      val icept = (dd(sv) - slope * dd(st)) / nd
      val ok = n >= 2L && den > 0.0
      (slope, icept, ok)
    }
    val (sPre, iPre, okPre) =
      fit(col("n_pre"), "__stPre", "__sttPre", "__svPre", "__stvPre")
    val (sPost, iPost, okPost) =
      fit(col("n_post"), "__stPost", "__sttPost", "__svPost",
        "__stvPost")
    val bd = lit(breakAt.toDouble)
    w.select(col(keyCol), col("n_pre"), col("n_post"),
      when(okPre, round(sPre / 1e6, 6)).as("slope_pre"),
      when(okPre, round(iPre / 1e6, 6)).as("intercept_pre"),
      when(okPost, round(sPost / 1e6, 6)).as("slope_post"),
      when(okPost, round(iPost / 1e6, 6)).as("intercept_post"),
      when(okPre && okPost, round(
        ((iPost + sPost * bd) - (iPre + sPre * bd)) / 1e6, 6))
        .as("level_change"),
      when(okPre && okPost, round((sPost - sPre) / 1e6, 6))
        .as("slope_change"))
  }

  /** X280 — autocorrelation function + Ljung-Box portmanteau over an
    * INTEGER period series (the daily-counts table): per lag
    * k = 1..maxLag,
    *
    *   r_k = Σ_{t>k}(x_t−x̄)(x_{t−k}−x̄) / Σ(x_t−x̄)²
    *
    * plus the cumulative Q_k = n(n+2)·Σ_{j≤k} r_j²/(n−j) — the
    * is-this-series-white-noise gate to run before trusting X112's
    * rolling z-scores or X221's trend call (autocorrelated residuals
    * inflate both).
    *
    * Exactness: multiplying the mean-centered sums through by n²
    * turns every numerator into integers — n²Σx_t·x_{t−k} −
    * n·S·(ΣheadX + ΣtailX) + (n−k)·S² — folded in decimal; r_k is
    * ONE double division, and each Ljung-Box term pico-quantizes
    * (round(r²/(n−j)·1e12)) before the cumulative integer fold, so
    * the running Q is engine-exact. Scale shape: the series is
    * PERIOD-bounded (the coverageReport class) — the lag windows and
    * the ordered Q fold run on a table with one row per period,
    * never per event.
    */
  def acfLjungBox(series: DataFrame, orderCol: String,
      valueCol: String, maxLag: Int = 5): DataFrame = {
    require(maxLag >= 1 && maxLag <= 48, s"bad maxLag $maxLag")
    val dec = "decimal(38,0)"
    val w = Window.orderBy(col("__o"))
    val base = series.select(col(valueCol).cast("long").as("__v"),
      col(orderCol).as("__o"))
    val lagged = (1 to maxLag).foldLeft(base) { (d, k) =>
      d.withColumn(s"__l$k", lag(col("__v"), k).over(w))
    }
    val perLag = (1 to maxLag).flatMap { k =>
      Seq(
        sum((col("__v").cast(dec) * col(s"__l$k")).cast(dec)).cast(dec)
          .as(s"__p$k"),
        sum(when(col(s"__l$k").isNotNull, col("__v"))).cast(dec)
          .as(s"__a$k"),
        sum(col(s"__l$k")).cast(dec).as(s"__b$k"))
    }
    val aggs = Seq(count(lit(1)).cast("long").as("n"),
      sum(col("__v")).cast(dec).as("__s"),
      sum((col("__v").cast(dec) * col("__v")).cast(dec)).cast(dec)
        .as("__q")) ++ perLag
    val one = lagged.agg(aggs.head, aggs.tail: _*)
    val rows = one.select(col("n"), col("__s"), col("__q"),
      posexplode(array((1 to maxLag).map(k =>
        struct(col(s"__p$k").as("p"), col(s"__a$k").as("a"),
          col(s"__b$k").as("b"))): _*)).as(Seq("__k0", "__t")))
      .select(col("n"), col("__s"), col("__q"),
        (col("__k0") + 1).cast("long").as("lag"),
        col("__t.p").as("__p"), col("__t.a").as("__a"),
        col("__t.b").as("__b"))
    val nD = col("n").cast(dec)
    val num = (nD * nD * col("__p") -
      nD * col("__s") * (col("__a") + col("__b")) +
      (nD - col("lag")) * col("__s") * col("__s")).cast("double")
    val den = (nD * nD * col("__q") - nD * col("__s") * col("__s"))
      .cast("double")
    // null-den (constant series) propagates NULL instead of tripping
    // the ANSI divide-by-zero guard in the unguarded term column
    val r = num / when(den > 0.0, den)
    val term = round(r * r / (col("n") - col("lag")) * 1e12, 0)
      .cast("long")
    val wq = Window.orderBy(col("lag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows.withColumn("__term", term)
      .withColumn("__qsum", sum(col("__term")).over(wq))
      .select(col("lag"), col("n"),
        when(den > 0.0, round(r, 6)).as("acf"),
        when(den > 0.0, round(col("n").cast("double") *
          (col("n") + 2L) * col("__qsum") / 1e12, 6)).as("lb_q"))
  }

  /** X403 — partial autocorrelation via Durbin-Levinson on the
    * [[acfLjungBox]] autocorrelations: φ_{k,k} is the lag-k
    * correlation with lags 1..k−1 regressed OUT — the AR-order
    * readout (an AR(p) series cuts off after lag p where the raw
    * ACF tails forever); the model-identification companion the ACF
    * shelf was missing.
    *
    * Determinism: each r_k comes from the exact integer-moment form
    * pico-quantized (round(num/den·1e12)/1e12), and every
    * Durbin-Levinson quantity is re-quantized to the pico grid after
    * each assignment, so the recursion — spelled in the identical
    * fixed order on both engines — is grid-exact. The whole
    * computation lives on the PERIOD-bounded one-row moment
    * aggregate (the acfLjungBox class).
    */
  def pacf(series: DataFrame, orderCol: String, valueCol: String,
      maxLag: Int = 5): DataFrame = {
    require(maxLag >= 1 && maxLag <= 12, s"bad maxLag $maxLag")
    val dec = "decimal(38,0)"
    val w = Window.orderBy(col("__o"))
    val base = series.select(col(valueCol).cast("long").as("__v"),
      col(orderCol).as("__o"))
    val lagged = (1 to maxLag).foldLeft(base) { (d, k) =>
      d.withColumn(s"__l$k", lag(col("__v"), k).over(w))
    }
    val perLag = (1 to maxLag).flatMap { k =>
      Seq(
        sum((col("__v").cast(dec) * col(s"__l$k")).cast(dec)).cast(dec)
          .as(s"__p$k"),
        sum(when(col(s"__l$k").isNotNull, col("__v"))).cast(dec)
          .as(s"__a$k"),
        sum(col(s"__l$k")).cast(dec).as(s"__b$k"))
    }
    val aggs = Seq(count(lit(1)).cast("long").as("n"),
      sum(col("__v")).cast(dec).as("__s"),
      sum((col("__v").cast(dec) * col("__v")).cast(dec)).cast(dec)
        .as("__q")) ++ perLag
    val one = lagged.agg(aggs.head, aggs.tail: _*)
    def quant(c: Column): Column =
      round(c * 1e12, 0).cast("long").cast("double") / 1e12
    val nD = col("n").cast(dec)
    val den = (nD * nD * col("__q") - nD * col("__s") * col("__s"))
      .cast("double")
    val safeDen = when(den > 0.0, den)
    // pico-quantized autocorrelations (identical form to acfLjungBox)
    val rCols = (1 to maxLag).map { k =>
      val num = (nD * nD * col(s"__p$k") -
        nD * col("__s") * (col(s"__a$k") + col(s"__b$k")) +
        (nD - lit(k.toLong)) * col("__s") * col("__s")).cast("double")
      quant(num / safeDen).as(s"__r$k")
    }
    // Durbin-Levinson with one MATERIALIZED level per k (the one-row
    // frame localCheckpoints between levels): referencing prior phis
    // by column name keeps every expression tree level-sized — the
    // fully inlined form blows past Janino's method limit at lag 5
    var cur = one.select((col("n") +: rCols): _*)
      .withColumn("__f1_1", col("__r1"))
      .transform(Materialize.cut)
    for (k <- 2 to maxLag) {
      val num = (1 until k).foldLeft(col(s"__r$k")) { (acc, j) =>
        acc - col(s"__f${k - 1}_$j") * col(s"__r${k - j}")
      }
      val dlDen = (1 until k).foldLeft(lit(1.0): Column) { (acc, j) =>
        acc - col(s"__f${k - 1}_$j") * col(s"__r$j")
      }
      val withDiag = cur.withColumn(s"__f${k}_$k",
        quant(num / when(dlDen =!= 0.0, dlDen)))
      cur = (1 until k).foldLeft(withDiag) { (d, j) =>
        d.withColumn(s"__f${k}_$j", quant(col(s"__f${k - 1}_$j") -
          col(s"__f${k}_$k") * col(s"__f${k - 1}_${k - j}")))
      }.transform(Materialize.cut)
    }
    val rows = (1 to maxLag).map(k => struct(lit(k.toLong).as("lag"),
      round(col(s"__r$k"), 6).as("acf"),
      round(col(s"__f${k}_$k"), 6).as("pacf")))
    cur.select(col("n"), explode(array(rows: _*)).as("__t"))
      .select(col("__t.lag").as("lag"), col("n"),
        col("__t.acf").as("acf"), col("__t.pacf").as("pacf"))
      .orderBy(col("lag"))
  }

  /** X404 — lag-1 Granger causality on two PERIOD series: does
    * adding x_{t−1} to an AR(1) model of y improve the fit? The
    * F-statistic compares the restricted regression y ~ [1, y_{t−1}]
    * against the unrestricted y ~ [1, y_{t−1}, x_{t−1}] — the
    * standard "does signal A lead signal B" gate run in BOTH
    * directions before wiring one stream's anomaly alerts to
    * another's.
    *
    * Determinism: all normal-equation moments are exact integer
    * aggregates folded in decimal(38,0); coefficients come from
    * Cramer determinants (exact integers, one double division
    * each); each squared residual is then a fixed-shape double per
    * period row, micro-quantized before the RSS fold, so both
    * engines sum the identical integers. The series frame is
    * PERIOD-bounded (the acfLjungBox class).
    */
  def grangerLag1(series: DataFrame, orderCol: String, yCol: String,
      xCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val w = Window.orderBy(col("__o"))
    val rows = series.select(col(orderCol).as("__o"),
        col(yCol).cast("long").as("__y"),
        col(xCol).cast("long").as("__x"))
      .withColumn("__yl", lag(col("__y"), 1).over(w))
      .withColumn("__xl", lag(col("__x"), 1).over(w))
      .filter(col("__yl").isNotNull && col("__xl").isNotNull)
    def d(c: Column) = c.cast(dec)
    val m = rows.agg(count(lit(1)).cast("long").as("n"),
      sum(col("__y")).cast(dec).as("sy"),
      sum(col("__yl")).cast(dec).as("sa"),
      sum(col("__xl")).cast(dec).as("sb"),
      sum((d(col("__yl")) * col("__yl")).cast(dec)).cast(dec).as("saa"),
      sum((d(col("__xl")) * col("__xl")).cast(dec)).cast(dec).as("sbb"),
      sum((d(col("__yl")) * col("__xl")).cast(dec)).cast(dec).as("sab"),
      sum((d(col("__y")) * col("__yl")).cast(dec)).cast(dec).as("sya"),
      sum((d(col("__y")) * col("__xl")).cast(dec)).cast(dec).as("syb"))
    // unrestricted y ~ [1, yl, xl]: Cramer on the 3x3 integer matrix
    //   [ n  sa  sb ] [b0]   [ sy ]
    //   [ sa saa sab ] [b1] = [ sya ]
    //   [ sb sab sbb ] [b2]   [ syb ]
    val n3 = col("n").cast(dec)
    def det3(a11: Column, a12: Column, a13: Column, a21: Column,
        a22: Column, a23: Column, a31: Column, a32: Column,
        a33: Column): Column =
      (a11 * (a22 * a33 - a23 * a32) -
        a12 * (a21 * a33 - a23 * a31) +
        a13 * (a21 * a32 - a22 * a31)).cast(dec)
    val dU = det3(n3, col("sa"), col("sb"), col("sa"), col("saa"),
      col("sab"), col("sb"), col("sab"), col("sbb"))
    val d0 = det3(col("sy"), col("sa"), col("sb"), col("sya"),
      col("saa"), col("sab"), col("syb"), col("sab"), col("sbb"))
    val d1 = det3(n3, col("sy"), col("sb"), col("sa"), col("sya"),
      col("sab"), col("sb"), col("syb"), col("sbb"))
    val d2 = det3(n3, col("sa"), col("sy"), col("sa"), col("saa"),
      col("sya"), col("sb"), col("sab"), col("syb"))
    // restricted y ~ [1, yl]: 2x2 Cramer
    val dR = (n3 * col("saa") - col("sa") * col("sa")).cast(dec)
    val r0 = (col("sy") * col("saa") - col("sa") * col("sya")).cast(dec)
    val r1 = (n3 * col("sya") - col("sa") * col("sy")).cast(dec)
    val coef = m.select(col("n"),
      (d0.cast("double") / when(dU.cast("double") =!= 0.0,
        dU.cast("double"))).as("__b0"),
      (d1.cast("double") / when(dU.cast("double") =!= 0.0,
        dU.cast("double"))).as("__b1"),
      (d2.cast("double") / when(dU.cast("double") =!= 0.0,
        dU.cast("double"))).as("__b2"),
      (r0.cast("double") / when(dR.cast("double") =!= 0.0,
        dR.cast("double"))).as("__c0"),
      (r1.cast("double") / when(dR.cast("double") =!= 0.0,
        dR.cast("double"))).as("__c1"))
    val res = rows.crossJoin(broadcast(coef))
    val ru = col("__y").cast("double") - col("__b0") -
      col("__b1") * col("__yl") - col("__b2") * col("__xl")
    val rr = col("__y").cast("double") - col("__c0") -
      col("__c1") * col("__yl")
    val rss = res.select(col("n"),
        round(ru * ru * 1e6, 0).cast("long").as("__ru2"),
        round(rr * rr * 1e6, 0).cast("long").as("__rr2"))
      .groupBy(col("n"))
      .agg(sum(col("__ru2")).cast("long").as("__su"),
        sum(col("__rr2")).cast("long").as("__sr"))
    rss.select(col("n"),
      round(col("__sr").cast("double") / 1e6, 6).as("rss_r"),
      round(col("__su").cast("double") / 1e6, 6).as("rss_u"),
      when(col("__su") > 0L && col("n") > 3L,
        round((col("__sr") - col("__su")).cast("double") /
          (col("__su").cast("double") / (col("n") - 3L)), 6))
        .as("f_stat"))
  }

  /** X411 — Chow test for a structural break at a KNOWN date: fit
    * y = a + b·t by OLS on the pooled series and on each segment,
    * F = ((RSS_p − RSS₁ − RSS₂)/2) / ((RSS₁+RSS₂)/(n−4)) — the
    * "did the trend actually change when we shipped" gate beside
    * X365's regression discontinuity (RD reads a level jump at the
    * cutoff; Chow reads whole-line slope+intercept change).
    *
    * Determinism: t is the 1-based order index; all OLS moments are
    * exact integers folded in decimal(38,0), slopes/intercepts one
    * double division from Cramer pairs, squared residuals
    * micro-quantized before the three RSS folds (the grangerLag1
    * convention). PERIOD-bounded frame.
    */
  def chowTest(series: DataFrame, orderCol: String, valueCol: String,
      inSegment2: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val w = Window.orderBy(col("__o"))
    val rows = series.select(col(orderCol).as("__o"),
        col(valueCol).cast("long").as("__y"),
        when(inSegment2, 1L).otherwise(0L).as("__s2"))
      .withColumn("__t", row_number().over(w).cast("long"))
    def d(c: Column) = c.cast(dec)
    def moments(flag: Column) = Seq(
      sum(when(flag, 1L).otherwise(0L)).cast("long"),
      sum(when(flag, col("__t")).otherwise(0L)).cast(dec),
      sum(when(flag, col("__y")).otherwise(0L)).cast(dec),
      sum(when(flag, (d(col("__t")) * col("__t")).cast(dec))
        .otherwise(lit(0).cast(dec))).cast(dec),
      sum(when(flag, (d(col("__t")) * col("__y")).cast(dec))
        .otherwise(lit(0).cast(dec))).cast(dec))
    val all = lit(true)
    val seg1 = col("__s2") === 0L
    val seg2 = col("__s2") === 1L
    val names = for (s <- Seq("p", "a", "b"); m <- Seq("n", "st", "sy",
      "stt", "sty")) yield s + m
    val aggCols = (moments(all) ++ moments(seg1) ++ moments(seg2))
      .zip(names).map { case (c, n) => c.as(n) }
    val m = rows.agg(aggCols.head, aggCols.tail: _*)
    def fit(p: String) = {
      val n = col(p + "n").cast(dec)
      val den = (n * col(p + "stt") - col(p + "st") * col(p + "st"))
        .cast(dec)
      val bNum = (n * col(p + "sty") - col(p + "st") * col(p + "sy"))
        .cast(dec)
      val aNum = (col(p + "sy") * col(p + "stt") -
        col(p + "st") * col(p + "sty")).cast(dec)
      val dd = when(den.cast("double") =!= 0.0, den.cast("double"))
      (aNum.cast("double") / dd, bNum.cast("double") / dd)
    }
    val (pa, pb) = fit("p")
    val (aa, ab) = fit("a")
    val (ba, bb) = fit("b")
    val coef = m.select(col("pn"), col("an").as("n1"),
      col("bn").as("n2"), pa.as("__pa"), pb.as("__pb"),
      aa.as("__aa"), ab.as("__ab"), ba.as("__ba"), bb.as("__bb"))
    val res = rows.crossJoin(broadcast(coef))
    val y = col("__y").cast("double")
    val t = col("__t").cast("double")
    def rq(a: Column, b: Column) = {
      val e = y - a - b * t
      round((e * e) * 1e6, 0).cast("long")
    }
    val rss = res.select(col("n1"), col("n2"),
        rq(col("__pa"), col("__pb")).as("__rp"),
        when(col("__s2") === 0L, rq(col("__aa"), col("__ab")))
          .otherwise(rq(col("__ba"), col("__bb"))).as("__rs"))
      .groupBy(col("n1"), col("n2"))
      .agg(sum(col("__rp")).cast("long").as("__sp"),
        sum(col("__rs")).cast("long").as("__ss"))
    val n = col("n1") + col("n2")
    rss.select(col("n1"), col("n2"),
      round(col("__sp").cast("double") / 1e6, 6).as("rss_pooled"),
      round(col("__ss").cast("double") / 1e6, 6).as("rss_split"),
      when(col("__ss") > 0L && n > 4L && col("n1") > 1L &&
          col("n2") > 1L,
        round(((col("__sp") - col("__ss")).cast("double") / 2.0) /
          (col("__ss").cast("double") / (n - 4L)), 6)).as("f_stat"))
  }

  /** X412 — per-point regression influence on a PERIOD series: OLS
    * fit y = a + b·t, then for every point the residual, the exact
    * leverage h_t = 1/n + (nt−Σt)²/(n·Sxx), and Cook's distance
    * D = e²h/(2s²(1−h)²) with s² = RSS/(n−2) — "which single day is
    * dragging the trend line", the diagnostic to run before trusting
    * X221's slope. Same integer-moment/Cramer/micro-quantized-RSS
    * contract as [[chowTest]]; leverage is an exact rational.
    */
  def regressionInfluence(series: DataFrame, orderCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val w = Window.orderBy(col("__o"))
    val rows = series.select(col(orderCol).as("__o"),
        col(valueCol).cast("long").as("__y"))
      .withColumn("__t", row_number().over(w).cast("long"))
    def d(c: Column) = c.cast(dec)
    val m = rows.agg(count(lit(1)).cast("long").as("n"),
      sum(col("__t")).cast(dec).as("st"),
      sum(col("__y")).cast(dec).as("sy"),
      sum((d(col("__t")) * col("__t")).cast(dec)).cast(dec).as("stt"),
      sum((d(col("__t")) * col("__y")).cast(dec)).cast(dec).as("sty"))
    val nD = col("n").cast(dec)
    val sxx = (nD * col("stt") - col("st") * col("st")).cast(dec)
    val dd = when(sxx.cast("double") =!= 0.0, sxx.cast("double"))
    val coef = m.select(col("n"), col("st"),
      sxx.as("__sxx"),
      ((col("sy") * col("stt") - col("st") * col("sty"))
        .cast("double") / dd).as("__a"),
      ((nD * col("sty") - col("st") * col("sy")).cast("double") / dd)
        .as("__b"))
    val joined = rows.crossJoin(broadcast(coef))
    val y = col("__y").cast("double")
    val t = col("__t").cast("double")
    val e = y - col("__a") - col("__b") * t
    val e2q = round((e * e) * 1e6, 0).cast("long")
    val withE = joined.select(col("__o"), col("__y"), col("__t"),
      col("n"), col("st"), col("__sxx"), col("__a"), col("__b"),
      e.as("__e"), e2q.as("__e2"))
    val rssF = withE.groupBy(lit(1).as("__g"))
      .agg(sum(col("__e2")).cast("long").as("__rss"))
    val out = withE.crossJoin(broadcast(rssF))
    // exact-rational leverage: 1/n + (n·t − Σt)² / (n·Sxx)
    val hv = lit(1.0) / col("n") +
      ((col("n").cast(dec) * col("__t") - col("st")).cast(dec) *
        (col("n").cast(dec) * col("__t") - col("st")).cast(dec))
        .cast("double") /
      (col("n").cast("double") * col("__sxx").cast("double"))
    val s2 = (col("__rss").cast("double") / 1e6) / (col("n") - 2L)
    val cooks = (col("__e") * col("__e")) * hv /
      (lit(2.0) * s2 * (lit(1.0) - hv) * (lit(1.0) - hv))
    out.filter(col("n") > 2L)
      .select(col("__o").as("bucket"), col("__y").as("value"),
        col("__t").as("t"),
        round(col("__a") + col("__b") * t, 6).as("fitted"),
        round(col("__e"), 6).as("residual"),
        round(hv, 6).as("leverage"),
        when(s2 > 0.0, round(cooks, 6)).as("cooks_d"),
        when(s2 > 0.0, cooks > lit(4.0) / col("n"))
          .as("influential"))
      .orderBy(col("t"))
  }

  /** X413 — Western Electric control-chart rules on a PERIOD series:
    * rule 1 = one point beyond 3σ, rule 2 = 2 of 3 consecutive
    * beyond 2σ on the SAME side, rule 3 = 4 of 5 beyond 1σ same
    * side, rule 4 = 8 consecutive on one side of the mean — the
    * classical alarm ladder that catches drifts CUSUM sees late and
    * single-point z-scores never see. μ and σ from exact integer
    * moments (sample variance); every rule is a windowed integer
    * count over fixed-shape boolean comparisons, so the flags are
    * engine-exact.
    */
  def westernElectric(series: DataFrame, orderCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val rows = series.select(col(orderCol).as("__o"),
      col(valueCol).cast("long").as("__y"))
    val m = rows.agg(count(lit(1)).cast("long").as("n"),
      sum(col("__y")).cast(dec).as("s"),
      sum((col("__y").cast(dec) * col("__y")).cast(dec)).cast(dec)
        .as("ss"))
    val nd = col("n").cast("double")
    val mu = col("s").cast("double") / nd
    val varS = (col("ss").cast("double") -
      col("s").cast("double") * col("s").cast("double") / nd) /
      (nd - 1.0)
    val coef = m.select(col("n"), mu.as("__mu"),
      when(col("n") > 1L && varS > 0.0, sqrt(varS)).as("__sd"))
    val j = rows.crossJoin(broadcast(coef))
    val y = col("__y").cast("double")
    val hi = (k: Int) => y > col("__mu") + lit(k.toDouble) * col("__sd")
    val lo = (k: Int) => y < col("__mu") - lit(k.toDouble) * col("__sd")
    val w3 = Window.orderBy(col("__o")).rowsBetween(-2, 0)
    val w5 = Window.orderBy(col("__o")).rowsBetween(-4, 0)
    val w8 = Window.orderBy(col("__o")).rowsBetween(-7, 0)
    def cnt(c: Column, w: org.apache.spark.sql.expressions.WindowSpec) =
      sum(when(c, 1L).otherwise(0L)).over(w)
    val nRows = count(lit(1)).over(w8)
    j.select(col("__o").as("bucket"), col("__y").as("value"),
        round((y - col("__mu")) / col("__sd"), 6).as("z"),
        (hi(3) || lo(3)).as("r1"),
        (cnt(hi(2), w3) >= 2L || cnt(lo(2), w3) >= 2L).as("r2"),
        (cnt(hi(1), w5) >= 4L || cnt(lo(1), w5) >= 4L).as("r3"),
        (nRows === 8L && (cnt(y > col("__mu"), w8) === 8L ||
          cnt(y < col("__mu"), w8) === 8L)).as("r4"))
      .withColumn("any_signal",
        col("r1") || col("r2") || col("r3") || col("r4"))
      .orderBy(col("bucket"))
  }

  /** X299 — Wald-Wolfowitz runs test on a boolean PERIOD series
    * (e.g. "day above the mean"): R = observed runs vs the
    * μ = 2n₁n₀/N + 1, σ² = 2n₁n₀(2n₁n₀−N)/(N²(N−1)) expected under
    * randomness — the cheap is-the-sequence-random gate that catches
    * regime stretches [[acfLjungBox]] sees only in aggregate (ten
    * hot days in a row is two runs; ACF needs the lag to line up).
    * Runs count via one lag window on the PERIOD-bounded series (the
    * durbinWatson class — never the raw stream); every input to μ/σ
    * is an exact integer, z is one fixed-shape double, round(6);
    * NULL when either side is empty (σ = 0).
    */
  def runsTest(series: DataFrame, orderCol: String, boolCol: Column)
      : DataFrame = {
    val w = Window.orderBy(col("__o"))
    val base = series.select(col(orderCol).as("__o"),
        when(boolCol, 1L).otherwise(0L).as("__x"))
      .withColumn("__prev", lag(col("__x"), 1).over(w))
    val agg = base.agg(count(lit(1)).cast("long").as("n"),
      sum(col("__x")).cast("long").as("n_true"),
      (count(lit(1)) - sum(col("__x"))).cast("long").as("n_false"),
      (lit(1L) + sum(when(col("__prev").isNotNull &&
        col("__prev") =!= col("__x"), 1L).otherwise(0L)))
        .cast("long").as("runs"))
    val nd = col("n").cast("double")
    val prod2 = lit(2.0) * col("n_true").cast("double") *
      col("n_false").cast("double")
    val mu = prod2 / nd + 1.0
    val sigma2 = prod2 * (prod2 - nd) / (nd * nd * (nd - 1.0))
    agg.select(col("n"), col("n_true"), col("n_false"), col("runs"),
      when(col("n_true") > 0L && col("n_false") > 0L && sigma2 > 0.0,
        round((col("runs").cast("double") - mu) / sqrt(sigma2), 6))
        .as("z_stat"))
  }

  /** X300 — Dickey-Fuller unit-root t statistic (constant, no trend,
    * lag 0): regress Δx_t on x_{t−1}, report ρ̂ and t = ρ̂/se(ρ̂) —
    * "is this series mean-reverting or a random walk", the question
    * under every [[mannKendall]] trend call and X112 z-score (both
    * assume SOME stationarity; a unit root makes their thresholds
    * fiction). t ≪ 0 rejects the unit root; compare to the
    * Dickey-Fuller (not normal) critical values, e.g. −2.86 at 5%.
    *
    * Everything is closed-form from ONE pass of exact integer sums —
    * x and y = Δx are integers, so Sxx/Sxy/Syy fold exactly in
    * decimal and RSS = Syy − ρ̂·Sxy needs no residual pass (the
    * interruptedSeries OLS machinery, minus the second scan).
    * Period-bounded lag window only. NULL on n < 3 or zero Sxx.
    */
  def dickeyFuller(series: DataFrame, orderCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val w = Window.orderBy(col("__o"))
    val base = series.select(col(valueCol).cast("long").as("__v"),
        col(orderCol).as("__o"))
      .withColumn("__prev", lag(col("__v"), 1).over(w))
      .filter(col("__prev").isNotNull)
      .select(col("__prev").as("__x"),
        (col("__v") - col("__prev")).as("__y"))
    val sums = base.agg(count(lit(1)).cast("long").as("n"),
      sum(col("__x").cast(dec)).cast(dec).as("__sx"),
      sum(col("__y").cast(dec)).cast(dec).as("__sy"),
      sum((col("__x").cast(dec) * col("__x")).cast(dec)).cast(dec)
        .as("__sxx"),
      sum((col("__x").cast(dec) * col("__y")).cast(dec)).cast(dec)
        .as("__sxy"),
      sum((col("__y").cast(dec) * col("__y")).cast(dec)).cast(dec)
        .as("__syy"))
    def d(c: Column) = c.cast("double")
    val nd = d(col("n"))
    val sxx = d(col("__sxx")) - d(col("__sx")) * d(col("__sx")) / nd
    val sxy = d(col("__sxy")) - d(col("__sx")) * d(col("__sy")) / nd
    val syy = d(col("__syy")) - d(col("__sy")) * d(col("__sy")) / nd
    val rho = sxy / when(sxx > 0.0, sxx)
    val rss = syy - rho * sxy
    val se = sqrt(rss / (nd - 2.0) / sxx)
    val ok = col("n") > 2L && sxx > 0.0 && rss > 0.0
    sums.select(col("n"),
      when(sxx > 0.0, round(rho, 6)).as("rho"),
      when(ok, round(rho / se, 6)).as("df_t"))
  }

  /** X301 — retrospective single-changepoint locator (binary
    * segmentation, step one): the split t maximizing \|C_t\| where
    * C_t = prefixSum_t − (t/n)·total — the "WHEN did the level
    * shift" answer to go with [[cusum]]'s online "has it shifted"
    * alarm. n·C_t = n·P_t − t·S is an EXACT integer, so the argmax
    * (ties → earliest period) is engine-exact; means before/after
    * the split are exact rationals, round(6). Two period-bounded
    * ordered passes (prefix sums + the argmax pick).
    */
  def changepoint(series: DataFrame, orderCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val w = Window.orderBy(col("__o"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = series.select(col(valueCol).cast("long").as("__v"),
        col(orderCol).as("__o"))
      .withColumn("__t",
        count(lit(1)).over(w).cast("long"))
      .withColumn("__p", sum(col("__v")).over(w).cast(dec))
    val tot = base.agg(max(col("__t")).as("__n"),
      sum(col("__v")).cast(dec).as("__s"))
    val scored = base.crossJoin(broadcast(tot))
      .filter(col("__t") < col("__n")) // a split needs both sides
      .withColumn("__g",
        abs(col("__p") * col("__n") - col("__s") * col("__t"))
          .cast(dec))
    val best = scored.agg(max(col("__g")).as("__gmax"))
    scored.crossJoin(broadcast(best))
      .filter(col("__g") === col("__gmax"))
      .groupBy(col("__n"), col("__s"), col("__gmax"))
      .agg(min(col("__t")).as("__tbest"))
      .join(scored.select(col("__t").as("__tbest"), col("__o"),
        col("__p")), Seq("__tbest"))
      .select(col("__o").as("changepoint_at"),
        col("__tbest").as("split_index"),
        col("__n").cast("long").as("n"),
        round(col("__gmax").cast("double") /
          col("__n").cast("double"), 6).as("cusum_max"),
        round(col("__p").cast("double") /
          col("__tbest").cast("double"), 6).as("mean_before"),
        round((col("__s") - col("__p")).cast("double") /
          (col("__n") - col("__tbest")).cast("double"), 6)
          .as("mean_after"))
  }

  /** X302 — EWMA smoothing with a bounded lookback: s_t =
    * Σ_{j<w} (1−λ)^j·x_{t−j} / Σ_{j<w} (1−λ)^j over the ordered
    * period series — the control-chart level line whose deviations
    * X112's rolling z reads, with the truncated-window normalization
    * making early rows proper weighted means instead of biased-low
    * warmup. The frame is collect_list over a BOUNDED window (w
    * rows, frame order = period order), folded by a fixed-shape
    * weight expression; with λ = 0.5 (the query's choice) every
    * weight is an exact power of two, so both engines fold identical
    * doubles. Period-bounded; round(6).
    */
  def ewma(series: DataFrame, orderCol: String, valueCol: String,
      lambda: Double = 0.5, lookback: Int = 8): DataFrame = {
    require(lambda > 0 && lambda < 1, s"bad lambda $lambda")
    require(lookback >= 1 && lookback <= 64, s"bad lookback $lookback")
    val w = Window.orderBy(col("__o"))
      .rowsBetween(-(lookback - 1), Window.currentRow)
    val r = 1.0 - lambda
    series.select(col(orderCol).as("__o"), col(valueCol).as("__raw"),
        col(valueCol).cast("double").as("__v"))
      .withColumn("__frame", collect_list(col("__v")).over(w))
      .select(col("__o").as(orderCol), col("__raw").as("value"),
        round(expr(
          s"""aggregate(zip_with(__frame,
                sequence(size(__frame) - 1, 0, -1),
                (x, j) -> x * power($r, j)),
              CAST(0.0 AS DOUBLE), (acc, t) -> acc + t)""") /
          expr(s"""aggregate(sequence(0, size(__frame) - 1),
              CAST(0.0 AS DOUBLE), (acc, j) -> acc + power($r, j))"""),
          6).as("ewma"))
  }

  /** X305 — classical seasonal decomposition, the per-phase table:
    * detrend with a centered moving average of length `period` (odd;
    * rows lacking the full window drop), then each phase's seasonal
    * effect is the mean detrended value, CENTERED so effects sum to
    * ~0 — "Mondays run +1.8k events above trend", the calendar prior
    * under [[seasonalProfile]]'s raw buckets and the input X303's
    * seasonal-naive implicitly assumes. Detrended values are exact
    * rationals ((x·p − windowSum)/p — integer numerators from the
    * bounded window); per-phase means are one double division each,
    * nano-quantized before the across-phase centering fold so the
    * grand mean is engine-exact. Period-bounded end to end.
    */
  def seasonalDecompose(series: DataFrame, orderCol: String,
      valueCol: String, period: Int = 7): DataFrame = {
    require(period >= 3 && period % 2 == 1, s"period must be odd >= 3")
    val half = period / 2
    val w = Window.orderBy(col("__o"))
    val wMa = Window.orderBy(col("__o")).rowsBetween(-half, half)
    val dec = "decimal(38,0)"
    val base = series.select(col(valueCol).cast("long").as("__v"),
        col(orderCol).as("__o"))
      .withColumn("__t", row_number().over(w).cast("long"))
      .withColumn("__wsum", sum(col("__v")).over(wMa).cast(dec))
      .withColumn("__wc", count(lit(1)).over(wMa))
      .filter(col("__wc") === period)
      // detrended numerator: x·period − windowSum (exact integer)
      .withColumn("__dn",
        (col("__v").cast(dec) * period - col("__wsum")).cast(dec))
      .withColumn("__phase", pmod(col("__t") - 1L, lit(period.toLong)))
    val perPhase = base.groupBy(col("__phase").as("phase"))
      .agg(count(lit(1)).cast("long").as("n_obs"),
        sum(col("__dn")).cast(dec).as("__sdn"))
      .withColumn("__eff",
        col("__sdn").cast("double") /
          (lit(period.toDouble) * col("n_obs")))
      .withColumn("__effn", round(col("__eff") * 1e9, 0).cast("long"))
    val grand = perPhase.agg(
      (sum(col("__effn")).cast("double") / count(lit(1)))
        .as("__gm")) // exact long sum, one double division
    perPhase.crossJoin(broadcast(grand))
      .select(col("phase").cast("long").as("phase"), col("n_obs"),
        round(col("__eff"), 6).as("raw_effect"),
        round((col("__effn").cast("double") - col("__gm")) / 1e9, 6)
          .as("seasonal"))
  }

  /** X319 — Hurst exponent by rescaled-range (R/S) analysis over a
    * fixed ladder of block sizes: partition the period series into
    * full blocks of each size, compute each block's range-of-
    * cumulative-deviations over its std, average per size, and fit
    * ln(R/S) against ln(size) — H ≈ 0.5 is memoryless, H → 1 means
    * long-range persistence (trends feed on themselves: X280's ACF
    * sees short lags, Hurst sees the SCALING of memory). Detects the
    * "slow burn" regime drift that per-lag tools under-read.
    *
    * Determinism: block ids are integer (t−1) div size; per-block
    * sums are exact; each block's R/S is a fixed-shape double
    * nano-quantized before the per-size mean; the 3-point log-log
    * slope is closed-form least squares on identical doubles.
    * Everything is block-partitioned windows — period-bounded, never
    * a global pass beyond the series itself.
    */
  def hurstExponent(series: DataFrame, orderCol: String,
      valueCol: String, sizes: Seq[Int] = Seq(8, 16, 32)): DataFrame = {
    require(sizes.size >= 2 && sizes.forall(_ >= 4), s"bad $sizes")
    val dec = "decimal(38,0)"
    val wOrd = Window.orderBy(col("__o"))
    // r16: every block-size branch of the union (and, through `pts`,
    // the final readout join) re-executed the caller's upstream
    // series build — for q_hurst a full events scan + daily aggregate
    // per branch (guide §2.4, the dsirWeights pattern). The indexed
    // series is tiny (one row per period), so checkpoint it once and
    // let all |sizes| branches + both pts consumers read the cached
    // blocks. Values unchanged: same rows, same global order index.
    val idx = series.select(col(valueCol).cast("long").as("__v"),
        col(orderCol).as("__o"))
      .withColumn("__t", row_number().over(wOrd).cast("long"))
      .transform(Materialize.cut)
    val perSize = sizes.map { sz =>
      val blocked = idx
        .withColumn("__b", expr(s"(__t - 1) div $sz"))
        .withColumn("__i", expr(s"(__t - 1) % $sz") + 1L)
      val wBlk = Window.partitionBy(col("__b")).orderBy(col("__i"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val stats = blocked
        .withColumn("__cnt",
          count(lit(1)).over(Window.partitionBy(col("__b"))))
        .filter(col("__cnt") === sz)
        .withColumn("__bs",
          sum(col("__v")).over(Window.partitionBy(col("__b")))
            .cast("long"))
        // cumulative deviation numerator: sz·P_i − i·S_block (int)
        .withColumn("__p", sum(col("__v")).over(wBlk).cast("long"))
        .withColumn("__zn",
          (col("__p").cast(dec) * sz - col("__i").cast(dec) *
            col("__bs")).cast(dec))
      val perBlock = stats.groupBy(col("__b"))
        .agg((max(col("__zn")) - min(least(col("__zn"), lit(0)
            .cast(dec)))).cast(dec).as("__rn"),
          max(col("__bs")).as("__bs"),
          sum((col("__v").cast(dec) * col("__v")).cast(dec)).cast(dec)
            .as("__ss"))
      // R = (max Z − min(Z, 0 incl.))/sz in value units; S =
      // population std; both fixed-shape doubles from exact ints
      val r = col("__rn").cast("double") / sz
      val meanB = col("__bs").cast("double") / sz
      val varP = col("__ss").cast("double") / sz - meanB * meanB
      val rs = r / sqrt(when(varP > 0.0, varP))
      perBlock
        .select(round(rs * 1e9, 0).cast("long").as("__rsn"))
        .filter(col("__rsn").isNotNull)
        .agg(count(lit(1)).cast("long").as("n_blocks"),
          (sum(col("__rsn")).cast("double") / count(lit(1)) / 1e9)
            .as("__meanRs"))
        .select(lit(sz).cast("long").as("block_size"),
          col("n_blocks"), round(col("__meanRs"), 6).as("mean_rs"))
    }.reduce(_ unionAll _)
    // closed-form slope of ln(mean_rs) on ln(size) over the ladder
    val pts = perSize.filter(col("mean_rs") > 0.0)
      .select(col("block_size"), col("n_blocks"), col("mean_rs"),
        log(col("block_size").cast("double")).as("__x"),
        log(col("mean_rs")).as("__y"))
    val fit = pts.agg(count(lit(1)).cast("long").as("__k"),
      sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
      sum(col("__x") * col("__x")).as("__sxx"),
      sum(col("__x") * col("__y")).as("__sxy"))
    val kd = col("__k").cast("double")
    val slope = (kd * col("__sxy") - col("__sx") * col("__sy")) /
      (kd * col("__sxx") - col("__sx") * col("__sx"))
    pts.crossJoin(broadcast(fit.select(col("__k"),
        when(col("__k") > 1L, round(slope, 6)).as("hurst"))))
      .select(col("block_size"), col("n_blocks"), col("mean_rs"),
        col("hurst"))
      .orderBy(col("block_size"))
  }

  /** X315 — Page-Hinkley increase detector (retrospective): the
    * excursion PH_T = m_T − min_{t≤T} m_t of the cumulative
    * mean-adjusted deviations m_t = Σ_{i≤t}(x_i − x̄_i − δ), with the
    * alarm at PH > λ — the classic sequential drift test between
    * X196's CUSUM (known target mean) and X301's retrospective
    * argmax (no running-mean adaptation): PH self-centers on the
    * RUNNING mean, so slow level creep still trips it. Per-step
    * terms are exact rationals (x_i·i − P_i)/i, nano-quantized
    * before the prefix fold; the running min and the argmax pick are
    * integer-exact. Period-bounded ordered passes only.
    */
  def pageHinkley(series: DataFrame, orderCol: String,
      valueCol: String, delta: Double = 0.0, lambda: Double)
      : DataFrame = {
    require(lambda > 0, s"bad lambda $lambda")
    val w = Window.orderBy(col("__o"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = series.select(col(valueCol).cast("long").as("__v"),
        col(orderCol).as("__o"))
      .withColumn("__t", count(lit(1)).over(w).cast("long"))
      .withColumn("__p", sum(col("__v")).over(w).cast("long"))
      // (x_i − P_i/i − δ) in nano units, from the exact integer
      // numerator x_i·i − P_i
      .withColumn("__term",
        round(((col("__v") * col("__t") - col("__p")).cast("double") /
          col("__t").cast("double") - lit(delta)) * 1e9, 0)
          .cast("long"))
      .withColumn("__m", sum(col("__term")).over(w))
      .withColumn("__runMin", min(col("__m")).over(w))
      .withColumn("__ph", col("__m") - col("__runMin"))
    val best = base.agg(max(col("__ph")).as("__phMax"),
      max(col("__t")).as("n"))
    base.crossJoin(broadcast(best))
      .filter(col("__ph") === col("__phMax"))
      .groupBy(col("__phMax"), col("n"))
      .agg(min(col("__t")).as("__tb"))
      .join(base.select(col("__t").as("__tb"), col("__o")),
        Seq("__tb"))
      .select(col("n").cast("long").as("n"),
        col("__o").as("ph_max_at"),
        round(col("__phMax").cast("double") / 1e9, 6).as("ph_max"),
        (col("__phMax").cast("double") / 1e9 > lambda).as("alarm"))
  }

  /** X334 — seasonal strength (the STL diagnostic): F_s = max(0,
    * 1 − Var(remainder)/Var(detrended)) — how much of the detrended
    * variation the [[seasonalDecompose]] phase effects actually
    * explain: F_s near 0 says the "weekly pattern" is noise and
    * X303's seasonal-naive will not beat naive; near 1 says the
    * calendar owns the series. Composes X305's exact machinery: the
    * detrended values and the centered phase effects both live on
    * nano-integer grids (the phase effect re-derives from the SAME
    * quantized folds), so the two variances come from exact integer
    * moment sums and F_s is one fixed-shape double, round(6).
    */
  def seasonalStrength(series: DataFrame, orderCol: String,
      valueCol: String, period: Int = 7): DataFrame = {
    require(period >= 3 && period % 2 == 1, s"period must be odd >= 3")
    val half = period / 2
    val w = Window.orderBy(col("__o"))
    val wMa = Window.orderBy(col("__o")).rowsBetween(-half, half)
    val dec = "decimal(38,0)"
    val base = series.select(col(valueCol).cast("long").as("__v"),
        col(orderCol).as("__o"))
      .withColumn("__t", row_number().over(w).cast("long"))
      .withColumn("__wsum", sum(col("__v")).over(wMa).cast(dec))
      .withColumn("__wc", count(lit(1)).over(wMa))
      .filter(col("__wc") === period)
      .withColumn("__dn",
        (col("__v").cast(dec) * period - col("__wsum")).cast(dec))
      .withColumn("__phase", pmod(col("__t") - 1L, lit(period.toLong)))
      // detrended value on the nano grid: (x·p − wsum)/p · 1e9
      .withColumn("__detn",
        round(col("__dn").cast("double") / period * 1e9, 0)
          .cast("long"))
    val perPhase = base.groupBy(col("__phase"))
      .agg(count(lit(1)).cast("long").as("__nObs"),
        sum(col("__dn")).cast(dec).as("__sdn"))
      .withColumn("__effn",
        round(col("__sdn").cast("double") /
          (lit(period.toDouble) * col("__nObs")) * 1e9, 0)
          .cast("long"))
    val gm = perPhase.agg(
      (sum(col("__effn")).cast("double") / count(lit(1))).as("__gm"))
    val seas = perPhase.crossJoin(broadcast(gm))
      .select(col("__phase"),
        round(col("__effn").cast("double") - col("__gm"), 0)
          .cast("long").as("__seasN"))
    val joined = base.join(broadcast(seas), Seq("__phase"))
      .withColumn("__resN", col("__detn") - col("__seasN"))
    val sums = joined.agg(count(lit(1)).cast("long").as("n_obs"),
      sum(col("__detn").cast(dec)).cast(dec).as("__sd"),
      sum((col("__detn").cast(dec) * col("__detn")).cast(dec))
        .cast(dec).as("__sdd"),
      sum(col("__resN").cast(dec)).cast(dec).as("__sr"),
      sum((col("__resN").cast(dec) * col("__resN")).cast(dec))
        .cast(dec).as("__srr"))
    def d(c: Column) = c.cast("double")
    val nd = d(col("n_obs"))
    val varD = (d(col("__sdd")) - d(col("__sd")) * d(col("__sd")) / nd) /
      nd / 1e18
    val varR = (d(col("__srr")) - d(col("__sr")) * d(col("__sr")) / nd) /
      nd / 1e18
    sums.select(col("n_obs"), lit(period.toLong).as("period"),
      round(varD, 6).as("var_detrended"),
      round(varR, 6).as("var_remainder"),
      when(varD > 0.0,
        round(greatest(lit(0.0), lit(1.0) - varR / varD), 6))
        .as("seasonal_strength"))
  }

  /** X303 — one-step-ahead forecast backtest: naive (ŷ = x_{t−1})
    * vs seasonal-naive (ŷ = x_{t−season}) on the same series, each
    * scored with MAE, RMSE, and SMAPE — the baseline table every
    * "should we build a forecaster" conversation starts from (if
    * seasonal-naive already hits 5% SMAPE, don't). Errors are exact
    * integers from the lag windows; MAE/RMSE are one division each;
    * SMAPE's per-row rational quantizes to nano before the fold (the
    * nelsonAalen convention). Period-bounded lag windows only.
    */
  def forecastBacktest(series: DataFrame, orderCol: String,
      valueCol: String, season: Int = 7): DataFrame = {
    require(season >= 2, s"bad season $season")
    val dec = "decimal(38,0)"
    val w = Window.orderBy(col("__o"))
    val base = series.select(col(valueCol).cast("long").as("__v"),
        col(orderCol).as("__o"))
      .withColumn("__naive", lag(col("__v"), 1).over(w))
      .withColumn("__seasonal", lag(col("__v"), season).over(w))
    def score(predCol: String, label: String): DataFrame = {
      val e = col("__v") - col(predCol)
      val smapeTerm = round(
        lit(2.0) * abs(e).cast("double") /
          (abs(col("__v")) + abs(col(predCol))).cast("double") * 1e9,
        0).cast("long")
      base.filter(col(predCol).isNotNull &&
          (abs(col("__v")) + abs(col(predCol))) > 0L)
        .agg(count(lit(1)).cast("long").as("n_forecasts"),
          sum(abs(e).cast(dec)).cast(dec).as("__sae"),
          sum((e.cast(dec) * e).cast(dec)).cast(dec).as("__sse"),
          sum(smapeTerm).cast("long").as("__ssm"))
        .select(lit(label).as("method"), col("n_forecasts"),
          round(col("__sae").cast("double") / col("n_forecasts"), 6)
            .as("mae"),
          round(sqrt(col("__sse").cast("double") /
            col("n_forecasts")), 6).as("rmse"),
          round(col("__ssm").cast("double") / 1e9 /
            col("n_forecasts"), 6).as("smape"))
    }
    score("__naive", "naive").unionAll(score("__seasonal", "seasonal"))
  }

  /** X281 — Durbin-Watson first-order autocorrelation test on the
    * residuals of the series' own OLS time trend: detrend x_t against
    * the period index with the closed-form slope/intercept (exact
    * integer sums, one fixed-shape double pair — the X241/X269
    * convention), micro-quantize each residual, then
    * DW = Σ(e_t−e_{t−1})²/Σe_t² from exact integer folds. DW ≈ 2
    * means independent residuals; DW → 0 positive autocorrelation
    * (the trend-call killer), → 4 negative. Also reports the implied
    * ρ̂₁ = 1 − DW/2. Period-bounded end to end.
    */
  def durbinWatson(series: DataFrame, orderCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val w = Window.orderBy(col("__o"))
    val idx = series.select(col(valueCol).cast("long").as("__v"),
        col(orderCol).as("__o"))
      .withColumn("__t", row_number().over(w).cast("long"))
    val sums = idx.agg(count(lit(1)).cast("long").as("n"),
      sum(col("__v")).cast(dec).as("__sv"),
      sum(col("__t")).cast(dec).as("__st"),
      sum((col("__t").cast(dec) * col("__t")).cast(dec)).cast(dec)
        .as("__stt"),
      sum((col("__t").cast(dec) * col("__v")).cast(dec)).cast(dec)
        .as("__stv"))
    def d(c: Column) = c.cast("double")
    val slope = (d(col("n")) * d(col("__stv")) -
      d(col("__st")) * d(col("__sv"))) /
      (d(col("n")) * d(col("__stt")) - d(col("__st")) * d(col("__st")))
    val icept = (d(col("__sv")) - slope * d(col("__st"))) / d(col("n"))
    val fitted = idx.crossJoin(broadcast(
      sums.select(col("n"), round(slope, 12).as("__b"),
        round(icept, 12).as("__a"))))
    val resid = fitted.withColumn("__e",
      round((d(col("__v")) - col("__a") - col("__b") * col("__t"))
        * 1e6, 0).cast("long"))
    val diffed = resid.withColumn("__ep", lag(col("__e"), 1).over(w))
    diffed.agg(max(col("n")).as("n"),
        max(round(col("__b"), 6)).as("slope"),
        sum((col("__e").cast(dec) * col("__e")).cast(dec)).cast(dec)
          .as("__see"),
        sum(((col("__e") - col("__ep")).cast(dec) *
          (col("__e") - col("__ep"))).cast(dec)).cast(dec).as("__sd"))
      .select(col("n"), col("slope"),
        when(col("__see") > 0,
          round(col("__sd").cast("double") /
            col("__see").cast("double"), 6)).as("dw"),
        when(col("__see") > 0,
          round(lit(1.0) - col("__sd").cast("double") /
            col("__see").cast("double") / 2.0, 6)).as("rho1"))
  }

  /** X375 — KPSS level-stationarity statistic (Kwiatkowski et al.
    * 1992), lag-`lags` Bartlett window: η̂ = n⁻²ΣS_t² over the
    * cumulative demeaned series against the long-run variance — the
    * COMPLEMENT of [[dickeyFuller]] (DF's null is the unit root,
    * KPSS's null is stationarity; run both and the four quadrants
    * are diagnostic: both reject → neither model fits). Large KPSS
    * (> 0.463 at 5%) rejects level stationarity.
    *
    * Exactness: residuals scale to integers E_t = n·x_t − Σx (never
    * a double mean), so the cumulative S_t, η = ΣS², and every
    * autocovariance γ_j = ΣE_tE_{t−j} fold exactly in decimal; the
    * Bartlett combination multiplies through by (l+1) —
    * s2l = (l+1)γ₀ + 2Σ(l+1−j)γ_j stays an exact integer — and the
    * statistic collapses to (l+1)·η / (n·s2l): ONE double division.
    * NULL on a constant series (s2l = 0). Period-bounded single-task
    * windows on the calendar-sized series (the dickeyFuller class).
    */
  def kpssTest(series: DataFrame, orderCol: String, valueCol: String,
      lags: Int = 4): DataFrame = {
    require(lags >= 0 && lags <= 48, s"bad lags $lags")
    val dec = "decimal(38,0)"
    val w = Window.orderBy(col("__o"))
    val base = series.select(col(valueCol).cast("long").as("__v"),
      col(orderCol).as("__o"))
    val tot = base.agg(count(lit(1)).cast("long").as("__n"),
      sum(col("__v")).cast(dec).as("__t"))
    val e = base.crossJoin(broadcast(tot))
      .withColumn("__e",
        (col("__n").cast(dec) * col("__v") - col("__t")).cast(dec))
    val cum = e.withColumn("__s", sum(col("__e")).over(
      w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val lagged = (1 to lags).foldLeft(cum) { (d, j) =>
      d.withColumn(s"__l$j", lag(col("__e"), j).over(w))
    }
    val aggs = Seq(max(col("__n")).as("n"),
      sum((col("__s") * col("__s")).cast(dec)).cast(dec).as("__eta"),
      sum((col("__e") * col("__e")).cast(dec)).cast(dec).as("__g0")) ++
      (1 to lags).map(j =>
        sum((col("__e") * col(s"__l$j")).cast(dec)).cast(dec)
          .as(s"__g$j"))
    val agg = lagged.agg(aggs.head, aggs.tail: _*)
    val s2l = ((col("__g0") * (lags + 1)) +
      (1 to lags).map(j => col(s"__g$j") * (2 * (lags + 1 - j)))
        .reduceOption[Column](_ + _).getOrElse(lit(0))).cast(dec)
    agg.select(col("n"), lit(lags.toLong).as("lags"),
      when(s2l > 0,
        round(lit((lags + 1).toDouble) * col("__eta").cast("double") /
          (col("n").cast("double") * s2l.cast("double")), 6))
        .as("kpss_stat"))
  }

  /** X393 — Holt's linear-trend double exponential smoothing with
    * α = β = 1/2 on an INTEGER-QUANTIZED state: level and trend live
    * on the micro grid and every update is one floor-halving of an
    * exact integer sum (l_t = ⌊(v_t·10⁶ + l_{t−1} + b_{t−1})/2⌋,
    * b_t = ⌊(b_{t−1} + l_t − l_{t−1})/2⌋, seeded l₁ = v₁·10⁶,
    * b₁ = (v₂ − v₁)·10⁶), so the inherently sequential recursion
    * replays bit-exactly in a recursive CTE — the q_jump_shards
    * convention. The one-step-ahead forecast l + b is the capacity
    * trend line the anomaly shelf (EWMA/CUSUM) baselines against.
    *
    * Scale shape: the per-bucket aggregate is distributed; the
    * recursion runs on the CALENDAR-bounded bucket frame (days of
    * the stream — never event-sized) in one bounded task, the
    * Kaplan-Meier value-bounded class. Fitting thousands of series
    * at once is [[holtLinearByKey]], which distributes per key.
    */
  def holtLinear(series: DataFrame, orderCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val base = series.select(col(orderCol).cast("string").as("__o"),
      round(col(valueCol) * 1e6, 0).cast("long").as("__v"))
    val outSchema = StructType(Seq(
      StructField("bucket", StringType, nullable = true),
      StructField("value", DoubleType, nullable = true),
      StructField("level", DoubleType, nullable = true),
      StructField("trend", DoubleType, nullable = true),
      StructField("forecast", DoubleType, nullable = true)))
    val rows = base.repartition(1).sortWithinPartitions(col("__o"))
      .queryExecution.toRdd.mapPartitions { it =>
        val buf = it.map(r => (r.getUTF8String(0).toString, r.getLong(1)))
          .toArray
        hlFoldL(buf).map { case (o, v, l, b, f) =>
          Row(o, v / 1e6, l / 1e6, b.map(_ / 1e6).orNull,
            f.map(_ / 1e6).orNull)
        }
      }
    base.sparkSession.createDataFrame(rows, outSchema)
      .select(col("bucket"), round(col("value"), 6).as("value"),
        round(col("level"), 6).as("level"),
        round(col("trend"), 6).as("trend"),
        round(col("forecast"), 6).as("forecast"))
  }

  /** The Holt linear recursion over one already-ordered micro-scaled
    * series — shared by the single-series plan above and the grouped
    * [[holtLinearByKey]], the same split [[hwFoldL]] gives
    * Holt-Winters. Input (bucket, v·10⁶) SORTED by bucket; output
    * (bucket, v, level, trend?, forecast?) in micro longs (None =
    * the seed rows' NULLs). A <2-row series is all seed: level = v,
    * trend/forecast NULL, the recursion never starts.
    */
  private[operators] def hlFoldL(buf: Array[(String, Long)])
      : Iterator[(String, Long, Long, Option[Long], Option[Long])] = {
    if (buf.length < 2) {
      buf.iterator.map { case (o, v) => (o, v, v, None, None) }
    } else {
      var l = buf(0)._2
      var b = buf(1)._2 - buf(0)._2
      val out =
        new Array[(String, Long, Long, Option[Long], Option[Long])](
          buf.length)
      out(0) = (buf(0)._1, buf(0)._2, l, Some(b), None)
      var i = 1
      while (i < buf.length) {
        val v = buf(i)._2
        val f = l + b
        val l2 = Math.floorDiv(v + l + b, 2L)
        b = Math.floorDiv(b + (l2 - l), 2L)
        l = l2
        out(i) = (buf(i)._1, v, l, Some(b), Some(f))
        i += 1
      }
      out.iterator
    }
  }

  /** Grouped Holt linear trend — [[holtLinear]]'s recursion run per
    * key inside `groupByKey.flatMapGroups`, the form a production
    * pipeline calls on THOUSANDS of series (per-tenant, per-metric):
    * one shuffle on the key, no single-partition bottleneck, each
    * key's buffer bounded by its own calendar-bucketed length. Same
    * shape as [[holtWintersByKey]]; grouped(single key) ==
    * single-series output, spec-asserted.
    */
  def holtLinearByKey(series: DataFrame, keyCol: String,
      orderCol: String, valueCol: String): DataFrame = {
    val spark = series.sparkSession
    import spark.implicits._
    val base = series.select(col(keyCol).cast("string"),
        col(orderCol).cast("string"),
        // explicit 0 for null values — the single-series path's
        // toRdd read yields 0 for a null slot; the tuple encoder
        // here would throw instead, so parity needs the coalesce
        coalesce(round(col(valueCol) * 1e6, 0).cast("long"), lit(0L)))
      .as[(String, String, Long)]
    base.groupByKey(_._1)
      .flatMapGroups { (k, it) =>
        // sort in UTF8String binary order — the exact comparator
        // sortWithinPartitions gives the single-series path (Java
        // String UTF-16 order diverges for supplementary-plane
        // labels). Encode each key ONCE.
        val buf = it.map(t =>
            (org.apache.spark.unsafe.types.UTF8String.fromString(t._2),
              t._2, t._3)).toArray
          .sortWith((x, y) => x._1.compareTo(y._1) < 0)
          .map(t => (t._2, t._3))
        hlFoldL(buf).map { case (o, v, l, b, f) =>
          (k, o, v / 1e6, l / 1e6, b.map(_ / 1e6), f.map(_ / 1e6))
        }
      }
      .toDF("key", "bucket", "value", "level", "trend", "forecast")
      .select(col("key"), col("bucket"), round(col("value"), 6).as("value"),
        round(col("level"), 6).as("level"),
        round(col("trend"), 6).as("trend"),
        round(col("forecast"), 6).as("forecast"))
  }
}
