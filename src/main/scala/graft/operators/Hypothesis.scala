package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Materialize

/** X149/X152 — two-sample hypothesis tests and inter-rater
  * reliability: the release-gate statistics a data pipeline runs
  * before swapping a corpus, filter, or labeling run (did the new
  * filter change mean doc length? did the re-label agree with the
  * old one beyond chance?). Complements [[graft.operators.CorpusOps]]
  * bootstrapCI (X119 — resampled interval) with the closed-form
  * frequentist pair, and [[RankEval.cohensKappa]] (X148) with
  * Krippendorff's coincidence-matrix alpha.
  *
  * Determinism contract: every statistic derives from exact integer
  * aggregates — counts, Σx and Σx² accumulated in wide decimals
  * (DuckDB's BIGINT sums promote to HUGEINT, mirroring the
  * exactness) — then one fixed-shape double expression, round(6).
  *
  * Value columns are quantized to MICRO-UNIT integers
  * (round(v·1e6), the bootstrapCI convention): exact for any input
  * with ≤6 decimal places — a [0,1] score column survives intact
  * instead of truncating to all-zeros the way a bare long cast
  * would. Headroom after quantization: |v| ≤ ~1e6 keeps the Σx²
  * decimal(38,0) accumulator exact out to ~10¹² rows.
  */
object Hypothesis {

  /** X149a — Welch's unequal-variance t-test on a value column
    * between two groups (`isA` true/false). Emits group sizes, means,
    * the t statistic, and the Welch–Satterthwaite degrees of freedom.
    * The value column quantizes to micro-units (exact for ≤6-dp
    * inputs); t and dof are scale-invariant so they are computed in
    * micro space directly, and the reported means divide the 1e6
    * back out. Scale shape: one map-side-combined two-row aggregate
    * over the scan; one row out.
    */
  def welchTTest(df: DataFrame, valueCol: String, isA: Column)
      : DataFrame = {
    val d = round(col(valueCol) * 1e6, 0).cast("decimal(19,0)")
    val per = df.groupBy(isA.as("__a"))
      .agg(count(lit(1)).as("__n"), sum(d).as("__s"),
        sum(d * d).as("__ss"))
    // one row per side -> pivot the two rows into one via conditional agg
    val w = per.agg(
      sum(when(col("__a"), col("__n"))).cast("long").as("n_a"),
      sum(when(!col("__a"), col("__n"))).cast("long").as("n_b"),
      sum(when(col("__a"), col("__s"))).as("__sa"),
      sum(when(!col("__a"), col("__s"))).as("__sb"),
      sum(when(col("__a"), col("__ss"))).as("__ssa"),
      sum(when(!col("__a"), col("__ss"))).as("__ssb"))
    val ma = col("__sa").cast("double") / col("n_a")
    val mb = col("__sb").cast("double") / col("n_b")
    // unbiased variance from exact sums: (ss - s^2/n) / (n-1)
    val va = (col("__ssa").cast("double") -
      col("__sa").cast("double") * col("__sa").cast("double") / col("n_a")) /
      (col("n_a") - 1)
    val vb = (col("__ssb").cast("double") -
      col("__sb").cast("double") * col("__sb").cast("double") / col("n_b")) /
      (col("n_b") - 1)
    val sea = va / col("n_a")
    val seb = vb / col("n_b")
    val se2 = sea + seb
    val t = (ma - mb) / sqrt(se2)
    val dof = (se2 * se2) /
      (sea * sea / (col("n_a") - 1) + seb * seb / (col("n_b") - 1))
    val ok = col("n_a") > 1 && col("n_b") > 1
    w.select(col("n_a"), col("n_b"),
      round(ma / 1e6, 6).as("mean_a"), round(mb / 1e6, 6).as("mean_b"),
      when(ok && se2 > 0.0, round(t, 6)).as("t_stat"),
      when(ok && se2 > 0.0, round(dof, 6)).as("dof"))
  }

  /** X149b — two-proportion z-test (pooled standard error): compares
    * a boolean rate between two groups — the A/B readout for keep
    * rates, dedup hit rates, filter pass rates. One two-row
    * conditional aggregate; one row out. Degenerate pools (rate 0 or
    * 1 on both sides, or an empty group) report NULL z.
    */
  def twoProportionZ(df: DataFrame, successCol: Column, isA: Column)
      : DataFrame = {
    val w = df.agg(
      sum(when(isA, 1L).otherwise(0L)).as("n_a"),
      sum(when(!isA, 1L).otherwise(0L)).as("n_b"),
      sum(when(isA && successCol, 1L).otherwise(0L)).as("x_a"),
      sum(when(!isA && successCol, 1L).otherwise(0L)).as("x_b"))
    val pa = col("x_a").cast("double") / col("n_a")
    val pb = col("x_b").cast("double") / col("n_b")
    val pp = (col("x_a") + col("x_b")).cast("double") /
      (col("n_a") + col("n_b"))
    val se = sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    val ok = col("n_a") > 0 && col("n_b") > 0 && pp > 0.0 && pp < 1.0
    w.select(col("n_a"), col("n_b"),
      when(col("n_a") > 0, round(pa, 6)).as("rate_a"),
      when(col("n_b") > 0, round(pb, 6)).as("rate_b"),
      when(ok, round((pa - pb) / se, 6)).as("z_stat"))
  }

  /** X180 — two-sample Kolmogorov-Smirnov statistic: D = max over
    * values of \|F_A − F_B\| between two groups' empirical CDFs — the
    * distribution-SHAPE companion to [[welchTTest]] (which only sees
    * means): a filter change that preserves the mean but hollows the
    * middle of the length distribution trips KS and nothing else.
    *
    * Exact, not binned: CDF steps live on the DISTINCT-value table,
    * so the one ordered pass is value-bounded (the rocAuc window
    * class — never a row sort); counts are exact ints, F ratios and
    * the max of \|diff\| are order-independent doubles, round(6).
    * Values quantize to micro-units — D is invariant under the
    * 1e6 rescale (it only reads the value ORDER), so ≤6-dp inputs
    * see the exact unbinned statistic; a bare long cast would have
    * collapsed a [0,1] score column to a single step.
    */
  def ksTest(df: DataFrame, valueCol: String, isA: Column): DataFrame = {
    val per = df.groupBy(round(col(valueCol) * 1e6, 0).cast("long").as("__v"))
      .agg(sum(when(isA, 1L).otherwise(0L)).as("__ca"),
        sum(when(isA, 0L).otherwise(1L)).as("__cb"))
    val tot = per.agg(sum(col("__ca")).as("__na"),
      sum(col("__cb")).as("__nb"))
    CorpusOps.cumSums(per, Seq(col("__v")), Seq("__ca", "__cb"))
      .withColumn("__cuma", col("__cum__ca"))
      .withColumn("__cumb", col("__cum__cb"))
      .crossJoin(broadcast(tot))
      .agg(max(col("__na")).cast("long").as("n_a"),
        max(col("__nb")).cast("long").as("n_b"),
        max(abs(col("__cuma").cast("double") / col("__na") -
          col("__cumb").cast("double") / col("__nb"))).as("__d"))
      .select(col("n_a"), col("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0, round(col("__d"), 6))
          .as("ks_d"))
  }

  /** X409 — two-sample Kuiper test: V = D⁺ + D⁻, the sum of the
    * largest CDF excursions in EACH direction — equally sensitive
    * across the whole support (and rotation-invariant on circular
    * data like hour-of-day), where [[ksTest]]'s single max goes
    * numb in the tails and at wrap-around. Same distinct-value
    * cumSums grid, exact integer counts, one double max-pair.
    */
  def kuiperTest(df: DataFrame, valueCol: String, isA: Column)
      : DataFrame = {
    val per = df.groupBy(round(col(valueCol) * 1e6, 0).cast("long").as("__v"))
      .agg(sum(when(isA, 1L).otherwise(0L)).as("__ca"),
        sum(when(isA, 0L).otherwise(1L)).as("__cb"))
    val tot = per.agg(sum(col("__ca")).as("__na"),
      sum(col("__cb")).as("__nb"))
    val gap = col("__cum__ca").cast("double") / col("__na") -
      col("__cum__cb").cast("double") / col("__nb")
    CorpusOps.cumSums(per, Seq(col("__v")), Seq("__ca", "__cb"))
      .crossJoin(broadcast(tot))
      .agg(max(col("__na")).cast("long").as("n_a"),
        max(col("__nb")).cast("long").as("n_b"),
        greatest(max(gap), lit(0.0)).as("__dp"),
        greatest(max(-gap), lit(0.0)).as("__dm"))
      .select(col("n_a"), col("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0,
          round(col("__dp"), 6)).as("d_plus"),
        when(col("n_a") > 0 && col("n_b") > 0,
          round(col("__dm"), 6)).as("d_minus"),
        when(col("n_a") > 0 && col("n_b") > 0,
          round(col("__dp") + col("__dm"), 6)).as("kuiper_v"))
  }

  /** X271 — 1-D Wasserstein-1 (earth mover's) distance between two
    * groups: W₁ = ∫\|F_A − F_B\|dv over the value axis — the drift
    * metric with UNITS (it reads in the value's own scale: "the
    * length distribution moved 37 characters"), where [[ksTest]]
    * reads only the worst vertical gap and X150's JS is unitless.
    * The t-closeness EMD (X228) generalized from level grids to the
    * continuous value axis.
    *
    * Exact: on the DISTINCT micro-value table, each segment
    * contributes \|cumA·n_B − cumB·n_A\|·Δv — an exact decimal
    * product — and the one division by n_A·n_B·1e6 happens at the
    * end, so the integral is an exact integer fold. One
    * value-bounded ordered pass (the ksTest class).
    */
  def wasserstein1(df: DataFrame, valueCol: String, isA: Column)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val per = df.groupBy(round(col(valueCol) * 1e6, 0).cast("long")
        .as("__v"))
      .agg(sum(when(isA, 1L).otherwise(0L)).as("__ca"),
        sum(when(isA, 0L).otherwise(1L)).as("__cb"))
    val w = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.orderBy(col("__v"))
    val tot = per.agg(sum(col("__ca")).cast("long").as("__na"),
      sum(col("__cb")).cast("long").as("__nb"))
    // the numerator aggregates over the GAP rows (possibly zero of
    // them — a single distinct value has no segments and W1 = 0);
    // counts come from the separate totals so they survive that case
    val num = per
      .withColumn("__cumA", sum(col("__ca")).over(w))
      .withColumn("__cumB", sum(col("__cb")).over(w))
      .withColumn("__gap", lead(col("__v"), 1).over(wNext) - col("__v"))
      .filter(col("__gap").isNotNull)
      .crossJoin(broadcast(tot))
      .agg(coalesce(sum((abs(col("__cumA").cast(dec) * col("__nb") -
        col("__cumB").cast(dec) * col("__na")) *
        col("__gap").cast(dec)).cast(dec)), lit(0).cast(dec))
        .as("__num"))
    tot.crossJoin(num)
      .select(col("__na").as("n_a"), col("__nb").as("n_b"),
        when(col("__na") > 0L && col("__nb") > 0L,
          round(col("__num").cast("double") /
            (col("__na").cast("double") * col("__nb").cast("double") *
              1e6), 6)).as("wasserstein1"))
  }

  /** X220 — Wilson score interval per group for a boolean rate: the
    * finite-sample binomial CI that stays inside [0,1] and behaves
    * at p̂ near 0/1 where the Wald ±z√(p(1−p)/n) interval collapses —
    * the per-slice release-gate bars under X149b's two-sided test.
    * Exact integer (n, successes) per group; center and half-width
    * are one fixed-shape double expression with the z literal,
    * round(6). Empty groups cannot occur (groupBy), n ≥ 1 always.
    */
  def wilsonInterval(df: DataFrame, groupCol: String,
      successCol: Column, z: Double = 1.96): DataFrame = {
    require(z > 0, s"bad z $z")
    val g = df.groupBy(col(groupCol))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(when(successCol, 1L).otherwise(0L)).cast("long")
          .as("successes"))
    val nd = col("n").cast("double")
    val p = col("successes").cast("double") / nd
    val z2 = lit(z * z)
    val denom = lit(1.0) + z2 / nd
    val center = (p + z2 / (lit(2.0) * nd)) / denom
    val half = lit(z) * sqrt(p * (lit(1.0) - p) / nd +
      z2 / (lit(4.0) * nd * nd)) / denom
    g.select(col(groupCol), col("n"), col("successes"),
      round(p, 6).as("rate"),
      round(center - half, 6).as("ci_lo"),
      round(center + half, 6).as("ci_hi"))
  }

  /** X189 — Wald's sequential probability ratio test (SPRT) replay:
    * per group, walk the trials in `orderCol` order accumulating the
    * log-likelihood ratio for H1: p=p1 vs H0: p=p0, and report the
    * FIRST crossing of the Wald boundaries A = ln((1−β)/α) (accept
    * H1) or B = ln(β/(1−α)) (accept H0) — the early-stopping answer
    * to "how soon could this A/B test have been called". Groups that
    * never cross report 'continue' with their final state.
    *
    * Determinism: the walk state is two INTEGERS (trials n,
    * successes s); llr = s·ln(p1/p0) + (n−s)·ln((1−p1)/(1−p0)) is a
    * fixed-shape double from them, so the crossing index is
    * engine-exact. Scale shape: per-group ordered windows
    * (partitioned — never global); one row out per group.
    */
  def sprt(df: DataFrame, groupCol: String, successCol: Column,
      orderCols: Seq[Column], p0: Double, p1: Double,
      alpha: Double = 0.05, beta: Double = 0.2): DataFrame = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p0 != p1,
      s"bad p0=$p0 p1=$p1")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      s"bad alpha=$alpha beta=$beta")
    import org.apache.spark.sql.expressions.Window
    val c1 = math.log(p1 / p0)
    val c0 = math.log((1 - p1) / (1 - p0))
    val aBound = math.log((1 - beta) / alpha)
    val bBound = math.log(beta / (1 - alpha))
    val walked = df.select(Seq(col(groupCol),
      when(successCol, 1L).otherwise(0L).as("__x")) ++
      orderCols.zipWithIndex.map { case (c, i) => c.as(s"__o$i") }: _*)
    val ord = orderCols.indices.map(i => col(s"__o$i"))
    val w = Window.partitionBy(col(groupCol)).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val walk = walked
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("__s", sum(col("__x")).over(w))
      .withColumn("__llr", col("__s").cast("double") * c1 +
        (col("__n") - col("__s")).cast("double") * c0)
    val crossings = walk
      .filter(col("__llr") >= aBound || col("__llr") <= bBound)
      .groupBy(col(groupCol)).agg(min(col("__n")).as("__nc"))
    val atCross = crossings.join(walk,
        Seq(groupCol)).filter(col("__n") === col("__nc"))
      .select(col(groupCol), col("__n"), col("__s"), col("__llr"))
    val totals = walk.groupBy(col(groupCol))
      .agg(max(col("__n")).as("__nt"))
    val finals = totals.join(walk, Seq(groupCol))
      .filter(col("__n") === col("__nt"))
      .select(col(groupCol), col("__n").as("__fn"),
        col("__s").as("__fs"), col("__llr").as("__fllr"))
    finals.join(atCross, Seq(groupCol), "left")
      .select(col(groupCol),
        when(col("__n").isNull, "continue")
          .when(col("__llr") >= aBound, "accept_h1")
          .otherwise("accept_h0").as("decision"),
        coalesce(col("__n"), col("__fn")).cast("long").as("n_trials"),
        coalesce(col("__s"), col("__fs")).cast("long").as("successes"),
        round(coalesce(col("__llr"), col("__fllr")), 6).as("llr"))
  }

  /** X223 — Benjamini-Hochberg step-up FDR correction: given one
    * p-value per tested slice, rank them ascending and report the
    * adjusted value p̃_(i) = min_{j≥i} p_(j)·m/j (capped at 1) plus
    * the reject decision at level `alpha` — the multiple-testing
    * gate that keeps a monitoring fleet testing thousands of slices
    * per day from drowning in false alarms (at α=0.05 a thousand
    * null slices raise ~50 naive alerts; BH holds the FALSE DISCOVERY
    * RATE at α instead). Rejecting iff p̃ ≤ α is exactly the classic
    * step-up rule (reject ranks 1..k*, k* = max{i: p_(i) ≤ iα/m}).
    *
    * Determinism: ranks are integers with `keyCol` as the total
    * tie-break; p̃ is a fixed-shape double from (p, rank, m) plus a
    * running min, round(6) on output only. Scale shape: the input is
    * the HYPOTHESIS table — one row per tested slice, never
    * data-sized (the ksTest/rocAuc bounded-ordered-pass class), so
    * the two ordered windows (rank, suffix-min) stay slice-bounded
    * no matter how many rows fed each p-value.
    */
  def bhAdjust(df: DataFrame, keyCol: String, pCol: String,
      alpha: Double = 0.05): DataFrame = {
    require(alpha > 0 && alpha < 1, s"bad alpha $alpha")
    import org.apache.spark.sql.expressions.Window
    val m = df.agg(count(lit(1)).as("__m"))
    val wAsc = Window.orderBy(col(pCol).asc, col(keyCol).asc)
    // suffix min of p*m/rank == prefix min in DESCENDING rank order
    val wDesc = Window.orderBy(col(pCol).desc, col(keyCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(keyCol), col(pCol))
      .crossJoin(broadcast(m))
      .withColumn("__rank", row_number().over(wAsc).cast("long"))
      .withColumn("__raw",
        col(pCol) * col("__m") / col("__rank"))
      .withColumn("__adj", least(lit(1.0), min(col("__raw")).over(wDesc)))
      .select(col(keyCol), round(col(pCol), 6).as("p_value"),
        col("__rank").as("p_rank"),
        round(col("__adj"), 6).as("p_adj"),
        (col("__adj") <= alpha).as("reject"))
  }

  /** X275 — Holm-Bonferroni step-down: the FAMILY-WISE error
    * companion to [[bhAdjust]]'s FDR — adjusted p̃_(i) =
    * max_{j≤i} p_(j)·(m−j+1) capped at 1 (a prefix-max where BH is a
    * suffix-min), reject while p̃ ≤ α. Use it instead of BH when ONE
    * false alarm is expensive (a release-blocking gate), BH when
    * alarms are triaged in bulk; uniformly more powerful than plain
    * Bonferroni with the identical guarantee. Same scale shape as
    * bhAdjust: two slice-bounded ordered windows on the HYPOTHESIS
    * table, never data-sized.
    */
  def holmAdjust(df: DataFrame, keyCol: String, pCol: String,
      alpha: Double = 0.05): DataFrame = {
    require(alpha > 0 && alpha < 1, s"bad alpha $alpha")
    import org.apache.spark.sql.expressions.Window
    val m = df.agg(count(lit(1)).as("__m"))
    val wAsc = Window.orderBy(col(pCol).asc, col(keyCol).asc)
    val wRun = Window.orderBy(col(pCol).asc, col(keyCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(keyCol), col(pCol))
      .crossJoin(broadcast(m))
      .withColumn("__rank", row_number().over(wAsc).cast("long"))
      .withColumn("__raw",
        col(pCol) * (col("__m") - col("__rank") + 1L))
      .withColumn("__adj", least(lit(1.0), max(col("__raw")).over(wRun)))
      .select(col(keyCol), round(col(pCol), 6).as("p_value"),
        col("__rank").as("p_rank"),
        round(col("__adj"), 6).as("p_adj"),
        (col("__adj") <= alpha).as("reject"))
  }

  /** X306 — Benjamini-Yekutieli step-up FDR under ARBITRARY
    * dependence: BH ([[bhAdjust]]) scaled by the harmonic number
    * H(m) = Σ1/k — the correction to reach for when the per-slice
    * p-values share machinery (overlapping windows, nested slices,
    * one model scoring all of them) and BH's independence-ish
    * assumption is indefensible; costs a log(m) factor of power for
    * a guarantee that survives any correlation. H(m) folds
    * left-to-right over sequence(1..m) — the IDENTICAL fold exists
    * in both engines (aggregate ≡ list_reduce), so the doubles
    * match bit-for-bit. Same slice-bounded window shape as BH.
    */
  def byAdjust(df: DataFrame, keyCol: String, pCol: String,
      alpha: Double = 0.05): DataFrame = {
    require(alpha > 0 && alpha < 1, s"bad alpha $alpha")
    import org.apache.spark.sql.expressions.Window
    val m = df.agg(count(lit(1)).as("__m"))
      .withColumn("__hm", expr(
        "aggregate(sequence(1, __m), cast(0.0 as double), " +
          "(acc, k) -> acc + 1.0 / k)"))
    val wAsc = Window.orderBy(col(pCol).asc, col(keyCol).asc)
    val wDesc = Window.orderBy(col(pCol).desc, col(keyCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(keyCol), col(pCol))
      .crossJoin(broadcast(m))
      .withColumn("__rank", row_number().over(wAsc).cast("long"))
      .withColumn("__raw",
        col(pCol) * col("__m") * col("__hm") / col("__rank"))
      .withColumn("__adj", least(lit(1.0), min(col("__raw")).over(wDesc)))
      .select(col(keyCol), round(col(pCol), 6).as("p_value"),
        col("__rank").as("p_rank"), round(col("__hm"), 6).as("h_m"),
        round(col("__adj"), 6).as("p_adj"),
        (col("__adj") <= alpha).as("reject"))
  }

  /** X304 — post-hoc pairwise contrasts after [[oneWayAnova]]: for
    * every group pair, the mean difference, its pooled-MSW standard
    * error se = √(MSW·(1/n_a + 1/n_b)), and t = diff/se — the table
    * that answers "WHICH groups differ" after the omnibus F says
    * "some do" (compare \|t\|·√2 against studentized-range critical
    * values for Tukey HSD, or feed the implied p's to
    * [[holmAdjust]]). Groups-bounded pair join (k² rows); means and
    * MSW from the X266 exact micro sums; NULL se on degenerate
    * designs.
    */
  def pairwiseContrasts(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val q = round(col(valueCol) * 1e6, 0).cast("long")
    val cells = df.select(col(groupCol).as("__g"), q.as("__q"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).cast("long").as("__n"),
        sum(col("__q").cast(dec)).cast(dec).as("__s"),
        sum((col("__q").cast(dec) * col("__q")).cast(dec)).cast(dec)
          .as("__ss"))
    val msw = cells.agg(count(lit(1)).cast("long").as("__k"),
        sum(col("__n")).cast("long").as("__nT"),
        sum(col("__ss").cast("double") -
          col("__s").cast("double") * col("__s").cast("double") /
            col("__n").cast("double")).as("__ssw"))
      .select(col("__k"), col("__nT"),
        (col("__ssw") / (col("__nT") - col("__k")).cast("double"))
          .as("__msw"))
    val a = cells.select(col("__g").as("group_a"),
      col("__n").as("n_a"), col("__s").as("__sa"))
    val b = cells.select(col("__g").as("group_b"),
      col("__n").as("n_b"), col("__s").as("__sb"))
    val pairs = a.crossJoin(b).filter(col("group_a") < col("group_b"))
      .crossJoin(broadcast(msw))
    val ma = col("__sa").cast("double") / col("n_a")
    val mb = col("__sb").cast("double") / col("n_b")
    val se = sqrt(col("__msw") * (lit(1.0) / col("n_a") +
      lit(1.0) / col("n_b")))
    val ok = col("__nT") > col("__k") && col("__msw") > 0.0
    pairs.select(col("group_a"), col("group_b"), col("n_a"),
      col("n_b"),
      round((ma - mb) / 1e6, 6).as("mean_diff"),
      when(ok, round(se / 1e6, 6)).as("se"),
      when(ok, round((ma - mb) / se, 6)).as("t_stat"))
  }

  /** X307 — Mood's median test: per group, counts above vs at-or-
    * below the GLOBAL exact median (the X60 sort-free bisection
    * median — never a value sort), then the k×2 Pearson χ² — the
    * crudest-but-bulletproof k-group location test: immune to any
    * outlier magnitude, defensible when even rank machinery
    * ([[kruskalWallis]]) is suspect (e.g. wild censoring). Exact
    * integer cells; χ² is a fixed-shape per-group expression folded
    * cells-bounded (the mutualInformation precedent), round(6).
    */
  def moodMedianTest(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    val vals = df.select(col(groupCol).as("__g"),
      round(col(valueCol) * 1e6, 0).cast("long").as("__q"))
    val med = Quantiles.exactQuantile(
      vals.select(col("__q").as("v")), "v", 0.5)
    val cells = vals.groupBy(col("__g"))
      .agg(count(lit(1)).cast("long").as("__n"),
        sum(when(col("__q") > med, 1L).otherwise(0L)).cast("long")
          .as("__a"))
    val tot = cells.agg(sum(col("__n")).cast("long").as("__nT"),
      sum(col("__a")).cast("long").as("__aT"))
    val j = cells.crossJoin(broadcast(tot))
    val ea = col("__n").cast("double") * col("__aT") / col("__nT")
    val eb = col("__n").cast("double") * (col("__nT") - col("__aT")) /
      col("__nT")
    val term =
      (col("__a").cast("double") - ea) * (col("__a").cast("double") - ea) /
        when(ea > 0.0, ea) +
      ((col("__n") - col("__a")).cast("double") - eb) *
        ((col("__n") - col("__a")).cast("double") - eb) /
        when(eb > 0.0, eb)
    val agg = j.agg(count(lit(1)).cast("long").as("n_groups"),
      max(col("__nT")).as("n_total"), max(col("__aT")).as("__aT"),
      sum(term).as("__chi2"))
    agg.select(col("n_groups"), col("n_total"),
      round(lit(med.toDouble) / 1e6, 6).as("median"),
      (col("n_groups") - 1L).as("df"),
      when(col("__aT") > 0L && col("__aT") < col("n_total"),
        round(col("__chi2"), 6)).as("chi2"))
  }

  /** X310 — Ansari-Bradley two-sample SCALE test: score each rank
    * from both ends (a(r) = min(r, N+1−r) — extremes score low,
    * center scores high), AB = the A-side score sum; if A's values
    * fan out wider than B's at the same center, A's scores run low —
    * the NONPARAMETRIC dispersion test beside [[levene]] (means) and
    * [[bartlett]] (normality-fragile): detects variance drift in
    * heavy-tailed score/length columns where both parametric tests
    * mislead.
    *
    * Exactness: rank ranges live on the distinct-value pass; each
    * value's total score S_v = Σ_{r∈[lo,hi]} min(r, N+1−r) is CLOSED
    * FORM triangular arithmetic (exact decimals — no per-rank
    * explode); per-value A-share and square terms nano-quantize
    * before their folds; z uses the finite-population tie-general
    * moments μ = n₁·S̄, V = n₁n₂(N·ΣA² − S²)/(N²(N−1)), one
    * fixed-shape double each, round(6).
    */
  def ansariBradley(df: DataFrame, valueCol: String, isA: Column)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val per = df.groupBy(round(col(valueCol) * 1e6, 0).cast("long")
        .as("__v"))
      .agg(sum(when(isA, 1L).otherwise(0L)).as("__ca"),
        sum(when(isA, 0L).otherwise(1L)).as("__cb"))
      .withColumn("__c", col("__ca") + col("__cb"))
    val tot = per.agg(sum(col("__ca")).cast("long").as("__na"),
      sum(col("__cb")).cast("long").as("__nb"))
    val ranked = CorpusOps.cumSums(per, Seq(col("__v")), Seq("__c"))
      .withColumn("__hi", col("__cum__c"))
      .withColumn("__lo", col("__hi") - col("__c") + 1L)
      .crossJoin(broadcast(tot))
      .withColumn("__N", col("__na") + col("__nb"))
    // DOUBLED score sums keep everything integral: 2·tri(k) = k(k+1)
    // exactly, so S2_v = 2·Σ_{r=lo..hi} min(r, N+1−r) folds in
    // decimal with no division until the quantized per-value terms
    def tri2(c: Column) = (c.cast(dec) * (c + 1L)).cast(dec)
    val rT = expr("(__N + 1) div 2") // integral div — `/` is double
    val hiAsc = least(col("__hi"), rT)
    val ascCnt = greatest(hiAsc - col("__lo") + 1L, lit(0L))
    val ascSum2 = when(ascCnt > 0L,
      (tri2(hiAsc) - tri2(col("__lo") - 1L)).cast(dec))
      .otherwise(lit(0).cast(dec))
    val loDesc = greatest(col("__lo"), rT + 1L)
    val descCnt = greatest(col("__hi") - loDesc + 1L, lit(0L))
    val descSum2 = when(descCnt > 0L,
      (lit(2L) * (col("__N") + 1L).cast(dec) * descCnt -
        (tri2(col("__hi")) - tri2(loDesc - 1L))).cast(dec))
      .otherwise(lit(0).cast(dec))
    val sv2 = (ascSum2 + descSum2).cast(dec)
    // terms grow as N² — nano-quantized magnitudes pass 2^63 around
    // N ≈ 5·10³, so they accumulate in decimal(38,0), not long (the
    // rounded doubles are exact integer values either way)
    val scored = ranked.withColumn("__sv2", sv2)
      .withColumn("__abTerm",
        round(col("__ca").cast("double") * col("__sv2").cast("double") /
          (lit(2.0) * col("__c").cast("double")) * 1e9, 0).cast(dec))
      .withColumn("__qTerm",
        round(col("__sv2").cast("double") * col("__sv2").cast("double") /
          (lit(4.0) * col("__c").cast("double")) * 1e9, 0).cast(dec))
    val agg = scored.agg(max(col("__na")).as("n_a"),
      max(col("__nb")).as("n_b"),
      sum(col("__sv2")).cast(dec).as("__st2"),
      sum(col("__abTerm")).cast(dec).as("__abn"),
      sum(col("__qTerm")).cast(dec).as("__qn"))
    def d(c: Column) = c.cast("double")
    val nN = d(col("n_a")) + d(col("n_b"))
    val ab = d(col("__abn")) / 1e9
    val q = d(col("__qn")) / 1e9
    val st = d(col("__st2")) / 2.0
    val mu = d(col("n_a")) * st / nN
    val v = d(col("n_a")) * d(col("n_b")) * (nN * q - st * st) /
      (nN * nN * (nN - 1.0))
    val ok = col("n_a") > 0L && col("n_b") > 0L && v > 0.0
    agg.select(col("n_a"), col("n_b"),
      round(ab, 6).as("ab_stat"),
      when(col("n_a") > 0L && col("n_b") > 0L, round(mu, 6))
        .as("expected"),
      when(ok, round((ab - mu) / sqrt(v), 6)).as("z_stat"))
  }

  /** X316 — winsorized Welch t: clamp each group's values to its own
    * exact [loQ, hiQ] order statistics (the X60 bisection — never a
    * sort), then run the [[welchTTest]] machinery on the clamped
    * micro integers — the robust location test for heavy-tailed
    * score/length columns where a single spam blob buys the plain t
    * (clamping caps any row's leverage at the decile boundary;
    * deterministic under ties because clamping never drops rows).
    * Two bisection searches per group + one exact-sum aggregate.
    */
  def winsorizedWelchT(df: DataFrame, valueCol: String, isA: Column,
      loQ: Double = 0.1, hiQ: Double = 0.9): DataFrame = {
    require(loQ > 0 && hiQ < 1 && loQ < hiQ, s"bad trim ($loQ, $hiQ)")
    val base = df.select(when(isA, "a").otherwise("b").as("__g"),
      round(col(valueCol) * 1e6, 0).cast("long").as("__q"))
    // BOTH trim quantiles of BOTH groups refine in the SAME grouped
    // histogram passes (one bisection ladder, not two) — the scan
    // count of a single median
    val both = Quantiles.exactQuantilesByGroup(base, "__g", "__q",
      Seq(loQ, hiQ))
    val lo = both.filter(col("q") === loQ)
      .select(col("__g"), col("quantile").as("__lo"))
    val hi = both.filter(col("q") === hiQ)
      .select(col("__g"), col("quantile").as("__hi"))
    val clamped = base
      .join(broadcast(lo), Seq("__g"))
      .join(broadcast(hi), Seq("__g"))
      .withColumn("__w",
        least(greatest(col("__q"), col("__lo")), col("__hi")))
    val agg = clamped.agg(
      sum(when(col("__g") === "a", 1L).otherwise(0L)).cast("long")
        .as("n_a"),
      sum(when(col("__g") === "b", 1L).otherwise(0L)).cast("long")
        .as("n_b"),
      sum(when(col("__g") === "a", col("__w"))).cast("decimal(38,0)")
        .as("__sa"),
      sum(when(col("__g") === "b", col("__w"))).cast("decimal(38,0)")
        .as("__sb"),
      sum(when(col("__g") === "a",
        (col("__w").cast("decimal(38,0)") * col("__w"))
          .cast("decimal(38,0)"))).cast("decimal(38,0)").as("__ssa"),
      sum(when(col("__g") === "b",
        (col("__w").cast("decimal(38,0)") * col("__w"))
          .cast("decimal(38,0)"))).cast("decimal(38,0)").as("__ssb"))
    val ma = col("__sa").cast("double") / col("n_a")
    val mb = col("__sb").cast("double") / col("n_b")
    val va = (col("__ssa").cast("double") -
      col("__sa").cast("double") * col("__sa").cast("double") /
        col("n_a")) / (col("n_a") - 1)
    val vb = (col("__ssb").cast("double") -
      col("__sb").cast("double") * col("__sb").cast("double") /
        col("n_b")) / (col("n_b") - 1)
    val se2 = va / col("n_a") + vb / col("n_b")
    val t = (ma - mb) / sqrt(se2)
    val dof = (se2 * se2) /
      (va / col("n_a") * (va / col("n_a")) / (col("n_a") - 1) +
        vb / col("n_b") * (vb / col("n_b")) / (col("n_b") - 1))
    val ok = col("n_a") > 1L && col("n_b") > 1L && se2 > 0.0
    agg.select(col("n_a"), col("n_b"),
      round(ma / 1e6, 6).as("wins_mean_a"),
      round(mb / 1e6, 6).as("wins_mean_b"),
      when(ok, round(t, 6)).as("t_stat"),
      when(ok, round(dof, 6)).as("dof"))
  }

  /** X317 — the proportion effect panel for a 2×2 outcome: Cohen's h
    * (the arcsine-stabilized difference — the effect size behind
    * [[mdePower]]'s detectability math), relative risk, odds ratio,
    * and the log-OR standard error √(Σ1/cell) (Woolf) — the four
    * numbers a rate comparison actually needs beside X149b's z
    * (which only says "different"). Exact integer cells; each output
    * is one fixed-shape double (asin/ln on identical doubles),
    * round(6); ratio outputs NULL on zero denominators/cells.
    */
  def proportionEffects(df: DataFrame, successCol: Column,
      isA: Column): DataFrame = {
    val w = df.agg(
      sum(when(isA && successCol, 1L).otherwise(0L)).cast("long")
        .as("x_a"),
      sum(when(isA && !successCol, 1L).otherwise(0L)).cast("long")
        .as("f_a"),
      sum(when(!isA && successCol, 1L).otherwise(0L)).cast("long")
        .as("x_b"),
      sum(when(!isA && !successCol, 1L).otherwise(0L)).cast("long")
        .as("f_b"))
    val na = (col("x_a") + col("f_a")).cast("double")
    val nb = (col("x_b") + col("f_b")).cast("double")
    val pa = col("x_a").cast("double") / na
    val pb = col("x_b").cast("double") / nb
    val h = lit(2.0) * asin(sqrt(pa)) - lit(2.0) * asin(sqrt(pb))
    val rr = pa / pb
    val or = (col("x_a").cast("double") * col("f_b")) /
      (col("f_a").cast("double") * col("x_b"))
    val seLogOr = sqrt(lit(1.0) / col("x_a") + lit(1.0) / col("f_a") +
      lit(1.0) / col("x_b") + lit(1.0) / col("f_b"))
    val allPos = col("x_a") > 0L && col("f_a") > 0L &&
      col("x_b") > 0L && col("f_b") > 0L
    w.select(col("x_a"), col("f_a"), col("x_b"), col("f_b"),
      when(na > 0.0, round(pa, 6)).as("rate_a"),
      when(nb > 0.0, round(pb, 6)).as("rate_b"),
      when(na > 0.0 && nb > 0.0, round(h, 6)).as("cohens_h"),
      when(nb > 0.0 && pb > 0.0 && na > 0.0, round(rr, 6))
        .as("risk_ratio"),
      when(allPos, round(or, 6)).as("odds_ratio"),
      when(allPos, round(log(or), 6)).as("log_odds_ratio"),
      when(allPos, round(seLogOr, 6)).as("se_log_or"))
  }

  /** X322 — Jonckheere-Terpstra ordered-alternative test: with
    * groups carrying an a-priori ORDER (length bands, quality
    * deciles, dose-like buckets), 2J = Σ_{i<j} (2·#{x_a < x_b} +
    * #{ties}) over ordered group pairs — beats the omnibus
    * [[kruskalWallis]] exactly when the suspicion IS monotone, and
    * is [[cochranArmitage]]'s sibling for CONTINUOUS outcomes. Per
    * value on the distinct-value pass: each group's strictly-below
    * cumulative and the tie cross-products fold as exact decimals,
    * so 2J is an integer; the no-tie-corrected normal moments
    * μ = (N² − Σn_g²)/4, σ² = (N²(2N+3) − Σn_g²(2n_g+3))/72 are
    * documented approximations under heavy ties. Bands ≤ 16.
    */
  def jonckheereTerpstra(df: DataFrame, bandCol: Column,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val base = df.select(bandCol.cast("int").as("__g"),
      round(col(valueCol) * 1e6, 0).cast("long").as("__v"))
    val bands = base.select(col("__g")).distinct()
      .orderBy(col("__g")).collect().map(_.getInt(0)).toSeq
    require(bands.size >= 2 && bands.size <= 16,
      s"need 2..16 bands, got ${bands.size}")
    val cellAggs = bands.map(g => sum(when(col("__g") === g, 1L)
      .otherwise(0L)).as(s"__c$g"))
    val cells = base.groupBy(col("__v"))
      .agg(cellAggs.head, cellAggs.tail: _*)
    // exclusive cumBelow per band = inclusive distributed prefix sum
    // minus the row's own (non-null) cell count
    val cum = bands.foldLeft(CorpusOps.cumSums(cells,
        Seq(col("__v")), bands.map(g => s"__c$g"))) { (d, g) =>
      d.withColumn(s"__b$g", col(s"__cum__c$g") - col(s"__c$g"))
    }
    // 2J contribution at value v: Σ_{i<j} 2·c_j·cumBelow_i + c_i·c_j
    val pairTerms = for {
      i <- bands; j <- bands if i < j
    } yield (lit(2L) * col(s"__c$j").cast(dec) * col(s"__b$i") +
      col(s"__c$i").cast(dec) * col(s"__c$j")).cast(dec)
    val j2 = pairTerms.reduce(_ + _)
    val perBand = bands.map(g =>
      sum(col(s"__c$g")).cast("long").as(s"__n$g"))
    val aggs = Seq(sum(j2.cast(dec)).cast(dec).as("__j2")) ++ perBand
    val folded = cum.agg(aggs.head, aggs.tail: _*)
    val nTot = bands.map(g => col(s"__n$g")).reduce(_ + _)
    val sumSq = bands.map(g =>
      (col(s"__n$g").cast(dec) * col(s"__n$g")).cast(dec))
      .reduce(_ + _)
    val sumCube = bands.map(g =>
      ((col(s"__n$g").cast(dec) * col(s"__n$g")).cast(dec) *
        (lit(2L) * col(s"__n$g") + 3L)).cast(dec)).reduce(_ + _)
    def d(c: Column) = c.cast("double")
    val nD = d(nTot)
    val mu = (nD * nD - d(sumSq)) / 4.0
    val v = (nD * nD * (lit(2.0) * nD + 3.0) - d(sumCube)) / 72.0
    val jStat = d(col("__j2")) / 2.0
    folded.select(nTot.cast("long").as("n_total"),
      lit(bands.size.toLong).as("n_bands"),
      round(jStat, 6).as("j_stat"),
      round(mu, 6).as("expected"),
      when(v > 0.0, round((jStat - mu) / sqrt(v), 6)).as("z_stat"))
  }

  /** X152 — Krippendorff's alpha (nominal scale, two raters, no
    * missing values): α = 1 − (n−1)·ΣoffDiag(o)/De with the
    * coincidence matrix o folded down to three exact integers —
    * disagreeing items D, total items N (n = 2N pairable values),
    * and De = n² − Σ_c n_c² from the symmetric marginals
    * n_c = rowMargin(c) + colMargin(c). The |A∪B|-bounded contingency
    * table is the only shuffled state (map-side combined); one row
    * out. All-one-value data (De = 0) reports NULL.
    */
  def krippendorffAlpha(df: DataFrame, aCol: String, bCol: String)
      : DataFrame = {
    val cells = df.groupBy(col(aCol).cast("string").as("__a"),
        col(bCol).cast("string").as("__b"))
      .agg(count(lit(1)).as("__c"))
    val base = cells.agg(
      sum(col("__c")).cast("long").as("n_items"),
      coalesce(sum(when(col("__a") =!= col("__b"), col("__c"))), lit(0L))
        .cast("long").as("__dis"))
    // symmetric marginals: value v seen by either rater
    val marg = cells.select(col("__a").as("__v"), col("__c"))
      .unionAll(cells.select(col("__b").as("__v"), col("__c")))
      .groupBy(col("__v")).agg(sum(col("__c")).as("__nc"))
      .agg(coalesce(sum(col("__nc") * col("__nc")), lit(0L)).as("__sq"),
        count(lit(1)).as("n_values"))
    val n = lit(2L) * col("n_items")
    val de = n * n - col("__sq")
    base.crossJoin(marg)
      .select(col("n_items"), col("n_values").cast("long").as("n_values"),
        round(col("__dis").cast("double") / col("n_items"), 6)
          .as("disagree_rate"),
        when(de > 0L,
          round(lit(1.0) - (n - 1L).cast("double") *
            (lit(2L) * col("__dis")).cast("double") / de.cast("double"), 6))
          .as("alpha"))
  }

  /** X226 — Mann-Whitney U (Wilcoxon rank-sum) test between two
    * groups, with midrank tie handling and the tie-corrected normal
    * approximation — the nonparametric sibling of [[welchTTest]]:
    * it reads only the value ORDER, so a heavy-tailed length or
    * score column that wrecks the t-test's variance assumptions
    * still gets a valid "did the distribution shift" answer. Also
    * emits the rank-biserial correlation r = 2U/(n_a·n_b) − 1
    * (= Cliff's delta), the effect size the z alone hides at scale
    * (at 10⁹ rows everything is "significant"; r says whether it
    * MATTERS).
    *
    * Exactness: ranks live on the DISTINCT-value table (the ksTest
    * class — the one ordered pass is value-bounded, never a row
    * sort). Doubled midranks 2m = 2·cumPrev + c + 1 are INTEGERS, so
    * the doubled rank sum 2R_A = Σ ca·2m and the tie term Σ(c³−c)
    * accumulate exactly in decimal(38,0); U, z, and r are fixed-shape
    * doubles from those integers, round(6). Values quantize to
    * micro-units — rank-invariant for ≤6-dp inputs. z is NULL when
    * every value ties (σ = 0) or a group is empty.
    */
  def mannWhitneyU(df: DataFrame, valueCol: String, isA: Column)
      : DataFrame = {
    val per = df.groupBy(round(col(valueCol) * 1e6, 0).cast("long").as("__v"))
      .agg(sum(when(isA, 1L).otherwise(0L)).as("__ca"),
        sum(when(isA, 0L).otherwise(1L)).as("__cb"))
      .withColumn("__c", col("__ca") + col("__cb"))
    // doubled midrank of value v: 2*(ranks below) + c + 1 — integer;
    // ranks below come from the distributed cumulative pass
    val m2 = lit(2L) * (col("__cum__c") - col("__c")) +
      col("__c") + lit(1L)
    val agg = CorpusOps.cumSums(per, Seq(col("__v")), Seq("__c"))
      .select(col("__ca"), col("__cb"), col("__c"),
        m2.as("__m2"))
      .agg(sum(col("__ca")).cast("long").as("n_a"),
        sum(col("__cb")).cast("long").as("n_b"),
        sum((col("__ca") * col("__m2")).cast("decimal(38,0)"))
          .as("__r2a"),
        sum((col("__c").cast("decimal(38,0)") * col("__c") * col("__c") -
          col("__c")).cast("decimal(38,0)")).as("__ties"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val nn = na + nb
    // 2U_A = 2R_A − n_a(n_a+1); U in doubles only at the end
    val u2 = col("__r2a").cast("double") - na * (na + 1.0)
    val sigma2 = na * nb / 12.0 *
      ((nn + 1.0) - col("__ties").cast("double") / (nn * (nn - 1.0)))
    val ok = col("n_a") > 0L && col("n_b") > 0L && sigma2 > 0.0
    agg.select(col("n_a"), col("n_b"),
      when(col("n_a") > 0L && col("n_b") > 0L, round(u2 / 2.0, 6))
        .as("u_stat"),
      when(ok, round((u2 - na * nb) / (lit(2.0) * sqrt(sigma2)), 6))
        .as("z_stat"),
      when(col("n_a") > 0L && col("n_b") > 0L,
        round(u2 / (na * nb) - 1.0, 6)).as("rank_biserial"))
  }

  /** X227 — McNemar's test on two paired boolean verdicts over the
    * SAME rows (old filter vs new filter, model A vs model B on one
    * eval set): only the DISCORDANT cells b = A-only and c = B-only
    * carry information about which side is stricter; the
    * continuity-corrected χ² = (|b−c|−1)²/(b+c) tests their symmetry.
    * The paired design cancels the shared-row variance a naive
    * two-proportion z ([[twoProportionZ]]) would double-count — on an
    * A/B over the same documents this is the correct test and the
    * unpaired one is not. Four exact integer cells from one
    * conditional aggregate; χ² NULL when b + c = 0 (no disagreement).
    */
  def mcnemar(df: DataFrame, aCol: Column, bCol: Column): DataFrame = {
    val w = df.agg(
      sum(when(!aCol && !bCol, 1L).otherwise(0L)).cast("long").as("n00"),
      sum(when(!aCol && bCol, 1L).otherwise(0L)).cast("long").as("n01"),
      sum(when(aCol && !bCol, 1L).otherwise(0L)).cast("long").as("n10"),
      sum(when(aCol && bCol, 1L).otherwise(0L)).cast("long").as("n11"))
    val b = col("n10").cast("double")
    val c = col("n01").cast("double")
    val diff = abs(b - c) - 1.0
    // |b−c| ≤ 1 → corrected numerator clamps to 0, not a sign flip
    val num = when(diff > 0.0, diff * diff).otherwise(lit(0.0))
    w.select(col("n00"), col("n01"), col("n10"), col("n11"),
      when(col("n01") + col("n10") > 0L,
        round(num / (b + c), 6)).as("chi2"),
      when(col("n01") + col("n10") > 0L,
        round(b / (b + c), 6)).as("share_a_only"))
  }

  /** X231 — difference-in-differences: the 2×2 (treated × post) cell
    * means and the DiD point estimate (m̄₁₁−m̄₁₀)−(m̄₀₁−m̄₀₀) — the
    * standard "did the rollout move the metric beyond the ambient
    * trend" readout when a change ships to a subset (the control
    * group's pre→post delta absorbs seasonality a naive before/after
    * on the treated group alone would book as treatment effect).
    *
    * One conditional aggregate: four exact integer counts + four
    * micro-unit decimal sums (the welchTTest convention — exact for
    * ≤6-dp inputs); means and the estimate are fixed-shape doubles,
    * round(6). The estimate is NULL if any cell is empty (the design
    * is not identified without all four).
    */
  def didEstimate(df: DataFrame, valueCol: String, isTreated: Column,
      isPost: Column): DataFrame = {
    val d = round(col(valueCol) * 1e6, 0).cast("decimal(19,0)")
    def cell(t: Boolean, p: Boolean) = {
      val m = (if (t) isTreated else !isTreated) &&
        (if (p) isPost else !isPost)
      (sum(when(m, 1L).otherwise(0L)).cast("long"),
        sum(when(m, d)))
    }
    val (c00, s00) = cell(t = false, p = false)
    val (c01, s01) = cell(t = false, p = true)
    val (c10, s10) = cell(t = true, p = false)
    val (c11, s11) = cell(t = true, p = true)
    val w = df.agg(c00.as("n_ctrl_pre"), s00.as("__s00"),
      c01.as("n_ctrl_post"), s01.as("__s01"),
      c10.as("n_treat_pre"), s10.as("__s10"),
      c11.as("n_treat_post"), s11.as("__s11"))
    def mean(s: String, n: String) =
      col(s).cast("double") / col(n).cast("double") / 1e6
    val ok = col("n_ctrl_pre") > 0L && col("n_ctrl_post") > 0L &&
      col("n_treat_pre") > 0L && col("n_treat_post") > 0L
    w.select(col("n_ctrl_pre"), col("n_ctrl_post"),
      col("n_treat_pre"), col("n_treat_post"),
      when(col("n_ctrl_pre") > 0L, round(mean("__s00", "n_ctrl_pre"), 6))
        .as("mean_ctrl_pre"),
      when(col("n_ctrl_post") > 0L,
        round(mean("__s01", "n_ctrl_post"), 6)).as("mean_ctrl_post"),
      when(col("n_treat_pre") > 0L,
        round(mean("__s10", "n_treat_pre"), 6)).as("mean_treat_pre"),
      when(col("n_treat_post") > 0L,
        round(mean("__s11", "n_treat_post"), 6)).as("mean_treat_post"),
      when(ok, round(
        (mean("__s11", "n_treat_post") - mean("__s10", "n_treat_pre")) -
          (mean("__s01", "n_ctrl_post") - mean("__s00", "n_ctrl_pre")),
        6)).as("did"))
  }

  /** X238 — paired permutation (sign-flip) test: is the mean paired
    * difference d̄ distinguishable from zero, with the null built by
    * flipping each pair's sign in `b` deterministic permutations —
    * the assumption-free companion to [[welchTTest]] for PAIRED
    * designs (metric A vs metric B on the same documents): no
    * normality, no variance pooling, the null distribution IS the
    * data's. p = (#{\|T_perm\| ≥ \|T_obs\|} + 1)/(b + 1), the
    * standard add-one form that can never report p = 0.
    *
    * Fully engine-exact: diffs quantize to micro ints; sign s_ib is
    * the PARITY of md5(salt ‖ b ‖ ":" ‖ id) (the X211 coin
    * convention — derived, never stored); every T is an exact
    * integer sum, and the \|T_b\| ≥ \|T_obs\| comparisons happen on
    * those integers (n cancels — means never enter the compare), so
    * the p-value is an exact rational. Scale shape: the b-way
    * explode is the cost knob (b·rows intermediate, one groupBy(b)
    * with map-side combine); b=200 on a slice table is cheap, b=200
    * on raw 100 TB is the caller's informed choice.
    */
  def pairedPermutation(df: DataFrame, idCol: String, diffCol: Column,
      b: Int = 200, salt: String = "perm"): DataFrame = {
    require(b >= 19 && b <= 100000, s"bad b $b")
    val spark = df.sparkSession
    val base = df.select(col(idCol).as("__id"),
      round(diffCol * 1e6, 0).cast("long").as("__d"))
    val obs = base.agg(count(lit(1)).cast("long").as("n"),
      sum(col("__d")).cast("decimal(38,0)").as("__t0"))
    val perms = spark.range(1, b + 1).toDF("__b")
    val sign = when(
      pmod(conv(substring(md5(concat(lit(s"$salt"), col("__b"),
        lit(":"), col("__id"))), 1, 8), 16, 10).cast("long"),
        lit(2L)) === 0L, 1L).otherwise(-1L)
    val tb = base.crossJoin(broadcast(perms))
      .groupBy(col("__b"))
      .agg(sum(sign * col("__d")).cast("decimal(38,0)").as("__tb"))
    val counted = tb.crossJoin(broadcast(obs))
      .agg(sum(when(abs(col("__tb")) >= abs(col("__t0")), 1L)
        .otherwise(0L)).cast("long").as("__ge"),
        max(col("n")).as("n"), max(col("__t0")).as("__t0"))
    counted.select(col("n"),
      round(col("__t0").cast("double") /
        (col("n").cast("double") * 1e6), 6).as("mean_diff"),
      lit(b.toLong).as("n_perms"),
      round((col("__ge") + 1L).cast("double") / (b + 1.0), 6)
        .as("p_value"))
  }

  /** X239 — Cochran-Armitage trend test: does a boolean rate TREND
    * across ordered bands (scores t_k = the band index), z =
    * Σt_k(x_k − n_k p̄) / √(p̄(1−p̄)(Σn_k t_k² − (Σn_k t_k)²/N)) —
    * the ordered-alternative test that beats an omnibus χ² (X126)
    * exactly when the suspicion IS monotone ("do longer docs fail
    * the gate more as length grows"). Bands-bounded cells, every
    * input an exact integer, one fixed-shape double; z is NULL when
    * the pooled rate is degenerate (0 or 1) or all mass sits in one
    * band.
    */
  /** X265 — Cronbach's alpha: internal consistency of k item scores
    * measured on the same rows — α = k/(k−1)·(1 − Σσ²ᵢ/σ²_total) —
    * "do these k quality sub-scores measure ONE underlying thing",
    * the check to run before X109 sums sub-scores into a composite
    * (α < 0.7 means the composite is averaging apples and engine
    * noise). Completes the reliability family: X148/X152/X207 score
    * RATERS, this scores ITEMS.
    *
    * One aggregate: per-item (Σq, Σq²) micro-unit decimal sums plus
    * the row-total's (Σs, Σs²) — sample variances (n−1), fixed-shape
    * doubles, round(6). NULL when the total variance is 0 (constant
    * composite) or n < 2.
    */
  def cronbachAlpha(df: DataFrame, items: Seq[Column]): DataFrame = {
    val k = items.length
    require(k >= 2, s"need >= 2 items, got $k")
    val dec = "decimal(38,0)"
    val qs = items.zipWithIndex.map { case (c, i) =>
      round(c * 1e6, 0).cast("long").as(s"__q$i")
    }
    val base = df.select(qs: _*)
      .withColumn("__s", (0 until k).map(i => col(s"__q$i"))
        .reduce(_ + _))
    val aggs = (0 until k).flatMap { i =>
      Seq(sum(col(s"__q$i").cast(dec)).cast(dec).as(s"__a$i"),
        sum((col(s"__q$i").cast(dec) * col(s"__q$i")).cast(dec))
          .cast(dec).as(s"__b$i"))
    } ++ Seq(sum(col("__s").cast(dec)).cast(dec).as("__st"),
      sum((col("__s").cast(dec) * col("__s")).cast(dec)).cast(dec)
        .as("__stt"),
      count(lit(1)).cast("long").as("n"))
    val w = base.agg(aggs.head, aggs.tail: _*)
    val nd = col("n").cast("double")
    def sVar(s: Column, ss: Column): Column =
      (ss.cast("double") - s.cast("double") * s.cast("double") / nd) /
        (nd - 1.0)
    val itemVarSum = (0 until k).map(i =>
      sVar(col(s"__a$i"), col(s"__b$i"))).reduce(_ + _)
    val totVar = sVar(col("__st"), col("__stt"))
    val ok = col("n") > 1L && totVar > 0.0
    w.select(col("n"), lit(k.toLong).as("n_items"),
      round(itemVarSum / 1e12, 6).as("item_var_sum"),
      round(totVar / 1e12, 6).as("total_var"),
      when(ok, round(lit(k.toDouble / (k - 1.0)) *
        (lit(1.0) - itemVarSum / totVar), 6)).as("alpha"))
  }

  /** X266 — one-way ANOVA: does the value MEAN differ across k
    * groups — F = (SSB/(k−1))/(SSW/(N−k)) from exact per-group
    * micro-unit (n, Σq, Σq²), plus η² = SSB/SST (the effect size the
    * F alone hides at scale, the [[mannWhitneyU]] rank-biserial
    * lesson again). The k-group generalization of [[welchTTest]]'s
    * pooled-variance cousin; [[kruskalWallis]] is its rank-based
    * sibling when normality is indefensible. NULL F on degenerate
    * designs (N ≤ k, or zero within-group variance).
    */
  def oneWayAnova(df: DataFrame, groupCol: String, valueCol: String)
      : DataFrame = {
    val dec = "decimal(38,0)"
    val d = round(col(valueCol) * 1e6, 0).cast("long")
    val cells = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__n"), sum(d.cast(dec)).cast(dec).as("__s"),
        sum((d.cast(dec) * d).cast(dec)).cast(dec).as("__ss"))
    val w = cells.agg(count(lit(1)).cast("long").as("n_groups"),
      sum(col("__n")).cast("long").as("n_total"),
      sum(col("__s")).cast(dec).as("__sT"),
      sum(col("__ss")).cast(dec).as("__ssT"),
      // Σ (group sum)^2 / n_g — exact decimal numerators, the double
      // division is the one fixed-shape step
      sum(col("__s").cast("double") * col("__s").cast("double") /
        col("__n").cast("double")).as("__sb"))
    val nd = col("n_total").cast("double")
    val kd = col("n_groups").cast("double")
    val grand = col("__sT").cast("double") * col("__sT").cast("double") / nd
    val ssb = col("__sb") - grand
    val sst = col("__ssT").cast("double") - grand
    val ssw = sst - ssb
    val f = (ssb / (kd - 1.0)) / (ssw / (nd - kd))
    val ok = col("n_total") > col("n_groups") &&
      col("n_groups") > 1L && ssw > 0.0
    w.select(col("n_groups"), col("n_total"),
      (col("n_groups") - 1L).as("df_between"),
      (col("n_total") - col("n_groups")).as("df_within"),
      when(ok, round(f, 6)).as("f_stat"),
      when(sst > 0.0, round(ssb / sst, 6)).as("eta_sq"))
  }

  /** X267 — Kruskal-Wallis H: the rank-based k-group test — does ANY
    * group's value DISTRIBUTION sit higher, no normality assumed.
    * Same midrank machinery as [[mannWhitneyU]] generalized: the
    * (value, group) cell table carries doubled midranks 2m =
    * 2·cumPrev + c + 1 (integers on the DISTINCT-value ordered
    * pass), doubled rank sums 2R_g fold exactly in decimal, and
    * H = 3/(N(N+1))·Σ(2R_g)²/n_g − 3(N+1), divided by the tie
    * correction 1 − Σ(t³−t)/(N³−N). NULL when every value ties.
    */
  def kruskalWallis(df: DataFrame, groupCol: String, valueCol: String)
      : DataFrame = {
    val dec = "decimal(38,0)"
    val cells = df.groupBy(
        round(col(valueCol) * 1e6, 0).cast("long").as("__v"),
        col(groupCol).as("__g"))
      .agg(count(lit(1)).as("__c"))
    val perV = cells.groupBy(col("__v"))
      .agg(sum(col("__c")).as("__cv"))
    val ranked = CorpusOps.cumSums(perV, Seq(col("__v")), Seq("__cv"))
      .withColumn("__m2", lit(2L) * (col("__cum__cv") -
        col("__cv")) + col("__cv") + lit(1L))
    val gs = cells.join(ranked.select(col("__v"), col("__m2")),
        Seq("__v"))
      .groupBy(col("__g"))
      .agg(sum(col("__c")).cast("long").as("__ng"),
        sum((col("__c").cast(dec) * col("__m2")).cast(dec)).cast(dec)
          .as("__r2"))
    val ties = perV.agg(
      sum(col("__cv")).cast("long").as("__nT"),
      sum((col("__cv").cast(dec) * col("__cv") * col("__cv") -
        col("__cv")).cast(dec)).cast(dec).as("__tt"))
    val fold = gs.agg(count(lit(1)).cast("long").as("n_groups"),
      sum(col("__r2").cast("double") * col("__r2").cast("double") /
        col("__ng").cast("double")).as("__sr"))
    val out = fold.crossJoin(broadcast(ties))
    val nd = col("__nT").cast("double")
    val h = lit(3.0) / (nd * (nd + 1.0)) * col("__sr") -
      lit(3.0) * (nd + 1.0)
    val corr = lit(1.0) - col("__tt").cast("double") /
      (nd * nd * nd - nd)
    out.select(col("n_groups"), col("__nT").as("n_total"),
      (col("n_groups") - 1L).as("df"),
      when(corr > 0.0 && col("n_groups") > 1L, round(h / corr, 6))
        .as("h_stat"))
  }

  /** X282 — two-sample Cramér-von Mises statistic:
    * T = (n_a·n_b/N²)·Σ_k (F_A(z_k) − F_B(z_k))² over ALL N
    * observations z_k — the whole-CDF drift test that weights every
    * quantile, where [[ksTest]] reads only the single worst gap (a
    * distribution that drifts a little EVERYWHERE trips CvM first;
    * one that tears at a single point trips KS first — run both).
    *
    * Same distinct-value machinery as ksTest/[[wasserstein1]]: counts
    * per micro-quantized value, cumulative integer CDFs, and each
    * value's contribution c_v·(cumA·n_b − cumB·n_a)² folds as an
    * exact decimal before the ONE division by n_a·n_b·N². Exact
    * while n_a·n_b·√c_v ≲ 10¹⁸ (decimal(38,0) headroom — same bound
    * class as wasserstein1's documented g2 note); the value-bounded
    * ordered pass is the only window.
    */
  def cramerVonMises(df: DataFrame, valueCol: String, isA: Column)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val per = df.groupBy(round(col(valueCol) * 1e6, 0).cast("long")
        .as("__v"))
      .agg(sum(when(isA, 1L).otherwise(0L)).as("__ca"),
        sum(when(isA, 0L).otherwise(1L)).as("__cb"))
    val tot = per.agg(sum(col("__ca")).cast("long").as("__na"),
      sum(col("__cb")).cast("long").as("__nb"))
    val folded = CorpusOps.cumSums(per, Seq(col("__v")),
        Seq("__ca", "__cb"))
      .withColumn("__cumA", col("__cum__ca"))
      .withColumn("__cumB", col("__cum__cb"))
      .crossJoin(broadcast(tot))
      .agg(max(col("__na")).as("__na"), max(col("__nb")).as("__nb"),
        sum((((col("__cumA").cast(dec) * col("__nb") -
          col("__cumB").cast(dec) * col("__na")) *
          (col("__cumA").cast(dec) * col("__nb") -
            col("__cumB").cast(dec) * col("__na"))).cast(dec) *
          (col("__ca") + col("__cb"))).cast(dec)).as("__num"))
    val na = col("__na").cast("double")
    val nb = col("__nb").cast("double")
    val nn = na + nb
    folded.select(col("__na").as("n_a"), col("__nb").as("n_b"),
      when(col("__na") > 0L && col("__nb") > 0L,
        round(col("__num").cast("double") / (na * nb * nn * nn), 6))
        .as("cvm_t"))
  }

  /** X283 — Jarque-Bera normality test from exact moment sums:
    * skewness g₁ = m₃/m₂^1.5, EXCESS kurtosis g₂ = m₄/m₂² − 3, and
    * JB = n/6·(g₁² + g₂²/4) — the closed-form is-it-Gaussian gate in
    * front of every test here that assumes normal-ish inputs
    * ([[welchTTest]], X149b, the z-approximations): JB large means
    * reach for [[mannWhitneyU]]/[[kruskalWallis]] instead.
    *
    * The value column quantizes by `unit` (default 1 — integral
    * inputs like lengths and counts pass through exactly; pass 1e6
    * for ≤6-dp fractional scores); S₁..S₄ accumulate in
    * decimal(38,0), so exactness needs q⁴·n < 10³⁸ — at |q| ≤ 10⁴
    * that is 10²² rows of headroom, at |q| ≤ 10⁶ still 10¹⁴ (g₁/g₂
    * are scale-invariant, so choosing the smallest sufficient unit
    * costs nothing). Central moments and JB are one fixed-shape
    * double expression, round(6); NULL on zero variance or n < 2.
    */
  def jarqueBera(df: DataFrame, valueCol: String, unit: Double = 1.0)
      : DataFrame = {
    require(unit > 0, s"bad unit $unit")
    val dec = "decimal(38,0)"
    val q = round(col(valueCol) * unit, 0).cast("long")
    val base = df.select(q.as("__q"))
    val sums = base.agg(count(lit(1)).cast("long").as("n"),
      sum(col("__q")).cast(dec).as("__s1"),
      sum((col("__q").cast(dec) * col("__q")).cast(dec)).cast(dec)
        .as("__s2"),
      sum((col("__q").cast(dec) * col("__q") * col("__q")).cast(dec))
        .cast(dec).as("__s3"),
      sum((col("__q").cast(dec) * col("__q") * col("__q") *
        col("__q")).cast(dec)).cast(dec).as("__s4"))
    def d(c: Column) = c.cast("double")
    val nd = d(col("n"))
    val m1 = d(col("__s1")) / nd
    val m2 = d(col("__s2")) / nd - m1 * m1
    val m3 = d(col("__s3")) / nd - lit(3.0) * m1 * (d(col("__s2")) / nd) +
      lit(2.0) * m1 * m1 * m1
    val m4 = d(col("__s4")) / nd - lit(4.0) * m1 * (d(col("__s3")) / nd) +
      lit(6.0) * m1 * m1 * (d(col("__s2")) / nd) -
      lit(3.0) * m1 * m1 * m1 * m1
    val skew = m3 / sqrt(m2 * m2 * m2)
    val exkurt = m4 / (m2 * m2) - 3.0
    val ok = col("n") > 1L && m2 > 0.0
    sums.select(col("n"),
      when(ok, round(skew, 6)).as("skewness"),
      when(ok, round(exkurt, 6)).as("ex_kurtosis"),
      when(ok, round(nd / 6.0 *
        (skew * skew + exkurt * exkurt / 4.0), 6)).as("jb_stat"))
  }

  /** X284 — Levene's test (mean-centered variant): are the k groups'
    * VARIANCES equal — the assumption [[oneWayAnova]] and pooled-SD
    * effect sizes lean on, and a release signal in its own right (a
    * filter that preserves the mean length but doubles its spread
    * trips Levene and nothing mean-based). W is the one-way ANOVA F
    * recomputed on the absolute deviations z_ij = \|x_ij − x̄_g\|.
    *
    * Two passes: exact per-group (n, Σq) micro sums, then each row's
    * deviation \|q·n_g − S_g\|/n_g rounds back to a micro-unit
    * integer (one fixed-shape rational→double→round step — both
    * engines see identical operands) and the ANOVA fold runs on
    * those integers. Group table broadcasts (groups-bounded); W NULL
    * on degenerate designs.
    */
  def levene(df: DataFrame, groupCol: String, valueCol: String)
      : DataFrame = {
    val dec = "decimal(38,0)"
    val q = round(col(valueCol) * 1e6, 0).cast("long")
    val base = df.select(col(groupCol).as("__g"), q.as("__q"))
    val means = base.groupBy(col("__g"))
      .agg(count(lit(1)).cast("long").as("__ng"),
        sum(col("__q")).cast(dec).as("__sg"))
    val z = base.join(broadcast(means), Seq("__g"))
      .withColumn("__z",
        round(abs(col("__q").cast(dec) * col("__ng") - col("__sg"))
          .cast("double") / col("__ng").cast("double"), 0)
          .cast("long"))
    val cells = z.groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"), sum(col("__z").cast(dec)).cast(dec)
          .as("__s"),
        sum((col("__z").cast(dec) * col("__z")).cast(dec)).cast(dec)
          .as("__ss"))
    val w = cells.agg(count(lit(1)).cast("long").as("n_groups"),
      sum(col("__n")).cast("long").as("n_total"),
      sum(col("__s")).cast(dec).as("__sT"),
      sum(col("__ss")).cast(dec).as("__ssT"),
      sum(col("__s").cast("double") * col("__s").cast("double") /
        col("__n").cast("double")).as("__sb"))
    val nd = col("n_total").cast("double")
    val kd = col("n_groups").cast("double")
    val grand = col("__sT").cast("double") * col("__sT").cast("double") / nd
    val ssb = col("__sb") - grand
    val ssw = col("__ssT").cast("double") - col("__sb")
    val f = (ssb / (kd - 1.0)) / (ssw / (nd - kd))
    val ok = col("n_total") > col("n_groups") &&
      col("n_groups") > 1L && ssw > 0.0
    w.select(col("n_groups"), col("n_total"),
      (col("n_groups") - 1L).as("df_between"),
      (col("n_total") - col("n_groups")).as("df_within"),
      when(ok, round(f, 6)).as("w_stat"))
  }

  /** X285 — Friedman test (tie-corrected, Conover form): k related
    * treatments measured once per block, ranked WITHIN each block —
    * "does any event type consistently out-count the others per
    * user", the repeated-measures sibling of [[kruskalWallis]]
    * (whose groups are independent; Friedman's share the block).
    * Only COMPLETE blocks (all k treatments present) enter — partial
    * blocks are dropped and counted.
    *
    * Doubled midranks ρ = 2·(rank−1) + c + 1 are integers from a
    * per-block window (block-bounded: k rows each); with column sums
    * R2_j and ΣΣρ², the tie-corrected statistic is the exact integer
    * ratio χ² = (k−1)·Σ_j(R2_j − n(k+1))² / (Σρ² − n·k(k+1)²) — one
    * double division, round(6); NULL when every block is all ties.
    */
  def friedman(df: DataFrame, blockCol: String, treatmentCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val q = round(col(valueCol) * 1e6, 0).cast("long")
    val base = df.select(col(blockCol).as("__b"),
      col(treatmentCol).as("__t"), q.as("__q"))
    val kTot = base.agg(countDistinct(col("__t")).as("__k"))
    val complete = base
      .withColumn("__bk",
        count(lit(1)).over(Window.partitionBy(col("__b"))))
      .crossJoin(broadcast(kTot))
      .filter(col("__bk") === col("__k"))
    val wRank = Window.partitionBy(col("__b")).orderBy(col("__q"))
    val wTie = Window.partitionBy(col("__b"), col("__q"))
    val rho = complete
      .withColumn("__rho",
        lit(2L) * (rank().over(wRank) - 1L) +
          count(lit(1)).over(wTie) + lit(1L))
    val perT = rho.groupBy(col("__t"))
      .agg(count(lit(1)).cast("long").as("__nb"),
        sum(col("__rho").cast(dec)).cast(dec).as("__r2"),
        sum((col("__rho").cast(dec) * col("__rho")).cast(dec))
          .cast(dec).as("__rr"))
    val dropped = base.select(col("__b")).distinct()
      .agg(count(lit(1)).cast("long").as("__blocksAll"))
    val fold = perT.agg(count(lit(1)).cast("long").as("k"),
      max(col("__nb")).cast("long").as("n_blocks"),
      sum(col("__rr")).cast(dec).as("__rrsum"))
    // Σ_j (R2_j − n(k+1))² needs n and k first — second tiny pass
    val withTarget = perT.crossJoin(broadcast(fold))
      .agg(max(col("k")).as("k"), max(col("n_blocks")).as("n_blocks"),
        max(col("__rrsum")).as("__rrsum"),
        sum(((col("__r2") - col("n_blocks") * (col("k") + 1L))
          * (col("__r2") - col("n_blocks") * (col("k") + 1L)))
          .cast(dec)).cast(dec).as("__dev2"))
    val num = (col("k") - 1L).cast("double") *
      col("__dev2").cast("double")
    val den = col("__rrsum").cast("double") -
      col("n_blocks").cast("double") * col("k").cast("double") *
        ((col("k") + 1L) * (col("k") + 1L)).cast("double")
    withTarget.crossJoin(broadcast(dropped))
      .select(col("n_blocks"), col("k"),
        (col("__blocksAll") - col("n_blocks")).cast("long")
          .as("n_dropped_blocks"),
        (col("k") - 1L).as("df"),
        when(den > 0.0 && col("k") > 1L, round(num / den, 6))
          .as("chi2"))
  }

  /** X286 — Cochran's Q: k paired BINARY treatments over shared
    * blocks — "did each of these k filter versions pass this same
    * document" — the k-treatment generalization of [[mcnemar]] (and
    * exactly McNemar at k = 2). The design grid completes itself:
    * every (block, treatment) cell missing from the input counts as
    * a failure, so event-style inputs (only successes recorded) are
    * usable directly. Q = (k−1)(k·ΣC_j² − N²)/(k·N − ΣR_i²) — exact
    * integer column/row-total folds, one double division; NULL when
    * every block is all-success or all-failure (denominator 0).
    */
  def cochranQ(df: DataFrame, blockCol: String, treatmentCol: String,
      successCol: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.select(col(blockCol).as("__b"),
      col(treatmentCol).as("__t"),
      when(successCol, 1L).otherwise(0L).as("__x"))
    // one cell per observed (block, treatment): success = any success
    val cells = base.groupBy(col("__b"), col("__t"))
      .agg(max(col("__x")).as("__x"))
    val rows = cells.groupBy(col("__b"))
      .agg(sum(col("__x")).as("__r"))
    val colsT = cells.groupBy(col("__t"))
      .agg(sum(col("__x")).as("__c"))
    val k = colsT.agg(count(lit(1)).cast("long").as("k"),
      sum((col("__c").cast(dec) * col("__c")).cast(dec)).cast(dec)
        .as("__cc"),
      sum(col("__c")).cast("long").as("__nTot"))
    val r = rows.agg(count(lit(1)).cast("long").as("n_blocks"),
      sum((col("__r").cast(dec) * col("__r")).cast(dec)).cast(dec)
        .as("__rr"))
    val w = k.crossJoin(broadcast(r))
    val num = (col("k") - 1L).cast("double") *
      (col("k").cast("double") * col("__cc").cast("double") -
        col("__nTot").cast("double") * col("__nTot").cast("double"))
    val den = col("k").cast("double") * col("__nTot").cast("double") -
      col("__rr").cast("double")
    w.select(col("n_blocks"), col("k"), (col("k") - 1L).as("df"),
      col("__nTot").as("n_successes"),
      when(den > 0.0 && col("k") > 1L, round(num / den, 6))
        .as("q_stat"))
  }

  /** X287 — intraclass correlation ICC(1), one-way random effects
    * with the unbalanced-design correction k₀ = (N − Σn_g²/N)/(g−1):
    * what share of a metric's variance lives BETWEEN groups — "are
    * a user's event values more alike than strangers'" — the
    * clustering-awareness number that says whether rows can be
    * treated as independent (ICC ≈ 0) or effective sample size
    * collapses toward the group count (ICC → 1, the X274 lesson in
    * grouped form). ICC = (MSB − MSW)/(MSB + (k₀−1)·MSW) from the
    * same exact per-group (n, Σq, Σq²) micro sums as
    * [[oneWayAnova]]; MS values report in value² units (÷10¹²).
    */
  def icc1(df: DataFrame, groupCol: String, valueCol: String)
      : DataFrame = {
    val dec = "decimal(38,0)"
    val q = round(col(valueCol) * 1e6, 0).cast("long")
    val cells = df.select(col(groupCol).as("__g"), q.as("__q"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"), sum(col("__q").cast(dec)).cast(dec)
          .as("__s"),
        sum((col("__q").cast(dec) * col("__q")).cast(dec)).cast(dec)
          .as("__ss"))
    val w = cells.agg(count(lit(1)).cast("long").as("n_groups"),
      sum(col("__n")).cast("long").as("n_total"),
      sum(col("__s")).cast(dec).as("__sT"),
      sum(col("__ss")).cast(dec).as("__ssT"),
      sum(col("__s").cast("double") * col("__s").cast("double") /
        col("__n").cast("double")).as("__sb"),
      sum((col("__n").cast(dec) * col("__n")).cast(dec)).cast(dec)
        .as("__nn"))
    val nd = col("n_total").cast("double")
    val gd = col("n_groups").cast("double")
    val grand = col("__sT").cast("double") * col("__sT").cast("double") / nd
    val ssb = col("__sb") - grand
    val ssw = col("__ssT").cast("double") - col("__sb")
    val msb = ssb / (gd - 1.0)
    val msw = ssw / (nd - gd)
    val k0 = (nd - col("__nn").cast("double") / nd) / (gd - 1.0)
    val icc = (msb - msw) / (msb + (k0 - 1.0) * msw)
    val ok = col("n_groups") > 1L && col("n_total") > col("n_groups") &&
      (msb + (k0 - 1.0) * msw) > 0.0
    w.select(col("n_groups"), col("n_total"),
      when(col("n_groups") > 1L, round(k0, 6)).as("k0"),
      when(col("n_groups") > 1L, round(msb / 1e12, 6)).as("ms_between"),
      when(col("n_total") > col("n_groups"), round(msw / 1e12, 6))
        .as("ms_within"),
      when(ok, round(icc, 6)).as("icc"))
  }

  /** X289 — standardized effect sizes for a two-group mean
    * comparison: Cohen's d (pooled SD), Hedges' g (the small-sample
    * bias correction d·(1 − 3/(4N−9))), and Glass's Δ (control-side
    * SD — use when the treatment changes the spread too, the
    * [[levene]]-trips case). The magnitude companion [[welchTTest]]'s
    * t cannot provide at scale (at 10⁹ rows everything is
    * "significant"; d says whether it MATTERS — same lesson as
    * mannWhitneyU's rank-biserial). Exact micro-unit (n, Σq, Σq²)
    * per side; every output is a fixed-shape double, round(6); NULL
    * when either side has < 2 rows or the relevant SD is 0.
    */
  def effectSizes(df: DataFrame, valueCol: String, isA: Column)
      : DataFrame = {
    val d6 = round(col(valueCol) * 1e6, 0).cast("decimal(19,0)")
    val w = df.agg(
      sum(when(isA, 1L).otherwise(0L)).cast("long").as("n_a"),
      sum(when(!isA, 1L).otherwise(0L)).cast("long").as("n_b"),
      sum(when(isA, d6)).as("__sa"),
      sum(when(!isA, d6)).as("__sb"),
      sum(when(isA, (d6 * d6).cast("decimal(38,0)"))).as("__ssa"),
      sum(when(!isA, (d6 * d6).cast("decimal(38,0)"))).as("__ssb"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val ma = col("__sa").cast("double") / na
    val mb = col("__sb").cast("double") / nb
    val va = (col("__ssa").cast("double") - ma * col("__sa")
      .cast("double")) / (na - 1.0)
    val vb = (col("__ssb").cast("double") - mb * col("__sb")
      .cast("double")) / (nb - 1.0)
    val sp = sqrt(((na - 1.0) * va + (nb - 1.0) * vb) / (na + nb - 2.0))
    val dEff = (ma - mb) / sp
    val g = dEff * (lit(1.0) - lit(3.0) / (lit(4.0) * (na + nb) - 9.0))
    val glass = (ma - mb) / sqrt(vb)
    val okBase = col("n_a") > 1L && col("n_b") > 1L
    w.select(col("n_a"), col("n_b"),
      round(ma / 1e6, 6).as("mean_a"), round(mb / 1e6, 6).as("mean_b"),
      when(okBase && sp > 0.0, round(dEff, 6)).as("cohens_d"),
      when(okBase && sp > 0.0, round(g, 6)).as("hedges_g"),
      when(okBase && vb > 0.0, round(glass, 6)).as("glass_delta"))
  }

  /** X290 — minimum detectable effect at the CURRENT sample size:
    * per slice, with per-arm n = the slice's row count and baseline
    * rate p̂, the two-proportion MDE = (z_{α/2} + z_β)·√(2p̂(1−p̂)/n)
    * — the honest "this dashboard cell could not have seen less than
    * a 4-point move" label that stops under-powered slice readings
    * from being narrated as "no effect" (the power companion to
    * X220's interval and X149b's test). z quantiles are caller
    * literals (defaults: two-sided α = 0.05, power = 0.8) — no erf
    * on either engine. Exact integer (n, successes) per slice; MDE
    * is one fixed-shape double, round(6); NULL on degenerate rates.
    */
  def mdePower(df: DataFrame, groupCol: String, successCol: Column,
      zAlpha: Double = 1.959964, zBeta: Double = 0.841621)
      : DataFrame = {
    require(zAlpha > 0 && zBeta >= 0, s"bad z $zAlpha/$zBeta")
    val g = df.groupBy(col(groupCol))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(when(successCol, 1L).otherwise(0L)).cast("long")
          .as("successes"))
    val nd = col("n").cast("double")
    val p = col("successes").cast("double") / nd
    val mde = lit(zAlpha + zBeta) *
      sqrt(lit(2.0) * p * (lit(1.0) - p) / nd)
    val ok = p > 0.0 && p < 1.0
    g.select(col(groupCol), col("n"), round(p, 6).as("rate"),
      when(ok, round(mde, 6)).as("mde_abs"),
      when(ok, round(mde / p, 6)).as("mde_rel"))
  }

  /** X296 — Wilcoxon signed-rank test on a PAIRED difference column:
    * rank the nonzero \|d\| with midranks, W⁺ = rank sum of the
    * positive side, tie-corrected normal z — the paired sibling of
    * [[mannWhitneyU]] (which compares independent groups) and the
    * rank-based alternative to a paired t: only the SIGN PATTERN
    * along the magnitude order matters, so one huge outlier pair
    * can't buy the verdict. Zero differences drop (and are counted).
    *
    * Exactness: doubled midranks on the distinct-\|d\| table (the
    * ksTest value-bounded pass); 2W⁺ = Σ pos_v·ρ_v and the tie term
    * Σ(t³−t) fold as exact decimals; μ, σ², z are one fixed-shape
    * double expression from (n, 2W⁺, ties), round(6). z NULL when
    * all pairs tie to zero or σ = 0.
    */
  def wilcoxonSignedRank(df: DataFrame, diffCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val base = df.select(round(diffCol * 1e6, 0).cast("long").as("__d"))
    val zeros = base.agg(
      sum(when(col("__d") === 0L, 1L).otherwise(0L)).cast("long")
        .as("n_zero"))
    val per = base.filter(col("__d") =!= 0L)
      .groupBy(abs(col("__d")).as("__v"))
      .agg(sum(when(col("__d") > 0L, 1L).otherwise(0L)).as("__pv"),
        count(lit(1)).as("__c"))
    val rho = lit(2L) * (col("__cum__c") - col("__c")) +
      col("__c") + lit(1L)
    val agg = CorpusOps.cumSums(per, Seq(col("__v")), Seq("__c"))
      .select(col("__pv"), col("__c"), rho.as("__rho"))
      .agg(coalesce(sum(col("__c")), lit(0L)).cast("long").as("n"),
        coalesce(sum((col("__pv").cast(dec) * col("__rho")).cast(dec)),
          lit(0).cast(dec)).cast(dec).as("__w2"),
        coalesce(sum((col("__c").cast(dec) * col("__c") * col("__c") -
          col("__c")).cast(dec)), lit(0).cast(dec)).cast(dec)
          .as("__ties"))
    val nd = col("n").cast("double")
    val w2 = col("__w2").cast("double")
    val mu2 = nd * (nd + 1.0) / 2.0 // doubled mean: 2·n(n+1)/4
    val sigma2x4 = nd * (nd + 1.0) * (lit(2.0) * nd + 1.0) / 6.0 -
      col("__ties").cast("double") / 12.0 // doubled-scale variance
    agg.crossJoin(broadcast(zeros))
      .select(col("n").as("n_nonzero"), col("n_zero"),
        round(w2 / 2.0, 6).as("w_plus"),
        when(col("n") > 0L && sigma2x4 > 0.0,
          round((w2 - mu2) / (lit(2.0) * sqrt(sigma2x4 / 4.0)), 6))
          .as("z_stat"))
  }

  /** X297 — Bartlett's test of variance homogeneity across k groups:
    * T = ((N−k)·ln s_p² − Σ(n_i−1)·ln s_i²)/C with the standard
    * correction C = 1 + (Σ1/(n_i−1) − 1/(N−k))/(3(k−1)) — the
    * PARAMETRIC sibling of [[levene]]: more powerful when the data
    * really are normal-ish (run [[jarqueBera]] first), fragile when
    * they aren't — report both and let divergence flag
    * non-normality. Per-group exact micro (n, Σq, Σq²); variances
    * and the log fold are fixed-shape doubles over the
    * groups-bounded table (the mutualInformation precedent),
    * round(6). NULL when any group has n < 2 or zero variance.
    */
  def bartlett(df: DataFrame, groupCol: String, valueCol: String)
      : DataFrame = {
    val dec = "decimal(38,0)"
    val q = round(col(valueCol) * 1e6, 0).cast("long")
    val cells = df.select(col(groupCol).as("__g"), q.as("__q"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"), sum(col("__q").cast(dec)).cast(dec)
          .as("__s"),
        sum((col("__q").cast(dec) * col("__q")).cast(dec)).cast(dec)
          .as("__ss"))
    val ndG = col("__n").cast("double")
    // null-den (singleton group) propagates NULL instead of tripping
    // the ANSI divide-by-zero guard inside the conditional aggregates
    val vi = (col("__ss").cast("double") -
      col("__s").cast("double") * col("__s").cast("double") / ndG) /
      when(ndG > 1.0, ndG - 1.0)
    val w = cells.agg(count(lit(1)).cast("long").as("n_groups"),
      sum(col("__n")).cast("long").as("n_total"),
      sum(when(col("__n") > 1L && vi > 0.0,
        (ndG - 1.0) * vi)).as("__pooledNum"),
      sum(when(col("__n") > 1L && vi > 0.0,
        (ndG - 1.0) * log(vi))).as("__lnSum"),
      sum(when(col("__n") > 1L, lit(1.0) / (ndG - 1.0))).as("__invSum"),
      sum(when(col("__n") < 2L || !(vi > 0.0), 1L).otherwise(0L))
        .cast("long").as("__bad"))
    val nd = col("n_total").cast("double")
    val kd = col("n_groups").cast("double")
    val spooled = col("__pooledNum") / (nd - kd)
    val t = ((nd - kd) * log(spooled) - col("__lnSum")) /
      (lit(1.0) + (col("__invSum") - lit(1.0) / (nd - kd)) /
        (lit(3.0) * (kd - 1.0)))
    val ok = col("n_groups") > 1L && col("__bad") === 0L &&
      col("n_total") > col("n_groups")
    w.select(col("n_groups"), col("n_total"),
      (col("n_groups") - 1L).as("df"),
      when(ok, round(t, 6)).as("t_stat"))
  }

  /** X298 — Grubbs' extreme-outlier statistic G = max\|x − x̄\|/s
    * plus the value that achieves it — the single-point "is the
    * worst row an outlier" readout beside X70's population-level MAD
    * banding (MAD flags a tail; Grubbs names ONE suspect with a
    * testable statistic). The max deviation is EXACT (max\|q·n − S\|
    * is an integer — no mean subtraction in floating point); ties on
    * the deviation break to the smaller value. Two aggregates, one
    * broadcast back; G is one double expression, round(6).
    */
  def grubbs(df: DataFrame, valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val q = round(col(valueCol) * 1e6, 0).cast("long")
    val base = df.select(q.as("__q"))
    val sums = base.agg(count(lit(1)).cast("long").as("n"),
      sum(col("__q").cast(dec)).cast(dec).as("__s"),
      sum((col("__q").cast(dec) * col("__q")).cast(dec)).cast(dec)
        .as("__ss"))
    val devs = base.crossJoin(broadcast(sums))
      .withColumn("__dev",
        abs(col("__q").cast(dec) * col("n") - col("__s")).cast(dec))
    val maxDev = devs.agg(max(col("__dev")).as("__md"))
    val arg = devs.crossJoin(broadcast(maxDev))
      .filter(col("__dev") === col("__md"))
      .agg(min(col("__q")).as("__argq"), max(col("n")).as("n"),
        max(col("__s")).as("__s"), max(col("__ss")).as("__ss"),
        max(col("__md")).as("__md"))
    val nd = col("n").cast("double")
    val mean = col("__s").cast("double") / nd
    val varS = (col("__ss").cast("double") -
      col("__s").cast("double") * col("__s").cast("double") / nd) /
      (nd - 1.0)
    val g = col("__md").cast("double") / nd / sqrt(varS)
    val ok = col("n") > 2L && varS > 0.0
    arg.select(col("n"), round(mean / 1e6, 6).as("mean"),
      when(col("n") > 1L && varS > 0.0, round(sqrt(varS) / 1e6, 6))
        .as("sd"),
      when(ok, round(g, 6)).as("g_stat"),
      round(col("__argq").cast("double") / 1e6, 6).as("outlier_value"))
  }

  /** X333 — Dunn's post-hoc pairwise rank test: after
    * [[kruskalWallis]] rejects, WHICH group pairs differ — per pair,
    * z = (r̄_i − r̄_j)/√(σ²·(1/n_i + 1/n_j)) with the tie-corrected
    * σ² = (N(N+1) − Σ(t³−t)/(N−1))/12 — the rank-based sibling of
    * [[pairwiseContrasts]] (feed the \|z\|'s to [[holmAdjust]], the
    * standard Dunn-Holm recipe). Doubled midranks on the
    * distinct-value pass (the X267 machinery); per-group doubled
    * rank sums fold in decimal; each pair's z is one fixed-shape
    * double from exact integers. k²-bounded pair join.
    */
  def dunnTest(df: DataFrame, groupCol: String, valueCol: String)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val cells = df.groupBy(
        round(col(valueCol) * 1e6, 0).cast("long").as("__v"),
        col(groupCol).as("__g"))
      .agg(count(lit(1)).as("__c"))
    val perV = cells.groupBy(col("__v"))
      .agg(sum(col("__c")).as("__cv"))
    val ranked = CorpusOps.cumSums(perV, Seq(col("__v")), Seq("__cv"))
      .withColumn("__m2",
        lit(2L) * (col("__cum__cv") - col("__cv")) +
          col("__cv") + lit(1L))
    val gs = cells.join(ranked.select(col("__v"), col("__m2")),
        Seq("__v"))
      .groupBy(col("__g"))
      .agg(sum(col("__c")).cast("long").as("__ng"),
        sum((col("__c").cast(dec) * col("__m2")).cast(dec)).cast(dec)
          .as("__r2"))
    val ties = perV.agg(sum(col("__cv")).cast("long").as("__nT"),
      sum((col("__cv").cast(dec) * col("__cv") * col("__cv") -
        col("__cv")).cast(dec)).cast(dec).as("__tt"))
    val a = gs.select(col("__g").as("group_a"), col("__ng").as("n_a"),
      col("__r2").as("__r2a"))
    val b = gs.select(col("__g").as("group_b"), col("__ng").as("n_b"),
      col("__r2").as("__r2b"))
    val pairs = a.crossJoin(b).filter(col("group_a") < col("group_b"))
      .crossJoin(broadcast(ties))
    def d(c: Column) = c.cast("double")
    val nd = d(col("__nT"))
    // mean plain rank = (doubled rank sum / n) / 2
    val ma = d(col("__r2a")) / d(col("n_a")) / 2.0
    val mb = d(col("__r2b")) / d(col("n_b")) / 2.0
    val sigma2 = (nd * (nd + 1.0) -
      d(col("__tt")) / (nd - 1.0)) / 12.0
    val se = sqrt(sigma2 * (lit(1.0) / col("n_a") +
      lit(1.0) / col("n_b")))
    val ok = col("__nT") > 1L && sigma2 > 0.0
    pairs.select(col("group_a"), col("group_b"), col("n_a"),
      col("n_b"),
      round(ma, 6).as("mean_rank_a"), round(mb, 6).as("mean_rank_b"),
      when(ok, round((ma - mb) / se, 6)).as("z_stat"))
  }

  /** X335 — Hodges-Lehmann shift estimator: the MEDIAN of all cross
    * differences x_a − x_b — the robust "how far apart are these two
    * distributions" POINT estimate that belongs next to
    * [[mannWhitneyU]]'s verdict (U says "shifted", HL says "by 37
    * characters", and unlike the mean difference one spam blob can't
    * move it). Cross differences live on the \|V_a\|·\|V_b\|
    * distinct-value pair grid (value²-bounded, never row pairs) with
    * integer masses c_a·c_b; the median is the exact order statistic
    * at ⌈n_a·n_b/2⌉ via one cumulative pass — everything integer
    * until the final /1e6.
    */
  def hodgesLehmannShift(df: DataFrame, valueCol: String, isA: Column)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val per = df.groupBy(round(col(valueCol) * 1e6, 0).cast("long")
        .as("__v"))
      .agg(sum(when(isA, 1L).otherwise(0L)).as("__ca"),
        sum(when(isA, 0L).otherwise(1L)).as("__cb"))
    val a = per.filter(col("__ca") > 0L)
      .select(col("__v").as("__va"), col("__ca"))
    val b = per.filter(col("__cb") > 0L)
      .select(col("__v").as("__vb"), col("__cb"))
    val diffs = a.crossJoin(b)
      .groupBy((col("__va") - col("__vb")).as("__d"))
      .agg(sum((col("__ca").cast(dec) * col("__cb")).cast(dec))
        .cast(dec).as("__m"))
    val tot = diffs.agg(sum(col("__m")).cast(dec).as("__nm"))
    // distributed cumulative pass over the diff grid (was a
    // single-task Window.orderBy — the r10 verdict item 6)
    val ranked = CorpusOps.cumSums(diffs, Seq(col("__d")), Seq("__m"))
      .withColumnRenamed("__cum__m", "__cum")
      .crossJoin(broadcast(tot))
      // lower median: smallest d whose cumulative mass reaches
      // ceil(total/2) — integer arithmetic, no doubles in the pick
      .filter(col("__cum") * 2 >= col("__nm"))
      .agg(min(col("__d")).as("__hl"), max(col("__nm")).as("__nm"))
    ranked.select(col("__nm").cast("long").as("n_cross_pairs"),
      round(col("__hl").cast("double") / 1e6, 6).as("hl_shift"))
  }

  /** X336 — paired sign test: of the nonzero paired differences, how
    * many are positive vs negative, with the normal-approximation
    * z = (n₊ − n₋)/√(n₊ + n₋) — the crudest-but-assumption-free
    * paired verdict (only SIGNS matter — [[wilcoxonSignedRank]] adds
    * magnitude ranks, the t adds distributional faith); the right
    * fallback when even rank magnitudes are suspect. Exact integer
    * counts, one double expression, round(6); all-tie inputs NULL.
    */
  def signTest(df: DataFrame, diffCol: Column): DataFrame = {
    val d = round(diffCol * 1e6, 0).cast("long")
    val w = df.agg(
      sum(when(d > 0L, 1L).otherwise(0L)).cast("long").as("n_pos"),
      sum(when(d < 0L, 1L).otherwise(0L)).cast("long").as("n_neg"),
      sum(when(d === 0L, 1L).otherwise(0L)).cast("long").as("n_zero"))
    val nn = (col("n_pos") + col("n_neg")).cast("double")
    w.select(col("n_pos"), col("n_neg"), col("n_zero"),
      when(col("n_pos") + col("n_neg") > 0L,
        round((col("n_pos") - col("n_neg")).cast("double") / sqrt(nn),
          6)).as("z_stat"))
  }

  def cochranArmitage(df: DataFrame, bandCol: Column,
      successCol: Column): DataFrame = {
    val cells = df.groupBy(bandCol.cast("long").as("__t"))
      .agg(count(lit(1)).as("__n"),
        sum(when(successCol, 1L).otherwise(0L)).as("__x"))
    val w = cells.agg(count(lit(1)).cast("long").as("n_bands"),
      sum(col("__n")).cast("long").as("n_total"),
      sum(col("__x")).cast("long").as("successes"),
      sum(col("__t") * col("__x")).cast("decimal(38,0)").as("__tx"),
      sum(col("__t") * col("__n")).cast("decimal(38,0)").as("__tn"),
      sum(col("__t") * col("__t") * col("__n")).cast("decimal(38,0)")
        .as("__ttn"))
    val nd = col("n_total").cast("double")
    val pbar = col("successes").cast("double") / nd
    val num = col("__tx").cast("double") - pbar * col("__tn").cast("double")
    val v = pbar * (lit(1.0) - pbar) *
      (col("__ttn").cast("double") -
        col("__tn").cast("double") * col("__tn").cast("double") / nd)
    w.select(col("n_bands"), col("n_total"), col("successes"),
      round(pbar, 6).as("pooled_rate"),
      when(v > 0.0, round(num / sqrt(v), 6)).as("z_trend"))
  }

  /** X337 — Brunner-Munzel test: the modern replacement for
    * [[mannWhitneyU]] when the two groups may differ in SPREAD as
    * well as location (MW's variance assumes exchangeability; under
    * unequal variances its z is anti-conservative — the exact
    * situation of comparing a curated slice against a raw corpus).
    * Tests P(X_a < X_b) + ½P(X_a = X_b) = ½ with a studentized
    * statistic whose group variances come from the gap between each
    * observation's COMBINED midrank and its WITHIN-GROUP midrank
    * (Brunner & Munzel 2000, the scipy.stats.brunnermunzel form).
    *
    * Exactness: combined and within-group doubled midranks come from
    * one distributed cumulative pass over the distinct micro-value
    * grid ([[graft.operators.CorpusOps.cumSums]] with three mass
    * columns — no single-task window); the deviation sum folds as
    * Σ c·(n_g·2dev)² which is an exact decimal because n_g·2dev =
    * n_g·(m2 − g2 + n_g + 1) − R2_g is integral (headroom: needs
    * n_g²·(2N)²·N < 10³⁸ — fine to ~10⁸ rows; past that the
    * deviation fold moves to doubles, noted here for the 100 TB
    * configuration). p̂ and W are fixed-shape doubles, round(6); W
    * NULL when either group has n < 2 or the variance sum is 0.
    */
  def brunnerMunzel(df: DataFrame, valueCol: String, isA: Column)
      : DataFrame = {
    val dec = "decimal(38,0)"
    val per = df.groupBy(round(col(valueCol) * 1e6, 0).cast("long")
        .as("__v"))
      .agg(sum(when(isA, 1L).otherwise(0L)).as("__ca"),
        sum(when(isA, 0L).otherwise(1L)).as("__cb"))
      .withColumn("__c", col("__ca") + col("__cb"))
    val cum = CorpusOps.cumSums(per, Seq(col("__v")),
      Seq("__ca", "__cb", "__c"))
    // doubled midranks: combined and within each group
    val m2 = lit(2L) * (col("__cum__c") - col("__c")) + col("__c") + 1L
    val a2 = lit(2L) * (col("__cum__ca") - col("__ca")) + col("__ca") + 1L
    val b2 = lit(2L) * (col("__cum__cb") - col("__cb")) + col("__cb") + 1L
    val g = cum.select(col("__ca"), col("__cb"),
      m2.as("__m2"), a2.as("__a2"), b2.as("__b2"))
    val tot = g.agg(sum(col("__ca")).cast("long").as("n_a"),
      sum(col("__cb")).cast("long").as("n_b"),
      sum((col("__ca").cast(dec) * col("__m2")).cast(dec)).cast(dec)
        .as("__ra2"),
      sum((col("__cb").cast(dec) * col("__m2")).cast(dec)).cast(dec)
        .as("__rb2"))
    // n_g·2dev(v) = n_g·(m2 − g2 + n_g + 1) − R2_g: exact integers
    val devA = (col("n_a").cast(dec) *
      (col("__m2") - col("__a2") + col("n_a") + lit(1L)).cast(dec))
      .cast(dec) - col("__ra2")
    val devB = (col("n_b").cast(dec) *
      (col("__m2") - col("__b2") + col("n_b") + lit(1L)).cast(dec))
      .cast(dec) - col("__rb2")
    val folded = g.crossJoin(broadcast(tot)).agg(
      max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
      max(col("__ra2")).as("__ra2"), max(col("__rb2")).as("__rb2"),
      sum((col("__ca").cast(dec) * devA * devA).cast(dec)).cast(dec)
        .as("__sa"),
      sum((col("__cb").cast(dec) * devB * devB).cast(dec)).cast(dec)
        .as("__sb"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    // S_g² = Σ c·(n_g·2dev)² / (4·n_g²·(n_g−1))
    val sa2 = col("__sa").cast("double") / (lit(4.0) * na * na * (na - 1.0))
    val sb2 = col("__sb").cast("double") / (lit(4.0) * nb * nb * (nb - 1.0))
    val vsum = na * sa2 + nb * sb2
    val meanGap = (col("__rb2").cast("double") / nb -
      col("__ra2").cast("double") / na) / 2.0
    val ok = col("n_a") > 1L && col("n_b") > 1L && vsum > 0.0
    folded.select(col("n_a"), col("n_b"),
      when(col("n_a") > 0L && col("n_b") > 0L,
        round((col("__rb2").cast("double") / nb - (nb + 1.0)) /
          (lit(2.0) * na), 6)).as("p_hat"),
      when(ok, round(na * nb * meanGap / ((na + nb) * sqrt(vsum)), 6))
        .as("w_stat"))
  }

  /** X341 — two-sample Poisson rate test: are events arriving faster
    * per unit of exposure in arm A than arm B (error rates per
    * machine-day, rejects per thousand clips — the release gate where
    * [[proportionEffects]]'s per-trial denominator doesn't exist)?
    * Reports the Wald z on the rate difference AND the conditional
    * binomial z (given k = k_a+k_b, k_a ~ Bin(k, e_a/(e_a+e_b)) — the
    * exact-conditional classic, robust at small counts).
    *
    * Input is pre-bucketed exposure rows (e.g. one row per day with
    * that day's event count and exposure amount); counts and
    * exposures fold as exact longs; both z's are one fixed-shape
    * double each, round(6). Walds NULL when either exposure is 0 or
    * a rate sum is 0; conditional NULL when k = 0.
    */
  def poissonRateTest(df: DataFrame, isA: Column, countCol: String,
      exposureCol: String): DataFrame = {
    val w = df.agg(
      sum(when(isA, col(countCol)).otherwise(0L)).cast("long").as("k_a"),
      sum(when(isA, 0L).otherwise(col(countCol))).cast("long").as("k_b"),
      sum(when(isA, col(exposureCol)).otherwise(0L)).cast("long")
        .as("e_a"),
      sum(when(isA, 0L).otherwise(col(exposureCol))).cast("long")
        .as("e_b"))
    val (ka, kb) = (col("k_a").cast("double"), col("k_b").cast("double"))
    val (ea, eb) = (col("e_a").cast("double"), col("e_b").cast("double"))
    val ra = ka / ea
    val rb = kb / eb
    val vWald = ka / (ea * ea) + kb / (eb * eb)
    val p = ea / (ea + eb)
    val k = ka + kb
    val okW = col("e_a") > 0L && col("e_b") > 0L
    folded(w, ra, rb, vWald, p, k, okW)
  }

  private def folded(w: DataFrame, ra: Column, rb: Column,
      vWald: Column, p: Column, k: Column, okW: Column): DataFrame =
    w.select(col("k_a"), col("k_b"), col("e_a"), col("e_b"),
      when(col("e_a") > 0L, round(ra, 6)).as("rate_a"),
      when(col("e_b") > 0L, round(rb, 6)).as("rate_b"),
      when(okW && rb > 0.0, round(ra / rb, 6)).as("rate_ratio"),
      when(okW && vWald > 0.0, round((ra - rb) / sqrt(vWald), 6))
        .as("z_wald"),
      when(okW && k > 0.0 && p > 0.0 && p < 1.0,
        round((col("k_a").cast("double") - k * p) /
          sqrt(k * p * (lit(1.0) - p)), 6)).as("z_cond"))

  /** X342 — CUPED adjustment (controlled experiments using pre-
    * experiment data; Deng et al. 2013): shrink each unit's metric by
    * θ·(covariate − mean) with θ = cov(X,Y)/var(X) fitted POOLED, so
    * the A−B gap keeps its expectation while its variance drops by
    * the squared correlation — the standard online-experimentation
    * variance-reduction step before [[welchTTest]]. Reports θ, the
    * raw and adjusted gaps, and the variance-reduction ratio ρ².
    *
    * Exactness: metric and covariate micro-quantize; every moment
    * (Σx, Σy, Σxy, Σx², Σy², per-group n/Σ) folds in decimal(38,0);
    * θ, gaps and ρ² are fixed-shape doubles, round(6). NULL θ/adj
    * when var(X) = 0; ρ² NULL when either variance is 0.
    */
  def cuped(df: DataFrame, metricCol: String, covCol: String,
      isA: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.select(
      round(col(metricCol) * 1e6, 0).cast("long").as("__y"),
      round(col(covCol) * 1e6, 0).cast("long").as("__x"),
      when(isA, 1L).otherwise(0L).as("__a"))
    val w = base.agg(
      count(lit(1)).cast("long").as("n"),
      sum(col("__a")).cast("long").as("n_a"),
      sum(col("__x").cast(dec)).cast(dec).as("__sx"),
      sum(col("__y").cast(dec)).cast(dec).as("__sy"),
      sum((col("__x").cast(dec) * col("__y")).cast(dec)).cast(dec)
        .as("__sxy"),
      sum((col("__x").cast(dec) * col("__x")).cast(dec)).cast(dec)
        .as("__sxx"),
      sum((col("__y").cast(dec) * col("__y")).cast(dec)).cast(dec)
        .as("__syy"),
      sum(when(col("__a") === 1L, col("__x").cast(dec))
        .otherwise(lit(0).cast(dec))).cast(dec).as("__sxa"),
      sum(when(col("__a") === 1L, col("__y").cast(dec))
        .otherwise(lit(0).cast(dec))).cast(dec).as("__sya"))
    val nd = col("n").cast("double")
    val nad = col("n_a").cast("double")
    val nbd = nd - nad
    def d(c: String) = col(c).cast("double")
    val covxy = d("__sxy") - d("__sx") * d("__sy") / nd
    val varx = d("__sxx") - d("__sx") * d("__sx") / nd
    val vary = d("__syy") - d("__sy") * d("__sy") / nd
    val theta = covxy / varx
    val diffRaw = (d("__sya") / nad - (d("__sy") - d("__sya")) / nbd) / 1e6
    val diffX = (d("__sxa") / nad - (d("__sx") - d("__sxa")) / nbd) / 1e6
    val okG = col("n_a") > 0L && col("n") > col("n_a")
    w.select(col("n_a"), (col("n") - col("n_a")).as("n_b"),
      when(varx > 0.0, round(theta, 6)).as("theta"),
      when(okG, round(diffRaw, 6)).as("diff_raw"),
      when(okG && varx > 0.0, round(diffRaw - theta * diffX, 6))
        .as("diff_adj"),
      when(varx > 0.0 && vary > 0.0,
        round(covxy * covxy / (varx * vary), 6)).as("var_reduction"))
  }

  /** X345 — first-order partial correlation: r_xy·z = (r_xy −
    * r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) — "does quality still correlate
    * with length once token count is held fixed", the confounder
    * check X15's raw correlation can't answer. All three pairwise r's
    * come from one pass of exact decimal micro-moment sums; the
    * partial is one fixed-shape double, round(6); NULL when any
    * variance is 0 or either control correlation is ±1.
    */
  def partialCorrelation(df: DataFrame, xCol: String, yCol: String,
      zCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.select(
      round(col(xCol) * 1e6, 0).cast("long").as("__x"),
      round(col(yCol) * 1e6, 0).cast("long").as("__y"),
      round(col(zCol) * 1e6, 0).cast("long").as("__z"))
    def s(a: String) = sum(col(a).cast(dec)).cast(dec)
    def ss(a: String, b: String) =
      sum((col(a).cast(dec) * col(b)).cast(dec)).cast(dec)
    val w = base.agg(count(lit(1)).cast("long").as("n"),
      s("__x").as("__sx"), s("__y").as("__sy"), s("__z").as("__sz"),
      ss("__x", "__x").as("__sxx"), ss("__y", "__y").as("__syy"),
      ss("__z", "__z").as("__szz"), ss("__x", "__y").as("__sxy"),
      ss("__x", "__z").as("__sxz"), ss("__y", "__z").as("__syz"))
    val nd = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    def cov(sab: String, sa: String, sb: String) =
      d(sab) - d(sa) * d(sb) / nd
    val vx = cov("__sxx", "__sx", "__sx")
    val vy = cov("__syy", "__sy", "__sy")
    val vz = cov("__szz", "__sz", "__sz")
    val rxy = cov("__sxy", "__sx", "__sy") / sqrt(vx * vy)
    val rxz = cov("__sxz", "__sx", "__sz") / sqrt(vx * vz)
    val ryz = cov("__syz", "__sy", "__sz") / sqrt(vy * vz)
    val den = (lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz)
    val okV = vx > 0.0 && vy > 0.0 && vz > 0.0
    w.select(col("n"),
      when(okV, round(rxy, 6)).as("r_xy"),
      when(okV, round(rxz, 6)).as("r_xz"),
      when(okV, round(ryz, 6)).as("r_yz"),
      when(okV && den > 0.0,
        round((rxy - rxz * ryz) / sqrt(den), 6)).as("r_partial"))
  }

  /** X346 — Lin's concordance correlation coefficient (Lin 1989):
    * agreement between two continuous raters — ρc = 2s_xy/(s_x² +
    * s_y² + (x̄−ȳ)²) punishes location AND scale shifts that Pearson
    * forgives (two quality scorers can correlate 0.99 while one runs
    * a point high; ρc says so) — the continuous sibling of X148's
    * kappa and X287's ICC. Population (1/n) moments per Lin's
    * original; C_b = ρc/r isolates the bias component. Exact decimal
    * micro sums; round(6); NULL when both variances are 0.
    */
  def linsCcc(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.select(
      round(col(xCol) * 1e6, 0).cast("long").as("__x"),
      round(col(yCol) * 1e6, 0).cast("long").as("__y"))
    val w = base.agg(count(lit(1)).cast("long").as("n"),
      sum(col("__x").cast(dec)).cast(dec).as("__sx"),
      sum(col("__y").cast(dec)).cast(dec).as("__sy"),
      sum((col("__x").cast(dec) * col("__x")).cast(dec)).cast(dec)
        .as("__sxx"),
      sum((col("__y").cast(dec) * col("__y")).cast(dec)).cast(dec)
        .as("__syy"),
      sum((col("__x").cast(dec) * col("__y")).cast(dec)).cast(dec)
        .as("__sxy"))
    val nd = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val mx = d("__sx") / nd
    val my = d("__sy") / nd
    val vx = (d("__sxx") - d("__sx") * d("__sx") / nd) / nd
    val vy = (d("__syy") - d("__sy") * d("__sy") / nd) / nd
    val cxy = (d("__sxy") - d("__sx") * d("__sy") / nd) / nd
    val gap = (mx - my) / 1e6
    val ccc = lit(2.0) * cxy / (vx + vy + (mx - my) * (mx - my))
    val r = cxy / sqrt(vx * vy)
    w.select(col("n"),
      round(mx / 1e6, 6).as("mean_x"), round(my / 1e6, 6).as("mean_y"),
      when(vx > 0.0 && vy > 0.0, round(r, 6)).as("pearson_r"),
      when(vx + vy > 0.0 || gap =!= 0.0, round(ccc, 6)).as("ccc"),
      when(vx > 0.0 && vy > 0.0 && cxy =!= 0.0, round(ccc / r, 6))
        .as("bias_correction"))
  }

  /** X347 — odds ratio and relative risk with Wald CIs: the 2×2
    * release-gate panel ("flagged docs are 3.4× likelier to be
    * near-dups, CI [2.9, 4.0]") — effect DIRECTION AND UNCERTAINTY
    * where X149's z gives only a verdict. Exact integer cells; OR,
    * RR and their log-scale 95% CIs are fixed-shape doubles,
    * round(6); all NULL when any margin needed is 0 (the standard
    * continuity-correction-free convention — callers add 0.5 cells
    * upstream if they want Haldane).
    */
  def oddsRatio(df: DataFrame, exposed: Column, outcome: Column)
      : DataFrame = {
    val w = df.agg(
      sum(when(exposed && outcome, 1L).otherwise(0L)).cast("long")
        .as("n_exp_pos"),
      sum(when(exposed && !outcome, 1L).otherwise(0L)).cast("long")
        .as("n_exp_neg"),
      sum(when(!exposed && outcome, 1L).otherwise(0L)).cast("long")
        .as("n_unexp_pos"),
      sum(when(!exposed && !outcome, 1L).otherwise(0L)).cast("long")
        .as("n_unexp_neg"))
    val a = col("n_exp_pos").cast("double")
    val b = col("n_exp_neg").cast("double")
    val c = col("n_unexp_pos").cast("double")
    val dd = col("n_unexp_neg").cast("double")
    val or = a * dd / (b * c)
    val seLogOr = sqrt(lit(1.0) / a + lit(1.0) / b + lit(1.0) / c +
      lit(1.0) / dd)
    val rr = (a / (a + b)) / (c / (c + dd))
    val seLogRr = sqrt(lit(1.0) / a - lit(1.0) / (a + b) +
      lit(1.0) / c - lit(1.0) / (c + dd))
    val okOr = col("n_exp_pos") > 0L && col("n_exp_neg") > 0L &&
      col("n_unexp_pos") > 0L && col("n_unexp_neg") > 0L
    val okRr = col("n_exp_pos") > 0L && col("n_unexp_pos") > 0L &&
      col("n_exp_neg") >= 0L && col("n_unexp_neg") >= 0L
    w.select(col("n_exp_pos"), col("n_exp_neg"), col("n_unexp_pos"),
      col("n_unexp_neg"),
      when(okOr, round(or, 6)).as("odds_ratio"),
      when(okOr, round(exp(log(or) - lit(1.959964) * seLogOr), 6))
        .as("or_lo"),
      when(okOr, round(exp(log(or) + lit(1.959964) * seLogOr), 6))
        .as("or_hi"),
      when(okRr, round(rr, 6)).as("rel_risk"),
      when(okOr, round(exp(log(rr) - lit(1.959964) * seLogRr), 6))
        .as("rr_lo"),
      when(okOr, round(exp(log(rr) + lit(1.959964) * seLogRr), 6))
        .as("rr_hi"))
  }

  /** X348 — Quade test: the block-weighted sibling of [[friedman]] —
    * blocks with a wider raw RANGE carry proportionally more weight
    * (Friedman throws that information away; for small k Quade is
    * uniformly more powerful). Within-block midranks reuse the
    * friedman machinery; block weights are midranks of the block
    * ranges computed by the distributed cumulative pass
    * ([[CorpusOps.cumSums]] on the distinct-range grid — no
    * single-task window anywhere).
    *
    * Exactness: with doubled midranks ρ = 2R and doubled range
    * midranks q2 = 2Q, the score 4S_ij = q2·(ρ − (k+1)) is an exact
    * integer; 16A = Σ(4S)² and n·16B = Σ_j (Σ_i 4S)² fold in decimal,
    * so F = (n−1)·ΣS_j²·?/(n·A − ΣS_j²) is one double division,
    * round(6). Incomplete blocks drop (reported); NULL when A = B
    * (perfect block agreement — F degenerates).
    */
  def quadeTest(df: DataFrame, blockCol: String, treatmentCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val q = round(col(valueCol) * 1e6, 0).cast("long")
    val base = df.select(col(blockCol).as("__b"),
      col(treatmentCol).as("__t"), q.as("__q"))
    val kTot = base.agg(countDistinct(col("__t")).as("__k"))
    val complete = base
      .withColumn("__bk",
        count(lit(1)).over(Window.partitionBy(col("__b"))))
      .crossJoin(broadcast(kTot))
      .filter(col("__bk") === col("__k"))
    // within-block doubled midranks (keyed window — scales by block)
    val wRank = Window.partitionBy(col("__b")).orderBy(col("__q"))
    val wTie = Window.partitionBy(col("__b"), col("__q"))
    val rho = complete.withColumn("__rho",
      lit(2L) * (rank().over(wRank) - 1L) +
        count(lit(1)).over(wTie) + lit(1L))
    // block weights: doubled midranks of the block RANGES across
    // blocks, via the distributed cumulative pass
    val ranges = rho.groupBy(col("__b"))
      .agg((max(col("__q")) - min(col("__q"))).as("__rng"),
        max(col("__k")).as("__k"))
    val perRange = ranges.groupBy(col("__rng"))
      .agg(count(lit(1)).as("__c"))
    val ranked = CorpusOps.cumSums(perRange, Seq(col("__rng")),
        Seq("__c"))
      .select(col("__rng"),
        (lit(2L) * (col("__cum__c") - col("__c")) + col("__c") + 1L)
          .as("__q2"))
    val weighted = rho.join(ranges.join(ranked, Seq("__rng"))
      .select(col("__b"), col("__q2")), Seq("__b"))
    // 4·S_ij = q2·(rho − (k+1)): exact integers
    val s4 = (col("__q2").cast(dec) *
      (col("__rho") - col("__k") - lit(1L)).cast(dec)).cast(dec)
    val perT = weighted.groupBy(col("__t"))
      .agg(count(lit(1)).cast("long").as("__nb"),
        sum(s4).cast(dec).as("__s4"),
        sum((s4 * s4).cast(dec)).cast(dec).as("__a16"))
    val dropped = base.select(col("__b")).distinct()
      .agg(count(lit(1)).cast("long").as("__blocksAll"))
    val fold = perT.agg(count(lit(1)).cast("long").as("k"),
      max(col("__nb")).cast("long").as("n_blocks"),
      sum(col("__a16")).cast(dec).as("__A"),
      sum((col("__s4") * col("__s4")).cast(dec)).cast(dec).as("__B"))
    // F = (n−1)·B/(A−B) with B = Σ S_j²/n: all integer until the end
    val nA = col("n_blocks").cast("double") * col("__A").cast("double")
    val sB = col("__B").cast("double")
    val fStat = (col("n_blocks").cast("double") - 1.0) * sB /
      (nA - sB)
    fold.crossJoin(broadcast(dropped))
      .select(col("n_blocks"), col("k"),
        (col("__blocksAll") - col("n_blocks")).cast("long")
          .as("n_dropped_blocks"),
        (col("k") - 1L).as("df1"),
        ((col("n_blocks") - 1L) * (col("k") - 1L)).as("df2"),
        when(col("k") > 1L && col("n_blocks") > 1L && nA - sB > 0.0,
          round(fStat, 6)).as("f_stat"))
  }

  /** X349 — Page's L trend test: [[friedman]] with a PRE-SPECIFIED
    * treatment ORDER — "does the metric rise monotonically across
    * snapshot versions / size tiers", which the omnibus Friedman
    * can't say (it only detects SOME difference; Page earns its power
    * by betting on the ordering). L = Σ_j j·R_j over within-block
    * midranks, ordinal j = the natural order of the treatment values;
    * z = (12L − 3nk(k+1)²)/(k(k+1)·√(n(k−1))) — exact in the no-tie
    * design, midranks keep E[L] exact under ties (variance then
    * slightly conservative, the standard treatment).
    *
    * Doubled midranks make 12L = 6·ΣL2 an exact integer fold;
    * completeness filtering reuses the friedman machinery; ≤ 64
    * treatments ship as a literal ordinal map (the jonckheere
    * convention). NULL z when k < 2 or n < 1.
    */
  def pageTrendTest(df: DataFrame, blockCol: String,
      treatmentCol: String, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = "decimal(38,0)"
    val q = round(col(valueCol) * 1e6, 0).cast("long")
    val base = df.select(col(blockCol).as("__b"),
      col(treatmentCol).as("__t"), q.as("__q"))
    val ts = base.select(col("__t")).distinct()
      .orderBy(col("__t")).collect().map(_.get(0))
    require(ts.length >= 2 && ts.length <= 64,
      s"need 2..64 ordered treatments, got ${ts.length}")
    val ordinal = ts.zipWithIndex.foldLeft(lit(null).cast("long")) {
      case (acc, (t, i)) =>
        when(col("__t") === lit(t), lit(i + 1L)).otherwise(acc)
    }
    val k = ts.length
    val complete = base
      .withColumn("__bk",
        count(lit(1)).over(Window.partitionBy(col("__b"))))
      .filter(col("__bk") === k)
    val wRank = Window.partitionBy(col("__b")).orderBy(col("__q"))
    val wTie = Window.partitionBy(col("__b"), col("__q"))
    val rho = complete.withColumn("__rho",
      lit(2L) * (rank().over(wRank) - 1L) +
        count(lit(1)).over(wTie) + lit(1L))
      .withColumn("__j", ordinal)
    val fold = rho.agg(
      (count(lit(1)) / k).cast("long").as("n_blocks"),
      sum((col("__j").cast(dec) * col("__rho")).cast(dec)).cast(dec)
        .as("__l2"))
    val n = col("n_blocks").cast("double")
    val kd = lit(k.toDouble)
    val l12 = lit(6.0) * col("__l2").cast("double")
    val z = (l12 - lit(3.0) * n * kd * (kd + 1.0) * (kd + 1.0)) /
      (kd * (kd + 1.0) * sqrt(n * (kd - 1.0)))
    fold.select(col("n_blocks"), lit(k.toLong).as("k"),
      round(col("__l2").cast("double") / 2.0, 6).as("l_stat"),
      when(col("n_blocks") > 0L, round(z, 6)).as("z_stat"))
  }

  /** X364 — inverse-propensity-weighted treatment-effect estimate,
    * plain (IPW/Horvitz-Thompson) and self-normalized (SNIPS): the
    * off-policy answer when treatment was NOT randomized but the
    * assignment probability is known (which curation policy scored
    * this doc, which ranker served this result) — the observational
    * sibling of X231's DiD and X342's CUPED. SNIPS trades a little
    * bias for much smaller variance; report both and distrust large
    * gaps.
    *
    * Exactness: each row's weighted term nano-quantizes
    * (round(·1e9) → long — the ansari convention) before the fold,
    * so sums are order-exact; the estimates are fixed-shape doubles,
    * round(6). Rows need 0 < e < 1; a clamped propensity is the
    * caller's policy decision.
    */
  def ipwEstimate(df: DataFrame, treated: Column, outcomeCol: String,
      propensityCol: String): DataFrame = {
    val y = col(outcomeCol).cast("double")
    val e = col(propensityCol).cast("double")
    val tTerm = when(treated, y / e).otherwise(0.0)
    val cTerm = when(treated, 0.0).otherwise(y / (lit(1.0) - e))
    val tW = when(treated, lit(1.0) / e).otherwise(0.0)
    val cW = when(treated, 0.0).otherwise(lit(1.0) / (lit(1.0) - e))
    def nano(c: Column) = round(c * 1e9, 0).cast("long")
    val w = df.agg(count(lit(1)).cast("long").as("n"),
      sum(when(treated, 1L).otherwise(0L)).cast("long").as("n_treated"),
      sum(nano(tTerm)).cast("long").as("__ty"),
      sum(nano(cTerm)).cast("long").as("__cy"),
      sum(nano(tW)).cast("long").as("__tw"),
      sum(nano(cW)).cast("long").as("__cw"))
    val nd = col("n").cast("double")
    val ipw = (col("__ty").cast("double") - col("__cy").cast("double")) /
      (nd * 1e9)
    val snips = col("__ty").cast("double") / col("__tw").cast("double") -
      col("__cy").cast("double") / col("__cw").cast("double")
    val ok = col("n_treated") > 0L && col("n") > col("n_treated")
    w.select(col("n"), col("n_treated"),
      when(ok, round(ipw, 6)).as("ate_ipw"),
      when(ok && col("__tw") > 0L && col("__cw") > 0L,
        round(snips, 6)).as("ate_snips"))
  }

  /** X365 — sharp regression-discontinuity estimate: local linear
    * fits with a rectangular kernel on each side of the cutoff within
    * `bandwidth`, jump = right-intercept-at-cutoff minus left — "did
    * crossing the quality threshold CAUSE the retention change" when
    * the threshold is mechanical (score cutoffs, length gates).
    *
    * Exactness: both sides' OLS terms come from exact decimal micro
    * moments of the RECENTERED running variable (x − c); the slope/
    * intercept algebra is fixed-shape doubles, round(6). NULL when a
    * side has < 2 points or zero variance.
    */
  def regressionDiscontinuity(df: DataFrame, runningCol: String,
      outcomeCol: String, cutoff: Double, bandwidth: Double)
      : DataFrame = {
    require(bandwidth > 0, s"bad bandwidth $bandwidth")
    val dec = "decimal(38,0)"
    val x = round((col(runningCol) - cutoff) * 1e6, 0).cast("long")
    val y = round(col(outcomeCol) * 1e6, 0).cast("long")
    val base = df
      .filter(abs(col(runningCol) - cutoff) <= bandwidth)
      .select(x.as("__x"), y.as("__y"),
        (col(runningCol) >= cutoff).as("__r"))
    def side(flag: Boolean, tag: String) = {
      val s = base.filter(col("__r") === flag)
      s.agg(count(lit(1)).cast("long").as(s"n_$tag"),
        sum(col("__x").cast(dec)).cast(dec).as(s"__sx_$tag"),
        sum(col("__y").cast(dec)).cast(dec).as(s"__sy_$tag"),
        sum((col("__x").cast(dec) * col("__y")).cast(dec)).cast(dec)
          .as(s"__sxy_$tag"),
        sum((col("__x").cast(dec) * col("__x")).cast(dec)).cast(dec)
          .as(s"__sxx_$tag"))
    }
    val j = side(false, "left").crossJoin(broadcast(side(true, "right")))
    def fit(tag: String): (Column, Column, Column) = {
      val nd = col(s"n_$tag").cast("double")
      val sx = col(s"__sx_$tag").cast("double")
      val sy = col(s"__sy_$tag").cast("double")
      val sxy = col(s"__sxy_$tag").cast("double")
      val sxx = col(s"__sxx_$tag").cast("double")
      val varx = sxx - sx * sx / nd
      val slope = (sxy - sx * sy / nd) / varx
      // intercept AT THE CUTOFF (x recentered): (Σy − b·Σx)/n, /1e6
      val atCut = (sy - slope * sx) / nd / 1e6
      (slope, atCut, varx)
    }
    val (bl, al, vl) = fit("left")
    val (br, ar, vr) = fit("right")
    val okL = col("n_left") > 1L && vl > 0.0
    val okR = col("n_right") > 1L && vr > 0.0
    j.select(col("n_left"), col("n_right"),
      when(okL, round(al, 6)).as("left_at_cutoff"),
      when(okR, round(ar, 6)).as("right_at_cutoff"),
      when(okL, round(bl, 6)).as("slope_left"),
      when(okR, round(br, 6)).as("slope_right"),
      when(okL && okR, round(ar - al, 6)).as("rd_jump"))
  }

  /** X366 — Simpson's-paradox detector: the sign of the x–y
    * association overall vs within every stratum — when most strata
    * DISAGREE with the pooled sign, the pooled number is a
    * confounding artifact and every dashboard reading it is wrong
    * (the classic corpus case: quality "rises" with length overall
    * because long-doc sources are cleaner, while inside every source
    * it falls). Covariances from exact decimal micro moments, one
    * row out; strata-bounded.
    */
  /** X367 — one-sample Kolmogorov-Smirnov against the Uniform[lo,hi]
    * reference: D = sup\|F_n − T\| evaluated at BOTH sides of every
    * empirical jump (the sup of a step-vs-continuous gap lives at a
    * jump's top or bottom) — the "is this score actually calibrated /
    * is this hash actually uniform" gate beside [[ksTest]]'s
    * two-sample form. Empirical CDF heights come from the distributed
    * cumulative pass ([[CorpusOps.cumSums]] — no single-task window);
    * the theoretical CDF is one clamped linear expression; round(6).
    */
  def ksUniformTest(df: DataFrame, valueCol: String, lo: Double,
      hi: Double): DataFrame = {
    require(hi > lo, s"bad range [$lo, $hi]")
    val per = df.groupBy(round(col(valueCol) * 1e6, 0).cast("long")
        .as("__v"))
      .agg(count(lit(1)).as("__c"))
    val cum = CorpusOps.cumSums(per, Seq(col("__v")), Seq("__c"))
    val tot = per.agg(sum(col("__c")).cast("long").as("__n"))
    val j = cum.crossJoin(broadcast(tot))
    val nd = col("__n").cast("double")
    val t = least(lit(1.0), greatest(lit(0.0),
      (col("__v").cast("double") / 1e6 - lo) / (hi - lo)))
    val fHi = col("__cum__c").cast("double") / nd
    val fLo = (col("__cum__c") - col("__c")).cast("double") / nd
    j.agg(max(col("__n")).as("n"),
        max(greatest(abs(fHi - t), abs(fLo - t))).as("__d"))
      .select(col("n"),
        when(col("n") > 0L, round(col("__d"), 6)).as("ks_d"))
  }

  def simpsonCheck(df: DataFrame, stratumCol: String, xCol: String,
      yCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = df.select(col(stratumCol).as("__s"),
      round(col(xCol) * 1e6, 0).cast("long").as("__x"),
      round(col(yCol) * 1e6, 0).cast("long").as("__y"))
    def moments(g: org.apache.spark.sql.RelationalGroupedDataset) =
      g.agg(count(lit(1)).cast("long").as("__n"),
        sum(col("__x").cast(dec)).cast(dec).as("__sx"),
        sum(col("__y").cast(dec)).cast(dec).as("__sy"),
        sum((col("__x").cast(dec) * col("__y")).cast(dec)).cast(dec)
          .as("__sxy"))
    // cov sign is scale-free: sign(n·Σxy − Σx·Σy), exact decimal
    val covN = (col("__n").cast(dec) * col("__sxy")).cast(dec) -
      (col("__sx") * col("__sy")).cast(dec)
    val per = moments(base.groupBy(col("__s")))
      .select(signum(covN.cast("double")).cast("int").as("__sig"))
    val strata = per.agg(count(lit(1)).cast("long").as("n_strata"),
      sum(when(col("__sig") === 1, 1L).otherwise(0L)).cast("long")
        .as("n_positive"),
      sum(when(col("__sig") === -1, 1L).otherwise(0L)).cast("long")
        .as("n_negative"))
    val overall = moments(base.groupBy())
      .select(signum(covN.cast("double")).cast("int")
        .as("overall_sign"))
    strata.crossJoin(broadcast(overall))
      .select(col("n_strata"), col("n_positive"), col("n_negative"),
        col("overall_sign").cast("long").as("overall_sign"),
        (when(col("overall_sign") === 1, col("n_negative"))
          .when(col("overall_sign") === -1, col("n_positive"))
          .otherwise(lit(0L))).cast("long").as("n_reversed"),
        ((col("overall_sign") === 1 &&
          col("n_negative") > col("n_positive")) ||
          (col("overall_sign") === -1 &&
            col("n_positive") > col("n_negative")))
          .as("simpson_flag"))
  }

  /** X374 — Mantel-Haenszel pooled odds ratio + Woolf homogeneity
    * across strata: the confounder-adjusted effect for stratified
    * 2×2 tables — the companion X366's Simpson detector calls for
    * (Simpson says "the strata disagree with the pool"; MH answers
    * "so what IS the adjusted effect"). OR_MH = Σ(aᵢdᵢ/nᵢ) /
    * Σ(bᵢcᵢ/nᵢ); Woolf's Q = Σ wᵢ(lnORᵢ − lnOR̄)² on
    * Haldane-corrected (+0.5) cells tests whether pooling is even
    * licensed (Q ≫ χ²_{k−1} → effects differ per stratum — report
    * per-stratum, don't pool).
    *
    * Exactness: cells are exact integer counts; each stratum's
    * aᵢdᵢ/nᵢ and bᵢcᵢ/nᵢ terms nano-quantize before the pooled
    * sums (exact integer folds, order-free); Woolf weights and
    * w·lnOR micro-quantize per stratum, the weighted mean is one
    * ratio of exact integers, and the Q terms micro-quantize again
    * against that mean — every double is fixed-shape per stratum,
    * every cross-stratum sum an integer. Strata-bounded throughout:
    * one cells agg, two tiny passes over the \|strata\|-row table.
    */
  def mantelHaenszel(df: DataFrame, stratumCol: String,
      exposed: Column, outcome: Column): DataFrame = {
    val cells = df.groupBy(col(stratumCol))
      .agg(
        sum(when(exposed && outcome, 1L).otherwise(0L)).cast("long")
          .as("a"),
        sum(when(exposed && !outcome, 1L).otherwise(0L)).cast("long")
          .as("b"),
        sum(when(!exposed && outcome, 1L).otherwise(0L)).cast("long")
          .as("c"),
        sum(when(!exposed && !outcome, 1L).otherwise(0L)).cast("long")
          .as("d"))
      .transform(Materialize.cut)
    val n = (col("a") + col("b") + col("c") + col("d")).cast("double")
    val ah = col("a") + lit(0.5); val bh = col("b") + lit(0.5)
    val ch = col("c") + lit(0.5); val dh = col("d") + lit(0.5)
    val lnOr = log((ah * dh) / (bh * ch))
    val w = lit(1.0) /
      (lit(1.0) / ah + lit(1.0) / bh + lit(1.0) / ch + lit(1.0) / dh)
    val terms = cells.select(
      round(col("a").cast("double") * col("d") / n * 1e9, 0)
        .cast("long").as("__adn"),
      round(col("b").cast("double") * col("c") / n * 1e9, 0)
        .cast("long").as("__bcn"),
      round(w * 1e6, 0).cast("long").as("__w"),
      round(w * lnOr * 1e6, 0).cast("long").as("__wl"))
    val pooled = terms.agg(
      count(lit(1)).cast("long").as("n_strata"),
      sum(col("__adn")).cast("long").as("__sad"),
      sum(col("__bcn")).cast("long").as("__sbc"),
      sum(col("__w")).cast("long").as("__sw"),
      sum(col("__wl")).cast("long").as("__swl"))
    val lnBar = col("__swl").cast("double") / col("__sw").cast("double")
    val q = cells.crossJoin(broadcast(pooled))
      .select(col("n_strata"), col("__sad"), col("__sbc"),
        round(w * (lnOr - lnBar) * (lnOr - lnBar) * 1e6, 0)
          .cast("long").as("__q"))
      .groupBy(col("n_strata"), col("__sad"), col("__sbc"))
      .agg(sum(col("__q")).cast("long").as("__sq"))
    q.select(col("n_strata"),
      when(col("__sbc") > 0L,
        round(col("__sad").cast("double") / col("__sbc").cast("double"),
          6)).as("or_mh"),
      round(col("__sq").cast("double") / 1e6, 6).as("woolf_q"),
      (col("n_strata") - 1L).as("woolf_df"))
  }

  /** X387 — Hochberg step-up FWER adjustment (+ the Šidák
    * single-step column): adjusted p̃_(i) = min_{j≥i} p_(j)·(m−j+1)
    * capped at 1 — [[holmAdjust]]'s raw sequence read as a SUFFIX
    * min instead of a prefix max. Hochberg dominates Holm (p̃_H ≤
    * p̃_Holm always, so it rejects everything Holm rejects and more)
    * but needs non-negative dependence among the p-values; run Holm
    * when the tests are adversarially correlated, Hochberg when they
    * are independent-ish GOF scans over disjoint slices. The Šidák
    * column 1−(1−p)^m is the exact-independence single-step
    * reference point between Bonferroni and the step procedures.
    * Same slice-bounded two-window shape as [[bhAdjust]].
    */
  def hochbergAdjust(df: DataFrame, keyCol: String, pCol: String,
      alpha: Double = 0.05): DataFrame = {
    require(alpha > 0 && alpha < 1, s"bad alpha $alpha")
    import org.apache.spark.sql.expressions.Window
    val m = df.agg(count(lit(1)).as("__m"))
    val wAsc = Window.orderBy(col(pCol).asc, col(keyCol).asc)
    // suffix min over ascending rank == running min in DESC order
    val wDesc = Window.orderBy(col(pCol).desc, col(keyCol).desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(keyCol), col(pCol))
      .crossJoin(broadcast(m))
      .withColumn("__rank", row_number().over(wAsc).cast("long"))
      .withColumn("__raw",
        col(pCol) * (col("__m") - col("__rank") + 1L))
      .withColumn("__adj", least(lit(1.0), min(col("__raw")).over(wDesc)))
      .select(col(keyCol), round(col(pCol), 6).as("p_value"),
        col("__rank").as("p_rank"),
        round(col("__adj"), 6).as("p_adj"),
        round(lit(1.0) - pow(lit(1.0) - col(pCol), col("__m")), 6)
          .as("p_sidak"),
        (col("__adj") <= alpha).as("reject"))
  }

  /** X388 — Fisher's exact test on a 2×2 per group: the two-sided
    * p-value Σ{k: P(k) ≤ P(a)} P(k) under the hypergeometric null,
    * where P(k) = C(r1,k)·C(r2,c1−k)/C(n,c1) — the SMALL-CELL gate
    * the χ²-approximation queries (q_g_test, q_odds_ratio) are wrong
    * for (expected cell < 5), which is exactly where per-slice
    * release gates live. Cells aggregate distributedly to one row
    * per group; the enumeration then runs in exact BigInt arithmetic
    * on that groups-bounded frame (the q_hilbert_key bounded-kernel
    * class — never data-sized), and the p-value nano-quantizes via
    * one exact integer division (num·2e9 + den) / (2·den), so both
    * engines emit the identical 9-dp decimal.
    */
  def fisherExact(df: DataFrame, groupCol: String, exposure: Column,
      outcome: Column): DataFrame = {
    val cells = df.groupBy(col(groupCol))
      .agg(
        sum(when(exposure && outcome, 1L).otherwise(0L)).cast("long")
          .as("a"),
        sum(when(exposure && !outcome, 1L).otherwise(0L)).cast("long")
          .as("b"),
        sum(when(!exposure && outcome, 1L).otherwise(0L)).cast("long")
          .as("c"),
        sum(when(!exposure && !outcome, 1L).otherwise(0L)).cast("long")
          .as("d"))
    val pNano = udf { (a: Long, b: Long, c: Long, d: Long) =>
      val (r1, r2, c1, n) = (a + b, c + d, a + c, a + b + c + d)
      if (n == 0L) None
      else Some {
        def choose(nn: Long, kk: Long): BigInt = {
          if (kk < 0 || kk > nn) BigInt(0)
          else {
            val k = math.min(kk, nn - kk)
            var acc = BigInt(1)
            var i = 0L
            while (i < k) {
              acc = acc * BigInt(nn - i) / BigInt(i + 1)
              i += 1
            }
            acc
          }
        }
        val wObs = choose(r1, a) * choose(r2, c1 - a)
        val kLo = math.max(0L, c1 - r2)
        val kHi = math.min(r1, c1)
        // walk the support with the hypergeometric ratio recurrence
        // w(k+1) = w(k)·(r1−k)(c1−k) / ((k+1)(r2−c1+k+1)) — exact at
        // every step (each w is an integer), and O(support) big-int
        // multiplies instead of re-deriving both binomials per k
        // (the from-scratch form went super-linear at 10× group size)
        var w = choose(r1, kLo) * choose(r2, c1 - kLo)
        var num = BigInt(0)
        var k = kLo
        while (k <= kHi) {
          if (w <= wObs) num += w
          if (k < kHi) {
            // multiply inside BigInt: margins above ~3e9 overflow a
            // Long product like (r1-k)*(c1-k)
            w = w * BigInt(r1 - k) * BigInt(c1 - k) /
              (BigInt(k + 1) * BigInt(r2 - c1 + k + 1))
          }
          k += 1L
        }
        val den = choose(n, c1)
        // round-half-up nano quantization in exact integers
        ((num * BigInt(2000000000L) + den) / (den * 2)).toLong
      }
    }
    cells.select(col(groupCol), col("a"), col("b"), col("c"), col("d"),
      round(pNano(col("a"), col("b"), col("c"), col("d"))
        .cast("double") / 1e9, 9).as("p_two_sided"))
  }

  /** X389 — Siegel-Tukey scale test: relabel the combined sample's
    * order positions with alternating-extreme ranks (1,4,5,8,… from
    * the low end; 2,3,6,7,… from the high end) so DISPERSION maps to
    * rank mass, then run the Wilcoxon rank-sum on the relabeled
    * ranks — same null table as [[mannWhitneyU]], but sensitive to
    * scale where MW is sensitive to shift. Order positions come from
    * the distributed globalRank two-phase scan on (micro-value,
    * tiebreak id) — the tie-broken order is part of the contract
    * (both engines sort identically), the statistic is an exact
    * integer, and z uses the tie-free U moments.
    */
  def siegelTukey(df: DataFrame, valueCol: String, isA: Column,
      tieCol: Column): DataFrame = {
    val base = df.select(
      round(col(valueCol) * 1e6, 0).cast("long").as("__v"),
      tieCol.cast("long").as("__t"),
      when(isA, 1L).otherwise(0L).as("__a"))
    val ranked = CorpusOps.globalRank(base,
      Seq(col("__v"), col("__t")))
    val tot = ranked.agg(count(lit(1)).cast("long").as("__n"))
    // 1-based position i; distance from nearer end d = min(i, N+1-i);
    // low end takes 1,4,5,8,… (odd d -> 2d-1), high end 2,3,6,7,…
    val i = col("__rank") + 1L
    val dLow = i
    val dHigh = col("__n") + 1L - i
    val isLow = dLow <= dHigh
    val d = when(isLow, dLow).otherwise(dHigh)
    val st = when(isLow,
        when(d % 2L === 1L, lit(2L) * d - 1L).otherwise(lit(2L) * d))
      .otherwise(
        when(d % 2L === 1L, lit(2L) * d).otherwise(lit(2L) * d - 1L))
    val agg = ranked.crossJoin(broadcast(tot))
      .select(col("__a"), st.as("__st"))
      .agg(sum(col("__a")).cast("long").as("n_a"),
        sum(lit(1L) - col("__a")).cast("long").as("n_b"),
        sum(when(col("__a") === 1L, col("__st")).otherwise(0L))
          .cast("long").as("w_a"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val u = col("w_a").cast("double") - na * (na + 1.0) / 2.0
    val sigma = sqrt(na * nb * (na + nb + 1.0) / 12.0)
    agg.select(col("n_a"), col("n_b"), col("w_a"),
      when(col("n_a") > 0L && col("n_b") > 0L, round(u, 6)).as("u_stat"),
      when(col("n_a") > 0L && col("n_b") > 0L && sigma > 0.0,
        round((u - na * nb / 2.0) / sigma, 6)).as("z_stat"))
  }

  /** X390 — two-sample Anderson-Darling (Scholz-Stephens A²akN, the
    * tie-aware midrank form): weights the CDF discrepancy by
    * 1/(F(1−F)) so the TAILS count — the complement to [[ksTest]]
    * (worst single gap, middle-sensitive) on the same release-gate
    * table; a filter that only fattens the length tails trips AD
    * first. On the distinct micro-value grid with per-value counts
    * (a_j, h_j) and cumulative (A_j, H_j) from the distributed
    * cumSums pass, each term is the exact integer rational
    *   h·[n(Np−mr)² + m(Nq−nr)²] / (mn·(r(2N−r)−Nh))
    * with p = 2A−a, q = r−p, r = 2H−h (doubled midranks), computed
    * in decimal(38,0), nano-quantized per term so the cross-term sum
    * folds exactly; A² = (N−1)/N² · Σ. Degenerate grid terms
    * (denominator 0: the all-one-value case) are excluded on both
    * sides; NULL when either group is empty.
    */
  def ad2Sample(df: DataFrame, valueCol: String, isA: Column)
      : DataFrame = {
    val dec = "decimal(38,0)"
    val per = df.groupBy(round(col(valueCol) * 1e6, 0).cast("long")
        .as("__v"))
      .agg(sum(when(isA, 1L).otherwise(0L)).as("__ca"),
        sum(when(isA, 0L).otherwise(1L)).as("__cb"))
      .withColumn("__h", col("__ca") + col("__cb"))
    val tot = per.agg(sum(col("__ca")).cast("long").as("__m"),
      sum(col("__cb")).cast("long").as("__nb"),
      sum(col("__h")).cast("long").as("__nn"),
      count(lit(1)).cast("long").as("__l"))
    val cum = CorpusOps.cumSums(per, Seq(col("__v")),
      Seq("__ca", "__h"))
    val p = (lit(2L) * col("__cum__ca") - col("__ca")).cast(dec)
    val r = (lit(2L) * col("__cum__h") - col("__h")).cast(dec)
    val q = r - p
    val bigN = col("__nn").cast(dec)
    val bigM = col("__m").cast(dec)
    val bigNb = col("__nb").cast(dec)
    val x = bigN * p - bigM * r
    val y = bigN * q - bigNb * r
    val den = bigM * bigNb *
      (r * (lit(2L).cast(dec) * bigN - r) - bigN * col("__h").cast(dec))
    val num = col("__h").cast(dec) * (bigNb * x * x + bigM * y * y)
    val terms = cum.crossJoin(broadcast(tot))
      .select(when(den > 0L,
        round(num.cast("double") / den.cast("double") * 1e9, 0)
          .cast("long")).otherwise(0L).as("__t"))
      .agg(sum(col("__t")).cast("long").as("__sum"))
    terms.crossJoin(broadcast(tot))
      .select(col("__m").as("n_a"), col("__nb").as("n_b"),
        col("__l").as("n_distinct"),
        when(col("__m") > 0L && col("__nb") > 0L && col("__l") > 1L,
          round((col("__nn").cast("double") - 1.0) /
            (col("__nn").cast("double") * col("__nn").cast("double")) *
            col("__sum").cast("double") / 1e9, 6)).as("ad_stat"))
  }

  /** X391 — Moses test of extreme reactions: the SPAN of the control
    * group's combined-sample order positions after trimming the h
    * most extreme positions from each side — a scale/extremes test
    * that stays valid when the treatment pushes BOTH tails outward
    * (where [[siegelTukey]]'s alternating ranks cancel). Positions
    * from the same tie-broken globalRank contract as siegelTukey;
    * the (h+1)-th and (n_a−h)-th order statistics of the control
    * positions come from a second bounded globalRank over the
    * control subset, so the statistic is an exact integer with no
    * data-sized sort. NULL span when n_a ≤ 2h.
    */
  def mosesSpan(df: DataFrame, valueCol: String, isA: Column,
      tieCol: Column, trim: Int = 2): DataFrame = {
    require(trim >= 0 && trim <= 1000, s"bad trim $trim")
    val base = df.select(
      round(col(valueCol) * 1e6, 0).cast("long").as("__v"),
      tieCol.cast("long").as("__t"),
      when(isA, 1L).otherwise(0L).as("__a"))
    val ranked = CorpusOps.globalRank(base,
      Seq(col("__v"), col("__t")))
    val counts = ranked.agg(
      sum(col("__a")).cast("long").as("n_a"),
      sum(lit(1L) - col("__a")).cast("long").as("n_b"))
    val aRanked = CorpusOps.globalRank(
      ranked.filter(col("__a") === 1L)
        .select(col("__rank").as("__pos")), Seq(col("__pos")))
    // one conditional agg → always exactly one row (NULL ends when
    // the trim eats the whole group), so the output row survives
    val ends = aRanked.crossJoin(broadcast(counts))
      .agg(min(when(col("__rank") === lit(trim.toLong), col("__pos")))
          .as("__lo"),
        min(when(col("__rank") === col("n_a") - 1L - lit(trim.toLong),
          col("__pos"))).as("__hi"))
    counts.crossJoin(broadcast(ends))
      .select(col("n_a"), col("n_b"), lit(trim.toLong).as("trim"),
        when(col("n_a") > 2L * trim,
          col("__hi") - col("__lo") + 1L).as("span"),
        when(col("n_a") > 2L * trim,
          col("__hi") - col("__lo") + 1L -
            (col("n_a") - 2L * trim)).as("excess"))
  }
}
