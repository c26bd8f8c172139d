package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize

/** X184–X187 — distribution-shape diagnostics over count/value
  * columns: Gini concentration + top-p coverage (how head-heavy is
  * the token distribution), Benford first-digit conformance (the
  * fabricated-numbers smell test), Otsu's auto-threshold (pick a
  * filter cut from the histogram itself), and simple Good-Turing
  * count re-estimation (the unseen-mass correction every n-gram LM
  * applies).
  *
  * Determinism contract: every statistic reduces to exact integer
  * cumulative/marginal sums on VALUE-BOUNDED tables (distinct values,
  * digits, frequency-of-frequencies — never a row sort), then one
  * fixed-shape double expression, round(6).
  */
object DistStats {

  private val dec = "decimal(38,0)"

  /** X184 — Gini coefficient and top-p coverage of a weight
    * distribution (item, weight): G = Σᵢ(2i−n−1)·wᵢ / (n·ΣW) over
    * ascending-sorted weights, computed GROUPED on the distinct-
    * weight table — a group of m items sharing weight v at cumulative
    * offset F contributes v·m·(2F+m−n) exactly, so no row-level sort
    * ever happens. top-p = the fewest items (from the top) covering
    * ⌈p·ΣW⌉ of the mass, exact integer arithmetic throughout.
    * Output one row: n_items, total_weight, gini, top_p_items.
    */
  def giniConcentration(counts: DataFrame, weightCol: String,
      p: Double = 0.9): DataFrame = {
    require(p > 0 && p < 1, s"bad p $p")
    val g = counts.select(col(weightCol).cast("long").as("__v"))
      .filter(col("__v") >= 0L)
      .groupBy(col("__v")).agg(count(lit(1)).as("__m"))
    // total weight stays a LONG (bound: ΣW < 2⁶³ — 9e18 tokens);
    // only the gini numerator, whose terms reach v·m·n, needs decimal
    val tot = g.agg(sum(col("__m")).cast("long").as("__n"),
      sum(col("__v") * col("__m")).cast("long").as("__w"))
    val wUp = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wDn = Window.orderBy(col("__v").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = g
      .withColumn("__cumUp", sum(col("__m")).over(wUp))
      .withColumn("__cumDnM", sum(col("__m")).over(wDn))
      .withColumn("__cumDnW", sum(col("__v") * col("__m")).over(wDn))
      .crossJoin(broadcast(tot))
    // ascending group at offset F = cumUp − m: Σ(2i−n−1)·v over the
    // group = v·m·(2F + m − n)
    val giniNum = cum.agg(coalesce(sum(
      ((col("__v").cast(dec) * col("__m")) *
        (lit(2L) * (col("__cumUp") - col("__m")) + col("__m") -
          col("__n"))).cast(dec)), lit(0).cast(dec)).as("__gn"))
    // top-p from the descending walk: first group whose cumulative
    // mass reaches target = ⌈p·W⌉ (p as an exact rational over 1e6,
    // the product widened through decimal before the integer div)
    val pm = math.round(p * 1e6)
    val target = expr(
      s"cast((cast(__w as decimal(38,0)) * $pm + 999999) div 1000000" +
        " as bigint)")
    val covered = cum
      .withColumn("__target", target)
      .filter(col("__cumDnW") >= col("__target"))
      .agg(min(col("__cumDnW")).as("__pick"))
    val pickRow = cum.withColumn("__target", target)
      .join(broadcast(covered), col("__cumDnW") === col("__pick"))
      .select(((col("__cumDnM") - col("__m")) +
        expr("(__target - (__cumDnW - __v * __m) + __v - 1) div __v"))
        .as("top_p_items"))
    tot.crossJoin(giniNum).crossJoin(pickRow)
      .select(col("__n").as("n_items"),
        col("__w").as("total_weight"),
        when(col("__n") > 0L && col("__w") > 0L,
          round(col("__gn").cast("double") /
            (col("__n").cast("double") * col("__w").cast("double")), 6))
          .as("gini"),
        col("top_p_items"))
  }

  /** X185 — Benford first-digit test on a positive value column:
    * per digit d ∈ 1..9, the observed count vs n·log₁₀(1+1/d) and
    * the χ² contribution. Values quantize to integer cents (first
    * significant digit is what Benford predicts; the ×100 rescale
    * does not move it) and the digit comes from the integer's
    * decimal string — identical formatting in any engine. One
    * digit-bounded aggregate; ≤ 9 rows out.
    */
  def benford(df: DataFrame, valueCol: String): DataFrame = {
    val obs = firstDigits(df, valueCol)
      .groupBy(col("digit")).agg(count(lit(1)).as("observed"))
    val tot = obs.agg(sum(col("observed")).cast("long").as("__n"))
    val pd = log(lit(1.0) + lit(1.0) / col("digit").cast("double")) /
      log(lit(10.0))
    val e = col("__n").cast("double") * pd
    obs.crossJoin(broadcast(tot))
      .select(col("digit"), col("observed").cast("long").as("observed"),
        round(e, 6).as("expected"),
        round((col("observed").cast("double") - e) *
          (col("observed").cast("double") - e) / e, 6).as("chi2_term"))
  }

  /** (digit): the first digit of each positive value at cent
    * precision — the per-row projection [[benford]] counts.
    */
  private[graft] def firstDigits(df: DataFrame, valueCol: String)
      : DataFrame =
    df.select(round(col(valueCol) * 100, 0).cast("long").as("__c"))
      .filter(col("__c") > 0L)
      .select(substring(col("__c").cast("string"), 1, 1).cast("int")
        .as("digit"))

  /** X186 — Otsu's threshold over an integral value column: the cut
    * t maximizing between-class variance σ_b²(t) = (s₀N − Sn₀)² /
    * (N²·n₀·n₁), evaluated at EVERY distinct value from one
    * cumulative pass over the distinct-value table (value-bounded
    * window — the histogram IS the state). Ties on σ_b² break to the
    * smallest threshold. The data-driven filter-cut picker: feed it
    * a quality-score histogram, get the two-class split.
    * Output one row: threshold, sigma_b (both in micro-quantized
    * units: exact for ≤6-dp inputs), n_below (≤ t), n_above.
    */
  def otsuThreshold(df: DataFrame, valueCol: String): DataFrame = {
    val g = df.select(round(col(valueCol) * 1e6, 0).cast("long")
        .as("__v"))
      .groupBy(col("__v")).agg(count(lit(1)).as("__c"))
    val w = Window.orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = g
      .withColumn("__n0", sum(col("__c")).over(w))
      .withColumn("__s0",
        sum(col("__v").cast(dec) * col("__c")).over(w).cast(dec))
    val tot = g.agg(sum(col("__c")).cast("long").as("__nn"),
      sum(col("__v").cast(dec) * col("__c")).cast(dec).as("__ss"))
    val cand = cum.crossJoin(broadcast(tot))
      .filter(col("__n0") > 0L && col("__n0") < col("__nn"))
    val num = (col("__s0") * col("__nn") - col("__ss") * col("__n0"))
      .cast(dec).cast("double")
    // σ_b must be TOTAL, not merely filtered-safe: the downstream
    // argmax join infers isnotnull(__sb) and ANSI-mode predicate
    // reordering can evaluate it before the n0 range filter — a bare
    // division would then hit 0 on the boundary rows and throw
    val den = col("__n0").cast("double") *
      (col("__nn") - col("__n0")).cast("double") *
      col("__nn").cast("double") * col("__nn").cast("double")
    val sb = when(den > 0.0, num * num / den)
    val scored = cand.select(col("__v"), col("__n0"), col("__nn"),
      sb.as("__sb"))
    val best = scored.agg(max(col("__sb")).as("__best"))
    scored.join(broadcast(best), col("__sb") === col("__best"))
      .agg(min(col("__v")).as("__t"), max(col("__best")).as("__sbv"),
        max(col("__nn")).as("__nn2"))
      .join(scored.select(col("__v").as("__t2"), col("__n0")),
        col("__t") === col("__t2"))
      .select(round(col("__t").cast("double") / 1e6, 6).as("threshold"),
        round(col("__sbv") / 1e12, 6).as("sigma_b"),
        col("__n0").cast("long").as("n_below"),
        (col("__nn2") - col("__n0")).cast("long").as("n_above"))
  }

  /** X187 — simple Good-Turing re-estimation over an (item, count)
    * table: from the frequency-of-frequencies N_r, the adjusted
    * count r* = (r+1)·N_{r+1}/N_r and the discounted probability
    * r*÷T for r = 1..maxR, plus the Turing unseen-mass estimate
    * N₁/T as the r=0 row. The LM-smoothing companion to the X92 KN
    * pipeline; state is bounded by the count SUPPORT, never the
    * vocabulary.
    */
  /** X219 — Hill tail-index estimator over the top-k order
    * statistics: α̂ = k / (Σ_{i≤k} ln xᵢ − k·ln x_{k+1}) — HOW heavy
    * the tail is (α ≈ 1 Zipf-like, larger = thinner), the
    * tail-shape companion to X90's full rank-frequency fit. Order
    * statistics come from the distinct-value table with ties split
    * exactly by rank-range overlap (integer arithmetic — no row
    * sort, no sampling); ln on identical doubles, round(6).
    * Requires k+1 positive values; returns an empty frame otherwise.
    */
  def hillTailIndex(df: DataFrame, valueCol: String, k: Int = 100)
      : DataFrame = {
    require(k >= 2, s"bad k $k")
    val g = df.select(col(valueCol).cast("long").as("__v"))
      .filter(col("__v") > 0L)
      .groupBy(col("__v")).agg(count(lit(1)).as("__m"))
    val w = Window.orderBy(col("__v").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = g.withColumn("__cum", sum(col("__m")).over(w))
    // rank range of value v from the top: (cum − m, cum]; its
    // overlap with [1..k] contributes overlap·ln(v)
    val inTop = cum.filter(col("__cum") - col("__m") < k)
      .withColumn("__take",
        least(col("__cum"), lit(k.toLong)) - (col("__cum") - col("__m")))
      .agg(coalesce(sum(col("__take").cast("double") *
        log(col("__v").cast("double"))), lit(0.0)).as("__lnsum"),
        sum(col("__take")).cast("long").as("__kgot"))
    val thresh = cum.filter(col("__cum") >= k + 1)
      .agg(max(col("__v")).as("__xk1"))
    // denominator 0 = the whole top-(k+1) is one repeated value —
    // no tail to estimate; NULL, and kept total so ANSI predicate
    // reordering can never evaluate a bare k/0
    val den = col("__lnsum") -
      lit(k.toDouble) * log(col("__xk1").cast("double"))
    inTop.crossJoin(broadcast(thresh))
      .filter(col("__kgot") === k && col("__xk1").isNotNull)
      .select(lit(k.toLong).as("k"),
        col("__xk1").cast("long").as("x_k_plus_1"),
        when(den > 0.0, round(lit(k.toDouble) / den, 6)).as("alpha"))
  }

  /** X217 — index of dispersion (variance-to-mean ratio) of per-key
    * bucket counts: VMR 1 ≈ Poisson arrivals, ≫1 = bursty, <1 =
    * regular — the burstiness triage that decides whether a feed
    * needs the X196 drift monitor or just a rate limit. Unbiased
    * variance from exact integer Σc/Σc² over the (key, bucket) count
    * table; one row per key.
    */
  def dispersionIndex(df: DataFrame, keyCol: String, bucketCol: String)
      : DataFrame = {
    val counts = df.groupBy(col(keyCol), col(bucketCol))
      .agg(count(lit(1)).as("__c"))
    val m = counts.groupBy(col(keyCol))
      .agg(count(lit(1)).cast("long").as("n_buckets"),
        sum(col("__c")).cast("long").as("__s"),
        sum((col("__c").cast(dec) * col("__c")).cast(dec)).as("__ss"))
    val nd = col("n_buckets").cast("double")
    val mean = col("__s").cast("double") / nd
    val varU = (col("__ss").cast("double") -
      col("__s").cast("double") * col("__s").cast("double") / nd) /
      (nd - 1.0)
    m.select(col(keyCol), col("n_buckets"),
      round(mean, 6).as("mean_count"),
      when(col("n_buckets") > 1L, round(varU, 6)).as("var_count"),
      when(col("n_buckets") > 1L && mean > 0.0,
        round(varU / mean, 6)).as("dispersion"))
  }

  def goodTuring(counts: DataFrame, countCol: String, maxR: Int = 10)
      : DataFrame = {
    require(maxR >= 1, s"bad maxR $maxR")
    val fof = counts.select(col(countCol).cast("long").as("__r"))
      .filter(col("__r") > 0L)
      .groupBy(col("__r")).agg(count(lit(1)).as("__nr"))
    val tot = fof.agg(sum(col("__r").cast(dec) * col("__nr")).cast(dec)
      .as("__t"))
    val nxt = fof.select((col("__r") - 1L).as("__rp"),
      col("__nr").as("__nrNext"))
    val rows = fof.filter(col("__r") <= maxR)
      .join(broadcast(nxt), col("__r") === col("__rp"), "left")
      .crossJoin(broadcast(tot))
      .select(col("__r").as("r"), col("__nr").cast("long").as("n_r"),
        round((col("__r") + 1L).cast("double") *
          col("__nrNext").cast("double") / col("__nr").cast("double"), 6)
          .as("r_star"),
        round((col("__r") + 1L).cast("double") *
          col("__nrNext").cast("double") / col("__nr").cast("double") /
          col("__t").cast("double"), 6).as("p_gt"))
    val unseen = fof.filter(col("__r") === 1L)
      .crossJoin(broadcast(tot))
      .select(lit(0L).as("r"), col("__nr").cast("long").as("n_r"),
        lit(null).cast("double").as("r_star"),
        round(col("__nr").cast("double") / col("__t").cast("double"), 6)
          .as("p_gt"))
    unseen.unionByName(rows)
  }

  /** X229 — Chao1 species-richness estimate from a count table: how
    * many distinct types (tokens, users, URLs) the corpus REALLY has,
    * including the ones sampling hasn't surfaced yet. Uses only the
    * singleton/doubleton counts: chao1 = D + f₁(f₁−1)/(2(f₂+1)) (the
    * bias-corrected form, defined even at f₂ = 0), plus Good's sample
    * coverage Ĉ = 1 − f₁/N — the "is this corpus slice saturated"
    * readout that tells a crawl scheduler whether another 10 TB of
    * the same source will add vocabulary or just repeats. Beside
    * [[goodTuring]] (probability mass of the unseen) and X89's Heaps
    * fit (growth-curve extrapolation): Chao1 is the nonparametric
    * LOWER BOUND on the total.
    *
    * Exactness: D, f₁, f₂, N are exact integer aggregates of the
    * count table (type-bounded, not row-bounded); the estimate and
    * coverage are one fixed-shape double each, round(6). One row out.
    */
  def chao1(counts: DataFrame, countCol: String): DataFrame = {
    val agg = counts.select(col(countCol).cast("long").as("__r"))
      .filter(col("__r") > 0L)
      .agg(count(lit(1)).cast("long").as("observed"),
        sum(col("__r").cast(dec)).cast(dec).as("__n"),
        sum(when(col("__r") === 1L, 1L).otherwise(0L)).cast("long")
          .as("f1"),
        sum(when(col("__r") === 2L, 1L).otherwise(0L)).cast("long")
          .as("f2"))
    val f1d = col("f1").cast("double")
    val f2d = col("f2").cast("double")
    agg.select(col("observed"), col("__n").cast("long").as("n_tokens"),
      col("f1"), col("f2"),
      round(col("observed").cast("double") +
        f1d * (f1d - 1.0) / (lit(2.0) * (f2d + 1.0)), 6).as("chao1"),
      when(col("__n") > 0L,
        round(lit(1.0) - f1d / col("__n").cast("double"), 6))
        .as("coverage"))
  }

  /** X232 — capture-recapture population estimate (Lincoln-Petersen
    * + the bias-corrected Chapman form): two independent detectors
    * each "catch" a set of ids; the overlap rate estimates what
    * fraction either one sees, hence the TRUE population size
    * N̂ = n₁n₂/m (LP) or (n₁+1)(n₂+1)/(m+1) − 1 (Chapman, defined
    * even at m = 0). The dedup-QA use: run two cheap duplicate
    * detectors, and the estimate says how many duplicates the corpus
    * REALLY has — including the ones BOTH detectors missed — which
    * no single detector can report about itself.
    *
    * Exact integer n₁/n₂/m from two distinct-id aggregates and one
    * equi-join; the estimates are fixed-shape doubles, round(2)
    * (they are counts — 6-dp noise on a population size is not
    * signal). LP is NULL at m = 0; independence of the detectors is
    * the caller's modeling assumption (correlated detectors bias
    * N̂ low), documented not enforced.
    */
  def captureRecapture(a: DataFrame, b: DataFrame, idCol: String)
      : DataFrame = {
    val ca = a.select(col(idCol).as("__id")).distinct()
    val cb = b.select(col(idCol).as("__id")).distinct()
    val n1 = ca.agg(count(lit(1)).cast("long").as("n_caught_a"))
    val n2 = cb.agg(count(lit(1)).cast("long").as("n_caught_b"))
    val m = ca.join(cb, Seq("__id"))
      .agg(count(lit(1)).cast("long").as("n_both"))
    val n1d = col("n_caught_a").cast("double")
    val n2d = col("n_caught_b").cast("double")
    val md = col("n_both").cast("double")
    n1.crossJoin(n2).crossJoin(m)
      .select(col("n_caught_a"), col("n_caught_b"), col("n_both"),
        when(col("n_both") > 0L, round(n1d * n2d / md, 2))
          .as("lincoln_petersen"),
        round((n1d + 1.0) * (n2d + 1.0) / (md + 1.0) - 1.0, 2)
          .as("chapman"))
  }

  /** X241 — empirical-Bayes (beta-binomial, method-of-moments)
    * shrinkage of per-slice boolean rates: tiny slices report rates
    * like 0/3 or 3/3 that are mostly noise; shrinking toward the
    * cross-slice prior — strength learned FROM the slices, not
    * picked by hand — is what makes a 10,000-slice quality dashboard
    * (X128) rankable. Prior moments come from the UNWEIGHTED slice
    * rates (each slice is one draw of its latent rate): m = mean,
    * v = population variance, prior strength s = m(1−m)/v − 1,
    * shrunk = (x + m·s)/(n + s). When the observed spread is at or
    * beyond the binomial maximum (v ≥ m(1−m)) or zero, the moment
    * system has no positive solution — slices report raw rates and a
    * NULL prior strength rather than a fabricated prior.
    *
    * Determinism: slice rates quantize to NANO ints before the
    * cross-slice fold, so Σr and Σr² are exact integers; m, v, s,
    * and every shrunk rate are fixed-shape doubles, round(6). Scale
    * shape: one slice agg + one slices-bounded fold broadcast back.
    */
  /** X273 — direct standardization: compare a rate between groups
    * AFTER removing their composition difference — each group's
    * per-stratum rates are re-weighted by ONE reference mix (the
    * pooled stratum shares), so "source A passes 80%, source B 60%"
    * stops being an artifact of A having easier strata (Simpson's
    * trap — the X126/X149 release gates read raw rates and walk
    * straight into it). Output per group: raw rate, standardized
    * rate, and the composition gap between them.
    *
    * Exact: all cells integers; the standardized rate folds
    * nano-quantized w_ref·rate_s terms (exact integer sum per
    * group); strata with no observations for a group contribute
    * that group's raw rate as the imputation — REPORTED via
    * n_missing_strata, not hidden. Groups×strata-bounded.
    */
  def standardizedRates(df: DataFrame, groupCol: String,
      strataCol: Column, successCol: Column): DataFrame = {
    val cells = df.groupBy(col(groupCol), strataCol.as("__s"))
      .agg(count(lit(1)).as("__n"),
        sum(when(successCol, 1L).otherwise(0L)).as("__x"))
    val ref = cells.groupBy(col("__s"))
      .agg(sum(col("__n")).as("__ns"))
    val refTot = ref.agg(sum(col("__ns")).cast("long").as("__rt"))
    val groups = cells.groupBy(col(groupCol))
      .agg(sum(col("__n")).cast("long").as("n_rows"),
        sum(col("__x")).cast("long").as("successes"))
    // group x stratum frame with zero cells visible
    val frame = groups.select(col(groupCol), col("n_rows"),
        col("successes"))
      .crossJoin(broadcast(ref))
      .join(cells, Seq(groupCol, "__s"), "left")
    val rawRate = col("successes").cast("double") /
      col("n_rows").cast("double")
    val cellRate = when(col("__n").isNotNull,
      col("__x").cast("double") / col("__n").cast("double"))
      .otherwise(rawRate) // imputed, counted below
    val folded = frame.crossJoin(broadcast(refTot))
      .withColumn("__term",
        round(col("__ns").cast("double") / col("__rt").cast("double") *
          cellRate * 1e9, 0).cast("long"))
      .groupBy(col(groupCol), col("n_rows"), col("successes"))
      .agg(sum(col("__term")).cast("long").as("__std"),
        sum(when(col("__n").isNull, 1L).otherwise(0L)).cast("long")
          .as("n_missing_strata"))
    folded.select(col(groupCol), col("n_rows"), col("successes"),
      round(col("successes").cast("double") /
        col("n_rows").cast("double"), 6).as("raw_rate"),
      round(col("__std").cast("double") / 1e9, 6).as("std_rate"),
      round(col("__std").cast("double") / 1e9 -
        col("successes").cast("double") / col("n_rows").cast("double"),
        6).as("composition_gap"),
      col("n_missing_strata"))
  }

  /** X274 — Kish effective sample size: n_eff = (Σw)²/Σw² — how much
    * statistical power a WEIGHTED sample actually has (equal weights
    * → n; one dominant weight → ~1): the price tag on X55/X250's
    * importance weighting and X93's DSIR weights, and the n to plug
    * into X220's intervals when rows carry weights. Micro-quantized
    * weights, exact decimal (Σw, Σw²), one row out.
    */
  def kishEffectiveSize(df: DataFrame, weightCol: Column): DataFrame = {
    val q = round(weightCol * 1e6, 0).cast("long")
    val w = df.select(q.as("__w")).filter(col("__w") > 0L)
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("__w").cast(dec)).cast(dec).as("__s"),
        sum((col("__w").cast(dec) * col("__w")).cast(dec)).cast(dec)
          .as("__ss"))
    w.select(col("n"),
      when(col("__ss").isNotNull && col("__ss") > 0,
        round(col("__s").cast("double") * col("__s").cast("double") /
          col("__ss").cast("double"), 6)).as("n_effective"),
      when(col("n") > 0L && col("__ss") > 0,
        round(col("__s").cast("double") * col("__s").cast("double") /
          (col("__ss").cast("double") * col("n").cast("double")), 6))
        .as("efficiency"))
  }

  def ebShrink(df: DataFrame, sliceCol: String, successCol: Column)
      : DataFrame = {
    val cells = df.groupBy(col(sliceCol))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(when(successCol, 1L).otherwise(0L)).cast("long")
          .as("successes"))
      .withColumn("__rn",
        round(col("successes").cast("double") / col("n") * 1e9, 0)
          .cast("long"))
    val prior = cells.agg(count(lit(1)).cast("long").as("__k"),
      sum(col("__rn").cast(dec)).cast(dec).as("__sr"),
      sum((col("__rn").cast(dec) * col("__rn")).cast(dec)).cast(dec)
        .as("__srr"))
    val kd = col("__k").cast("double")
    val m = col("__sr").cast("double") / (kd * 1e9)
    val v = col("__srr").cast("double") / (kd * 1e18) - m * m
    val s = m * (lit(1.0) - m) / v - 1.0
    val ok = v > 0.0 && s > 0.0
    val raw = col("successes").cast("double") / col("n").cast("double")
    cells.crossJoin(broadcast(prior))
      .select(col(sliceCol), col("n"), col("successes"),
        round(raw, 6).as("raw_rate"),
        when(ok, round((col("successes").cast("double") + m * s) /
          (col("n").cast("double") + s), 6))
          .otherwise(round(raw, 6)).as("shrunk_rate"),
        round(m, 6).as("prior_mean"),
        when(ok, round(s, 6)).as("prior_strength"))
  }

  /** X318 — negative-binomial method-of-moments fit of a count
    * column: r̂ = m²/(s² − m), p̂ = m/s² — the overdispersion MODEL
    * on top of X217's raw VMR diagnosis (VMR says "bursty", the NB
    * fit says HOW bursty in resampling-usable parameters: simulate
    * per-user event counts, set rate-limit envelopes, size X55
    * sampling strata). Poisson-or-thinner data (s² ≤ m) reports NULL
    * parameters with the VMR still shown — the fit doesn't exist
    * there, visibly. Exact micro (n, Σq, Σq²); three fixed-shape
    * doubles, round(6).
    */
  def negBinomialFit(df: DataFrame, valueCol: String): DataFrame = {
    val q = round(col(valueCol) * 1e6, 0).cast("long")
    val sums = df.select(q.as("__q"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("__q").cast(dec)).cast(dec).as("__s"),
        sum((col("__q").cast(dec) * col("__q")).cast(dec)).cast(dec)
          .as("__ss"))
    val nd = col("n").cast("double")
    val m = col("__s").cast("double") / nd / 1e6
    val v = (col("__ss").cast("double") -
      col("__s").cast("double") * col("__s").cast("double") / nd) /
      (nd - 1.0) / 1e12
    val overdispersed = col("n") > 1L && v > m && m > 0.0
    sums.select(col("n"), round(m, 6).as("mean"),
      when(col("n") > 1L, round(v, 6)).as("variance"),
      when(col("n") > 1L && m > 0.0, round(v / m, 6)).as("vmr"),
      when(overdispersed, round(m * m / (v - m), 6)).as("nb_r"),
      when(overdispersed, round(m / v, 6)).as("nb_p"))
  }

  /** X324 — leave-one-group-out valuation: for each group, the
    * corpus metric (mean of `valueCol`) recomputed WITHOUT that
    * group, and the delta the group's removal causes — the zero-
    * retraining data-valuation readout ("source F drags mean quality
    * down 0.8 points; source A props it up") that approximates the
    * leave-one-out influence a full ablation run would measure, from
    * ONE pass of per-group exact sums: loso_mean = (S − S_g)/(N −
    * n_g) is closed form. Group-bounded fold; deltas are one double
    * subtraction each, round(6); a group that IS the corpus reports
    * NULL loso.
    */
  def leaveOneOut(df: DataFrame, groupCol: String, valueCol: String)
      : DataFrame = {
    val q = round(col(valueCol) * 1e6, 0).cast("long")
    val cells = df.select(col(groupCol), q.as("__q"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        sum(col("__q").cast(dec)).cast(dec).as("__s"))
    val tot = cells.agg(sum(col("n_rows")).cast("long").as("__totN"),
      sum(col("__s")).cast(dec).as("__totS"))
    val j = cells.crossJoin(broadcast(tot))
    val full = col("__totS").cast("double") / col("__totN") / 1e6
    val loso = (col("__totS") - col("__s")).cast("double") /
      (col("__totN") - col("n_rows")) / 1e6
    j.select(col(groupCol), col("n_rows"),
      round(col("n_rows").cast("double") / col("__totN"), 6)
        .as("row_share"),
      round(full, 6).as("mean_full"),
      when(col("__totN") > col("n_rows"), round(loso, 6))
        .as("mean_without"),
      when(col("__totN") > col("n_rows"), round(full - loso, 6))
        .as("delta"))
  }

  /** X291 — Neyman optimal allocation: split a labeling/eval budget
    * across strata proportional to N_h·S_h (stratum size × stratum
    * SD) — the allocation that minimizes the stratified estimator's
    * variance, vs the proportional split X5 uses; the high-variance
    * strata EARN extra samples. Completes the sampling family
    * (X5 stratified, X50 n-per-stratum, X55 weighted, X250 A-ES).
    *
    * Per-stratum SD from exact micro-unit (n, Σq, Σq²); the share is
    * scale-invariant so the 10⁶ cancels. Singleton/zero-variance
    * strata carry weight 0 (their mean is already exact) but stay
    * visible with their floor of round(share·budget). Strata-bounded
    * fold; NULL share only when EVERY stratum is degenerate.
    */
  def neymanAllocation(df: DataFrame, stratumCol: String,
      valueCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"bad budget $budget")
    val q = round(col(valueCol) * 1e6, 0).cast("long")
    val cells = df.select(col(stratumCol), q.as("__q"))
      .groupBy(col(stratumCol))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        sum(col("__q").cast(dec)).cast(dec).as("__s"),
        sum((col("__q").cast(dec) * col("__q")).cast(dec)).cast(dec)
          .as("__ss"))
    val nd = col("n_rows").cast("double")
    val varS = (col("__ss").cast("double") -
      col("__s").cast("double") * col("__s").cast("double") / nd) /
      (nd - 1.0)
    val sd = when(col("n_rows") > 1L && varS > 0.0, sqrt(varS))
      .otherwise(lit(0.0))
    val weighted = cells.withColumn("__w", nd * sd)
    val tot = weighted.agg(sum(col("__w")).as("__wTot"))
    weighted.crossJoin(broadcast(tot))
      .select(col(stratumCol), col("n_rows"),
        round(sd / 1e6, 6).as("stratum_sd"),
        when(col("__wTot") > 0.0, round(col("__w") / col("__wTot"), 6))
          .as("alloc_share"),
        when(col("__wTot") > 0.0,
          round(col("__w") / col("__wTot") * budget, 0).cast("long"))
          .as("n_alloc"))
  }

  /** X408 — raking (iterative proportional fitting) of a two-way
    * cell table to UNIFORM row and column margins: the survey-
    * weighting step that rebalances a corpus to target language ×
    * source shares without per-cell targets — each iteration scales
    * every cell weight by targetMargin/currentMargin, rows then
    * columns, and converges to the max-entropy weighting consistent
    * with both margins.
    *
    * Deterministic integer state (the Holt/PageRank fixed-point
    * convention): weights live on the micro grid; targets and every
    * scale step are round-half-up integer divisions
    * ((2·w·T + M) div (2·M)) on exact cell masses, so the whole
    * 2·iters-step recursion replays verbatim in unrolled CTEs. The
    * cell table is category-bounded (|rows|·|cols|), never
    * data-sized; a per-step `Materialize.cut` truncates the loop plan.
    */
  def rakeWeights(df: DataFrame, rowCol: String, colCol: String,
      iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 50, s"bad iters $iters")
    val dec = "decimal(38,0)"
    val cells0 = df.groupBy(col(rowCol).as("r"), col(colCol).as("c"))
      .agg(count(lit(1)).cast("long").as("n"))
      .withColumn("w", lit(1000000L))
    val tot = cells0.agg(sum(col("n")).cast("long").as("__N"),
      countDistinct(col("r")).cast("long").as("__R"),
      countDistinct(col("c")).cast("long").as("__C"))
    // uniform margin targets in micro mass, round-half-up via exact
    // integral `div` (the PageRank/Calibrate convention) — decimal
    // `/` rounds HALF_UP at scale 6 BEFORE the cast truncates, so a
    // quotient within ~5e-7 below an integer would land one
    // micro-unit above the oracle's exact `//` floor
    val tR = expr(s"cast((2 * cast(__N as $dec) * 1000000 + __R)" +
      s" div (2 * cast(__R as $dec)) as long)")
    val tC = expr(s"cast((2 * cast(__N as $dec) * 1000000 + __C)" +
      s" div (2 * cast(__C as $dec)) as long)")
    val targets = tot.select(tR.as("__tr"), tC.as("__tc"))
    var cells = cells0.crossJoin(broadcast(targets))
      .transform(Materialize.cut)
    def rescale(marginCol: String, targetCol: String): DataFrame = {
      val m = cells.groupBy(col(marginCol).as("__k"))
        .agg(sum((col("n").cast(dec) * col("w")).cast(dec)).cast(dec)
          .as("__m"))
      cells.join(broadcast(m), cells(marginCol) === m("__k"))
        .select(col("r"), col("c"), col("n"), col("__tr"), col("__tc"),
          when(col("__m") > 0L,
            expr(s"cast((2 * cast(w as $dec) * $targetCol + __m)" +
              s" div (2 * cast(__m as $dec)) as long)"))
            .otherwise(col("w")).as("w"))
    }
    for (_ <- 1 to iters) {
      cells = Materialize.cut(rescale("r", "__tr"))
      cells = Materialize.cut(rescale("c", "__tc"))
    }
    cells.select(col("r"), col("c"), col("n"),
      col("w").as("w_micro"),
      round(col("w").cast("double") / 1e6, 6).as("weight"),
      round(col("n").cast("double") * col("w").cast("double") / 1e6,
        6).as("weighted_n"))
  }
}
