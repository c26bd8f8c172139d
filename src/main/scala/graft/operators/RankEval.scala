package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** X144 — ranking-quality evaluation (NDCG@k): the offline metric a
  * retrieval/reranking pipeline tracks per release, computed over any
  * (query, rank, relevance) table — e.g. an ANN top-k joined against
  * relevance labels.
  *
  * NDCG convention: DCG = Σ_{rank≤k} gain(rel)/log2(rank+1) with
  * gain(r) = 2^r − 1 (graded; = rel for binary labels), and IDCG
  * re-sorts the RETRIEVED list ideally (the reranker-eval convention —
  * it scores ORDERING quality of what was returned; recall quality is
  * a separate metric). Queries with no relevant result report NULL.
  *
  * Exactness: rels and ranks are ints; per-position terms are one
  * fixed-shape double expression; ≤k-term sums drift at most a few
  * ulp across engines/orders, absorbed by round(6) — the
  * docPerplexity convention.
  *
  * Scale shape: one groupBy(query) over the top-k table (k rows per
  * query — map-side combinable); IDCG folds over a ≤k int sequence in
  * the same aggregate. Nothing wider than the ranked list moves.
  */
object RankEval {

  def ndcgAtK(ranked: DataFrame, queryCol: String, rankCol: String,
      relCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 1000, s"bad k $k")
    def log2c(c: Column): Column = log(2.0, c)
    val gain = (pow(lit(2.0), col(relCol).cast("double")) - 1.0) /
      log2c(col(rankCol).cast("double") + 1.0)
    val topK = ranked.filter(col(rankCol) <= k)
      .withColumn("__g", gain)
    val agg = topK.groupBy(col(queryCol))
      .agg(count(lit(1)).as("n_ranked"),
        sum(col("__g")).as("__dcg"),
        sort_array(collect_list(col(relCol).cast("long")), asc = false)
          .as("__rels"))
    // IDCG: the same gains over the ideally-ordered retrieved rels
    val idcg = aggregate(
      zip_with(col("__rels"),
        sequence(lit(1L), greatest(size(col("__rels")).cast("long"), lit(1L))),
        (r, i) => (pow(lit(2.0), r.cast("double")) - 1.0) /
          log2c(i.cast("double") + 1.0)),
      lit(0.0), (acc, x) => acc + x)
    agg.select(col(queryCol), col("n_ranked"),
        aggregate(col("__rels"), lit(0L), (a, r) =>
          a + when(r > 0, 1L).otherwise(0L)).as("n_relevant"),
        col("__dcg"), idcg.as("__idcg"))
      .select(col(queryCol), col("n_ranked"), col("n_relevant"),
        when(col("__idcg") > 0.0, round(col("__dcg") / col("__idcg"), 6))
          .as("ndcg"))
  }

  /** X147 — exact ROC-AUC via the Mann-Whitney rank identity:
    * AUC = U/(n₁·n₀) with U = Σ_s c₁(s)·(cum₀(<s) + c₀(s)/2) —
    * i.e. the probability a positive outscores a negative, ties at
    * half credit. Computed from per-SCORE counts, so the only ordered
    * pass runs over the DISTINCT-score table (value-bounded, the
    * UniMax/selfBleu bounded-window class — never over rows), and the
    * half-credit term stays integral by doubling: AUC =
    * U₂/(2·n₁·n₀), an exact rational both engines reproduce.
    *
    * The offline eval every quality-classifier/reranker release
    * gates on, next to [[ndcgAtK]]'s ordering metric.
    */
  def rocAuc(df: DataFrame, scoreCol: String, labelCol: String)
      : DataFrame = {
    val perScore = df.groupBy(col(scoreCol).as("__s"))
      .agg(sum(when(col(labelCol), 1L).otherwise(0L)).as("__c1"),
        sum(when(col(labelCol), 0L).otherwise(1L)).as("__c0"))
    val w = Window.orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val u2 = perScore
      .withColumn("__cum0", coalesce(sum(col("__c0")).over(w), lit(0L)))
      .agg(sum(col("__c1")).as("n_pos"), sum(col("__c0")).as("n_neg"),
        sum(col("__c1") * (lit(2L) * col("__cum0") + col("__c0")))
          .as("__u2"))
    u2.select(col("n_pos"), col("n_neg"),
      when(col("n_pos") > 0 && col("n_neg") > 0,
        round(col("__u2").cast("double") /
          (lit(2.0) * col("n_pos") * col("n_neg")), 6)).as("auc"))
  }

  /** X148 — Cohen's kappa: chance-corrected agreement between two
    * categorical raters, κ = (p_o − p_e)/(1 − p_e) from the exact
    * contingency table. The annotator-QA staple for label audits
    * (two labeling runs, a classifier vs a rubric, model vs human).
    * All counts exact ints; κ is one fixed-shape double expression —
    * hash-exact at 6 dp. Perfectly-agreeing-by-chance tables
    * (p_e = 1) report NULL.
    *
    * Scale shape: one (a, b) cell count (map-side combined,
    * \|A\|·\|B\|-bounded), marginals from the cell table; one row out.
    */
  /** X177 — candidate-pair set evaluation: precision/recall/F1 of a
    * PREDICTED pair table against a TRUTH pair table (both (d1, d2))
    * — the harness that closes the dedup loop: did the banded/
    * blocked/windowed candidate generator actually find the pairs
    * the exact method finds, and at what cost in false candidates?
    * Pairs canonicalize to (min, max) and dedupe, so orientation and
    * duplicates in either input don't skew the counts. One-row
    * output from three set-sized aggregates; the joins are
    * (d1, d2) equi-joins.
    */
  def pairSetEval(predicted: DataFrame, truth: DataFrame): DataFrame = {
    def canon(df: DataFrame): DataFrame =
      df.select(least(col("d1"), col("d2")).as("d1"),
        greatest(col("d1"), col("d2")).as("d2")).distinct()
    val p = canon(predicted)
    val t = canon(truth)
    val tp = p.join(t, Seq("d1", "d2")).count()
    val np = p.count()
    val nt = t.count()
    val spark = predicted.sparkSession
    import spark.implicits._
    Seq((np, nt, tp)).toDF("n_predicted", "n_truth", "n_correct")
      .select(col("n_predicted"), col("n_truth"), col("n_correct"),
        when(col("n_predicted") > 0,
          round(col("n_correct").cast("double") / col("n_predicted"), 6))
          .as("precision"),
        when(col("n_truth") > 0,
          round(col("n_correct").cast("double") / col("n_truth"), 6))
          .as("recall"),
        when(col("n_predicted") > 0 && col("n_truth") > 0 &&
          col("n_correct") > 0,
          round(lit(2.0) * col("n_correct").cast("double") /
            (col("n_predicted") + col("n_truth")), 6)).as("f1"))
  }

  def cohensKappa(df: DataFrame, aCol: String, bCol: String)
      : DataFrame = {
    val cells = df.groupBy(col(aCol).cast("string").as("__a"),
        col(bCol).cast("string").as("__b"))
      .agg(count(lit(1)).as("__c"))
    val n = cells.agg(sum(col("__c")).as("__n"))
    val agree = cells.filter(col("__a") === col("__b"))
      .agg(coalesce(sum(col("__c")), lit(0L)).as("__agree"))
    val ma = cells.groupBy(col("__a")).agg(sum(col("__c")).as("__ca"))
    val mb = cells.groupBy(col("__b")).agg(sum(col("__c")).as("__cb"))
    val chance = ma.join(mb, col("__a") === col("__b"))
      .agg(coalesce(sum(col("__ca") * col("__cb")), lit(0L)).as("__e"))
    val po = col("__agree").cast("double") / col("__n")
    val pe = col("__e").cast("double") / (col("__n") * col("__n"))
    n.crossJoin(agree).crossJoin(chance)
      .select(col("__n").as("n_items"),
        round(po, 6).as("observed_agreement"),
        round(pe, 6).as("expected_agreement"),
        when(pe < 1.0, round((po - pe) / (lit(1.0) - pe), 6))
          .as("kappa"))
  }

  /** X207 — Fleiss' kappa for m ≥ 2 raters (nominal scale): per-item
    * category tallies n_ij, per-item agreement
    * P_i = (Σ_j n_ij² − m)/(m(m−1)), chance agreement P_e = Σ_j p_j²
    * from the pooled category shares — the multi-rater completion of
    * the reliability family ([[cohensKappa]] = 2 raters,
    * Hypothesis.krippendorffAlpha = 2 raters chance-corrected the
    * other way). Exact integer tallies (items×categories-bounded
    * after the melt), fixed-shape doubles, round(6).
    */
  def fleissKappa(df: DataFrame, itemCol: String,
      raterCols: Seq[String]): DataFrame = {
    val m = raterCols.length
    require(m >= 2, s"need >= 2 raters, got $m")
    val melted = raterCols.map(r =>
        df.select(col(itemCol).as("__i"),
          col(r).cast("string").as("__cat")))
      .reduce(_ unionAll _)
    val nij = melted.groupBy(col("__i"), col("__cat"))
      .agg(count(lit(1)).as("__c"))
    // Σ_i Σ_j n_ij² and the item count in one pass
    val per = nij.groupBy(col("__i"))
      .agg(sum(col("__c") * col("__c")).as("__sq"))
    val agg1 = per.agg(count(lit(1)).cast("long").as("n_items"),
      sum(col("__sq")).cast("long").as("__sumSq"))
    val cat = nij.groupBy(col("__cat")).agg(sum(col("__c")).as("__cj"))
    val agg2 = cat.agg(count(lit(1)).cast("long").as("n_categories"),
      sum((col("__cj").cast("decimal(38,0)") * col("__cj"))
        .cast("decimal(38,0)")).as("__sumCj2"))
    val res = agg1.crossJoin(agg2)
    val nd = col("n_items").cast("double")
    val md = lit(m.toDouble)
    // P̄ = (ΣΣn_ij² − n·m) / (n·m·(m−1)); P_e = Σ(c_j/(n·m))²
    val pBar = (col("__sumSq").cast("double") - nd * md) /
      (nd * md * (md - 1.0))
    val pe = col("__sumCj2").cast("double") / (nd * md * nd * md)
    res.select(col("n_items"), lit(m.toLong).as("n_raters"),
      col("n_categories"),
      round(pBar, 6).as("p_bar"), round(pe, 6).as("p_e"),
      when(pe < 1.0, round((pBar - pe) / (lit(1.0) - pe), 6))
        .as("kappa"))
  }

  /** X224 — rank-biased overlap (Webber et al. 2010) between two
    * top-k rankings per group: RBO = (1−p)·Σ_{d≤k} p^{d−1}·A_d with
    * agreement A_d = |A[1..d] ∩ B[1..d]|/d, normalized by the
    * identical-list mass (1−p^k) so two equal rankings score exactly
    * 1 — the top-weighted DID-THE-RANKING-CHANGE metric between two
    * scorers (old vs new relevance, revenue-rank vs volume-rank)
    * where Kendall/Spearman treat every depth equally and demand
    * conjoint lists.
    *
    * Rewrite that makes it distributed: an item at ranks (ra, rb)
    * enters the intersection at every depth d ≥ m = max(ra, rb), so
    * Σ_d p^{d−1}·X_d/d = Σ_items W(m_i) with W(m) = Σ_{d=m..k}
    * p^{d−1}/d — a k-entry lookup computed ONCE on the driver and
    * inlined as a CASE ladder. The join is (group, item) equi on two
    * k-row-per-group rank tables; per-group state is ≤ k rows. NULL
    * for groups present in neither ranking never occurs (groupBy of
    * the union); disjoint lists score 0.
    *
    * Determinism: ranks are ints from the caller; W literals are
    * fixed doubles; the ≤k-term sum drifts ulp-order only, absorbed
    * by round(6).
    */
  def rbo(a: DataFrame, b: DataFrame, groupCol: String,
      itemCol: String, rankCol: String, k: Int, p: Double = 0.9)
      : DataFrame = {
    require(k >= 1 && k <= 1000, s"bad k $k")
    require(p > 0 && p < 1, s"bad p $p")
    // W(m) = sum_{d=m..k} p^(d-1)/d, m = 1..k
    val w = (1 to k).map(m =>
      (m to k).map(d => math.pow(p, d - 1) / d).sum)
    val norm = 1.0 - math.pow(p, k)
    val ra = a.filter(col(rankCol) <= k)
      .select(col(groupCol).as("__g"), col(itemCol).as("__i"),
        col(rankCol).cast("long").as("__ra"))
    val rb = b.filter(col(rankCol) <= k)
      .select(col(groupCol).as("__g"), col(itemCol).as("__i"),
        col(rankCol).cast("long").as("__rb"))
    // r16: the inner overlap join + a separate group-universe union
    // consumed EACH ranking twice, so an expensive upstream (q_rbo's
    // lineitem join+agg) rebuilt four times. A single full-outer join
    // reads each side once: matched rows carry the overlap weight,
    // and every group with any row on either side survives the
    // group-by — the same universe the union produced (guide §2.4).
    // Matched-ness is an explicit both-non-null gate because
    // greatest() SKIPS nulls (an unmatched row's __m would otherwise
    // echo its one-sided rank and leak weight).
    val joined = ra.join(rb, Seq("__g", "__i"), "full_outer")
      .withColumn("__m", greatest(col("__ra"), col("__rb")))
    val wExpr = (1 to k).foldLeft(lit(0.0)) { (acc, m) =>
      when(col("__m") === m, lit(w(m - 1))).otherwise(acc)
    }
    val matched = col("__ra").isNotNull && col("__rb").isNotNull
    joined.groupBy(col("__g"))
      .agg(sum(when(matched, 1L).otherwise(0L)).cast("long")
          .as("overlap_at_k"),
        sum(when(matched, wExpr)).as("__mass"))
      .select(col("__g").as(groupCol),
        coalesce(col("overlap_at_k"), lit(0L)).as("overlap_at_k"),
        round(coalesce(col("__mass"), lit(0.0)) * (1.0 - p) / norm, 6)
          .as("rbo"))
  }

  /** X243 — risk-coverage curve for selective prediction: accept
    * everything scoring ≥ each threshold (DESCENDING confidence) and
    * report coverage = accepted/N and risk = errors-among-accepted/
    * accepted at every distinct score step — the abstention readout
    * ([[rocAuc]] ranks pairs; this answers the operational question
    * "if the pipeline auto-accepts the top X%, what error rate does
    * it eat", which is how a quality classifier actually gets
    * deployed). The curve is monotone in coverage by construction;
    * risk is not (that non-monotonicity IS the finding — a badly
    * calibrated band).
    *
    * Exact: steps live on the DISTINCT-score table (the rocAuc
    * bounded-ordered-pass class), cumulative counts are exact ints,
    * coverage/risk are int ratios, round(6). Quantize upstream if
    * the score column is high-cardinality — the contract query bins
    * to keep the step table bounded.
    */
  /** X248 — blocking-quality evaluation (the record-linkage
    * literature's standard pair): REDUCTION RATIO = 1 − \|C\|/(n(n−1)/2)
    * (how much of the quadratic pair space the blocker pruned) and
    * PAIR COMPLETENESS = \|C∩T\|/\|T\| (how many true pairs survived the
    * pruning), plus pair quality (precision) and the PC·RR harmonic
    * mean — the missing half of [[pairSetEval]]: precision/recall
    * score the MATCHER, these score the BLOCKER, and a pipeline that
    * tunes LSH bands (X197) or sorted-neighborhood windows (X133)
    * without PC/RR is flying blind on exactly the recall-vs-cost
    * trade it exists to make. Pairs canonicalize to (min, max) and
    * dedupe; n(n−1)/2 computed in exact decimal (n² overflows a long
    * past 3e9 records). One row out.
    */
  /** Closed-form [[blockingQuality]] for EQUI-KEY blockers (both the
    * candidate blocker and the truth relation defined as "same key"):
    * every count is a sum of C(n, 2) over group sizes — \|C\| over
    * the blocker key, \|T\| over the truth key, \|C∩T\| over the JOINT
    * key (two docs are in both iff they share both keys) — so the
    * evaluation NEVER ENUMERATES A PAIR: three map-side-combined
    * aggregates over the record table, linear where the pair-table
    * form is quadratic (at sf1 the pair form measured 177 s; this
    * form is a scan — same outputs bit-for-bit). Requires one row
    * per record (pair identity comes from group sizes). Use the
    * pair-table overload for irregular blockers (LSH unions,
    * sorted-neighborhood windows).
    */
  def blockingQualityFromKeys(records: DataFrame,
      candKeys: Seq[Column], truthKeys: Seq[Column]): DataFrame = {
    val dec = "decimal(38,0)"
    def pairMass(keys: Seq[Column], out: String): DataFrame =
      records.groupBy(keys: _*).agg(count(lit(1)).as("__n"))
        .agg(coalesce(sum((col("__n").cast(dec) * (col("__n") - 1L))
          .cast(dec)), lit(0).cast(dec)).as(out))
    val c = pairMass(candKeys, "__c2")
    val t = pairMass(truthKeys, "__t2")
    val h = pairMass(candKeys ++ truthKeys, "__h2")
    val n = records.agg(count(lit(1)).cast("long").as("__nr"))
    val nd = col("__nr").cast("double")
    val all2 = nd * (nd - 1.0) // doubled all-pairs, like __c2 etc.
    val rr = lit(1.0) - col("__c2").cast("double") / all2
    val pc = col("__h2").cast("double") / col("__t2").cast("double")
    c.crossJoin(t).crossJoin(h).crossJoin(n)
      .select(
        expr("cast((__c2 / 2) as bigint)").as("n_candidates"),
        expr("cast((__t2 / 2) as bigint)").as("n_truth"),
        expr("cast((__h2 / 2) as bigint)").as("n_hits"),
        round(rr, 6).as("reduction_ratio"),
        when(col("__t2") > 0, round(pc, 6)).as("pair_completeness"),
        when(col("__c2") > 0,
          round(col("__h2").cast("double") /
            col("__c2").cast("double"), 6)).as("pair_quality"),
        when(col("__t2") > 0 && (rr + pc) > 0.0,
          round(lit(2.0) * rr * pc / (rr + pc), 6)).as("f_pc_rr"))
  }

  def blockingQuality(candidates: DataFrame, truth: DataFrame,
      nRecords: Long): DataFrame = {
    require(nRecords >= 2, s"bad nRecords $nRecords")
    def canon(df: DataFrame): DataFrame = {
      val c = df.columns
      df.select(least(col(c(0)), col(c(1))).as("__p1"),
        greatest(col(c(0)), col(c(1))).as("__p2"))
        .filter(col("__p1") =!= col("__p2")).distinct()
    }
    val c = canon(candidates)
    val t = canon(truth)
    val nC = c.agg(count(lit(1)).cast("long").as("n_candidates"))
    val nT = t.agg(count(lit(1)).cast("long").as("n_truth"))
    val hit = c.join(t, Seq("__p1", "__p2"))
      .agg(count(lit(1)).cast("long").as("n_hits"))
    val allPairs = BigDecimal(nRecords) * BigDecimal(nRecords - 1) / 2
    val rr = lit(1.0) - col("n_candidates").cast("double") /
      lit(allPairs.toDouble)
    val pc = col("n_hits").cast("double") / col("n_truth").cast("double")
    nC.crossJoin(nT).crossJoin(hit)
      .select(col("n_candidates"), col("n_truth"), col("n_hits"),
        round(rr, 6).as("reduction_ratio"),
        when(col("n_truth") > 0L, round(pc, 6)).as("pair_completeness"),
        when(col("n_candidates") > 0L,
          round(col("n_hits").cast("double") /
            col("n_candidates").cast("double"), 6)).as("pair_quality"),
        when(col("n_truth") > 0L && (rr + pc) > 0.0,
          round(lit(2.0) * rr * pc / (rr + pc), 6)).as("f_pc_rr"))
  }

  /** X260 — Qini (uplift) curve: targeting eval for a TREATMENT
    * score — accept everything above each score cut and report the
    * INCREMENTAL successes vs a scaled control,
    * qini = X_t − X_c·(N_t/N_c) among the accepted — the curve that
    * separates "model finds persuadables" from "model finds people
    * who convert anyway", which outcome-only metrics ([[rocAuc]],
    * [[riskCoverage]]) cannot distinguish by construction. Reads the
    * X231 experiment layout (treated flag + outcome) plus a score.
    *
    * Exact: distinct-score steps (the bounded-ordered-pass class),
    * four cumulative integer counts, the qini double one fixed
    * shape; cuts with no control yet report NULL (unscaled, not
    * fabricated). The curve endpoint is the overall experiment
    * uplift; a random score walks a straight line to it.
    */
  /** X270 — Gwet's AC1: chance-corrected agreement that fixes the
    * KAPPA PARADOX — on skewed label distributions (99% "keep",
    * 1% "drop" — every corpus-QA audit ever) two raters agreeing
    * 99% of the time can score κ ≈ 0 because kappa's chance term
    * inflates with prevalence; AC1's chance term
    * e = Σ_c π_c(1−π_c)/(K−1) with π_c the MEAN category prevalence
    * stays calibrated. Report it beside [[cohensKappa]], not instead
    * — divergence between the two IS the prevalence warning. Exact
    * integer cells (same contingency table as kappa), one fixed-
    * shape double, NULL when e = 1.
    */
  def gwetAc1(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol).cast("string").as("__a"),
        col(bCol).cast("string").as("__b"))
      .agg(count(lit(1)).as("__c"))
    val n = cells.agg(sum(col("__c")).cast("long").as("__n"))
    val agree = cells.filter(col("__a") === col("__b"))
      .agg(coalesce(sum(col("__c")), lit(0L)).cast("long").as("__ag"))
    // per-category marginal over BOTH raters: m_c; π_c = m_c/(2n).
    // Σπ(1−π) = 1 − Σm²/(4n²) because Σm = 2n — so one exact decimal
    // Σm² is the whole chance term.
    val marg = cells.select(col("__a").as("__v"), col("__c"))
      .unionAll(cells.select(col("__b").as("__v"), col("__c")))
      .groupBy(col("__v")).agg(sum(col("__c")).as("__m"))
    val kCats = marg.agg(count(lit(1)).cast("long").as("__k"),
      sum((col("__m").cast("decimal(38,0)") * col("__m"))
        .cast("decimal(38,0)")).cast("decimal(38,0)").as("__mm"))
    val w = n.crossJoin(agree).crossJoin(kCats)
    val nd = col("__n").cast("double")
    val po = col("__ag").cast("double") / nd
    val sumPi = lit(1.0) - col("__mm").cast("double") /
      (lit(4.0) * nd * nd)
    val e = when(col("__k") > 1L,
      sumPi / (col("__k").cast("double") - 1.0)).otherwise(lit(0.0))
    w.select(col("__n").as("n_items"),
      col("__k").as("n_categories"),
      round(po, 6).as("observed_agreement"),
      round(e, 6).as("chance_agreement"),
      when(e < 1.0, round((po - e) / (lit(1.0) - e), 6)).as("ac1"))
  }

  /** X261 — precision-recall curve + average precision: P/R at every
    * descending-score cut plus AP = Σ ΔR·P (the step-integral
    * convention, reported on every row as the running value so the
    * final row IS the AP) — the imbalanced-data eval [[rocAuc]]
    * flatters by construction (AUC stays high when negatives swamp
    * positives because FPR's denominator is huge; precision's is
    * not). The standard curve for dedup/quality classifiers where
    * positives are 1-in-10⁴.
    *
    * Exact: distinct-score steps, cumulative integer (tp, fp);
    * precision/recall are int ratios; the AP running sum folds
    * nano-quantized ΔR·P terms (exact integers) in score order.
    */
  def prCurve(df: DataFrame, scoreCol: String, labelCol: Column)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = df.groupBy(col(scoreCol).as("__s"))
      .agg(sum(when(labelCol, 1L).otherwise(0L)).as("__p"),
        sum(when(labelCol, 0L).otherwise(1L)).as("__q"))
    val tot = per.agg(sum(col("__p")).cast("long").as("__pos"))
    val w = Window.orderBy(col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = per
      .withColumn("__tp", sum(col("__p")).over(w))
      .withColumn("__fp", sum(col("__q")).over(w))
      .crossJoin(broadcast(tot))
    val prec = col("__tp").cast("double") /
      (col("__tp") + col("__fp")).cast("double")
    val dR = col("__p").cast("double") / col("__pos").cast("double")
    val apTerm = round(dR * prec * 1e9, 0).cast("long")
    cum.withColumn("__apn", sum(apTerm).over(w))
      .select(col("__s").as("threshold"),
        col("__tp").cast("long").as("tp"),
        col("__fp").cast("long").as("fp"),
        round(prec, 6).as("precision"),
        when(col("__pos") > 0L,
          round(col("__tp").cast("double") /
            col("__pos").cast("double"), 6)).as("recall"),
        when(col("__pos") > 0L,
          round(col("__apn").cast("double") / 1e9, 6))
          .as("avg_precision_running"))
  }

  /** X262 — expected-cost threshold picker: given per-error costs,
    * walk every score cut and report cost(t) = cFP·FP(t) + cFN·FN(t),
    * flagging the argmin — turns X243's curve into a DECISION (the
    * operating point is where a classifier meets the business, and
    * picking it by eyeballing a curve is how pipelines ship 2×-cost
    * thresholds). Exact integer error counts per cut; the argmin
    * compares exact decimal cost numerators (costs taken as micro
    * ints), ties broken toward the higher threshold (accept less).
    */
  def costThreshold(df: DataFrame, scoreCol: String, labelCol: Column,
      fpCost: Double, fnCost: Double): DataFrame = {
    require(fpCost >= 0 && fnCost >= 0 && fpCost + fnCost > 0,
      s"bad costs $fpCost/$fnCost")
    import org.apache.spark.sql.expressions.Window
    val cfp = math.round(fpCost * 1e6)
    val cfn = math.round(fnCost * 1e6)
    val per = df.groupBy(col(scoreCol).as("__s"))
      .agg(sum(when(labelCol, 1L).otherwise(0L)).as("__p"),
        sum(when(labelCol, 0L).otherwise(1L)).as("__q"))
    val tot = per.agg(sum(col("__p")).cast("long").as("__pos"))
    val w = Window.orderBy(col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = per
      .withColumn("__tp", sum(col("__p")).over(w))
      .withColumn("__fp", sum(col("__q")).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("__fn", col("__pos") - col("__tp"))
      .withColumn("__cost",
        (col("__fp").cast("decimal(38,0)") * cfp +
          col("__fn").cast("decimal(38,0)") * cfn).cast("decimal(38,0)"))
    val best = cum.agg(min(struct(col("__cost"), (-col("__s"))
      .as("__negs"))).as("__b"))
    cum.crossJoin(broadcast(best))
      .select(col("__s").as("threshold"),
        col("__fp").cast("long").as("n_false_pos"),
        col("__fn").cast("long").as("n_false_neg"),
        round(col("__cost").cast("double") / 1e6, 6).as("expected_cost"),
        (col("__cost") === col("__b.__cost") &&
          (-col("__s")) === col("__b.__negs")).as("is_optimal"))
  }

  /** X263 — multi-class classification report from (actual,
    * predicted) pairs: per-class exact (tp, fp, fn), precision /
    * recall / F1, plus the MACRO averages (every class votes
    * equally — the imbalance-honest summary) and the MICRO average
    * (= accuracy in single-label classification) carried on each row
    * for one-table consumption. Classes present only in predictions
    * still get a row (P = 0-ish, R NULL: no actual instances —
    * reported, not dropped). One \|A∪P\|-bounded cell aggregate.
    */
  def classificationReport(df: DataFrame, actualCol: Column,
      predictedCol: Column): DataFrame = {
    val cells = df.groupBy(actualCol.as("__a"),
      predictedCol.as("__p")).agg(count(lit(1)).as("__c"))
    val byActual = cells.groupBy(col("__a").as("label"))
      .agg(sum(col("__c")).as("__actual"),
        sum(when(col("__a") === col("__p"), col("__c")).otherwise(0L))
          .as("__tp"))
    val byPred = cells.groupBy(col("__p").as("label"))
      .agg(sum(col("__c")).as("__pred"))
    val per = byActual.join(byPred, Seq("label"), "full")
      .select(col("label"),
        coalesce(col("__tp"), lit(0L)).cast("long").as("tp"),
        (coalesce(col("__pred"), lit(0L)) -
          coalesce(col("__tp"), lit(0L))).cast("long").as("fp"),
        (coalesce(col("__actual"), lit(0L)) -
          coalesce(col("__tp"), lit(0L))).cast("long").as("fn"))
    val prec = when(col("tp") + col("fp") > 0L,
      col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
    val rec = when(col("tp") + col("fn") > 0L,
      col("tp").cast("double") / (col("tp") + col("fn")).cast("double"))
    val f1 = when(prec.isNotNull && rec.isNotNull && prec + rec > 0.0,
      lit(2.0) * prec * rec / (prec + rec))
    val scored = per
      .withColumn("__prec", prec).withColumn("__rec", rec)
      .withColumn("__f1", f1)
    // nano-quantized macro folds (order-free exact sums)
    val macroAgg = scored.agg(
      count(lit(1)).cast("long").as("__k"),
      sum(coalesce(round(col("__f1") * 1e9, 0).cast("long"), lit(0L)))
        .cast("long").as("__f1n"),
      sum(col("tp")).cast("long").as("__tpT"),
      sum(col("fp")).cast("long").as("__fpT"))
    scored.crossJoin(broadcast(macroAgg))
      .select(col("label"), col("tp"), col("fp"), col("fn"),
        round(col("__prec"), 6).as("precision"),
        round(col("__rec"), 6).as("recall"),
        round(col("__f1"), 6).as("f1"),
        round(col("__f1n").cast("double") /
          (col("__k").cast("double") * 1e9), 6).as("macro_f1"),
        round(col("__tpT").cast("double") /
          (col("__tpT") + col("__fpT")).cast("double"), 6)
          .as("micro_f1"))
  }

  def qiniCurve(df: DataFrame, scoreCol: String, isTreated: Column,
      outcomeCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = df.groupBy(col(scoreCol).as("__s"))
      .agg(sum(when(isTreated, 1L).otherwise(0L)).as("__nt"),
        sum(when(!isTreated, 1L).otherwise(0L)).as("__nc"),
        sum(when(isTreated && outcomeCol, 1L).otherwise(0L))
          .as("__xt"),
        sum(when(!isTreated && outcomeCol, 1L).otherwise(0L))
          .as("__xc"))
    val w = Window.orderBy(col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per
      .withColumn("__cnt", sum(col("__nt")).over(w))
      .withColumn("__cnc", sum(col("__nc")).over(w))
      .withColumn("__cxt", sum(col("__xt")).over(w))
      .withColumn("__cxc", sum(col("__xc")).over(w))
      .select(col("__s").as("threshold"),
        col("__cnt").cast("long").as("n_treated"),
        col("__cnc").cast("long").as("n_control"),
        col("__cxt").cast("long").as("x_treated"),
        col("__cxc").cast("long").as("x_control"),
        when(col("__cnc") > 0L, round(
          col("__cxt").cast("double") -
            col("__cxc").cast("double") *
              (col("__cnt").cast("double") /
                col("__cnc").cast("double")), 6)).as("qini"))
  }

  def riskCoverage(df: DataFrame, scoreCol: String, errorCol: Column)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = df.groupBy(col(scoreCol).as("__s"))
      .agg(count(lit(1)).as("__n"),
        sum(when(errorCol, 1L).otherwise(0L)).as("__e"))
    val tot = per.agg(sum(col("__n")).cast("long").as("__tot"))
    val w = Window.orderBy(col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    per.withColumn("__cn", sum(col("__n")).over(w))
      .withColumn("__ce", sum(col("__e")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("__s").as("threshold"),
        col("__cn").cast("long").as("n_covered"),
        col("__ce").cast("long").as("n_errors"),
        round(col("__cn").cast("double") / col("__tot").cast("double"),
          6).as("coverage"),
        round(col("__ce").cast("double") / col("__cn").cast("double"), 6)
          .as("risk"))
  }

  /** X311 — Kendall's W (coefficient of concordance): do m rankers
    * agree on the ordering of n items — the MANY-rater completion of
    * the reliability family ([[cohensKappa]]/[[gwetAc1]] score two
    * raters on LABELS; W scores m rankers on an ORDER), tie-corrected
    * via per-ranker midranks: W = 3·S₄/(m²(n³−n) − m·T) with
    * S₄ = Σ_items (2R_i − m(n+1))² and T = ΣΣ(t³−t). Items not
    * ranked by every ranker drop (and are counted) — W is undefined
    * on holes. Doubled midranks keep every input an exact integer
    * (the X267 machinery per ranker); one double division, round(6);
    * NULL when every ranking is fully tied.
    */
  def kendallW(df: DataFrame, rankerCol: String, itemCol: String,
      valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val q = round(col(valueCol) * 1e6, 0).cast("long")
    val base = df.select(col(rankerCol).as("__r"),
      col(itemCol).as("__i"), q.as("__q"))
    val m = base.agg(countDistinct(col("__r")).cast("long").as("__m"))
    val itemCount = base.groupBy(col("__i"))
      .agg(count(lit(1)).as("__cnt"))
    val allItems = itemCount.agg(count(lit(1)).cast("long")
      .as("__itemsAll"))
    val complete = base.join(itemCount, Seq("__i"))
      .crossJoin(broadcast(m))
      .filter(col("__cnt") === col("__m"))
    val wRank = Window.partitionBy(col("__r")).orderBy(col("__q"))
    val wTie = Window.partitionBy(col("__r"), col("__q"))
    val rho = complete.withColumn("__rho",
      lit(2L) * (rank().over(wRank) - 1L) +
        count(lit(1)).over(wTie) + lit(1L))
    val perItem = rho.groupBy(col("__i"))
      .agg(sum(col("__rho")).cast(dec).as("__r2"),
        max(col("__m")).as("__m"))
    val nItems = perItem.agg(count(lit(1)).cast("long").as("__n"),
      max(col("__m")).as("__m"))
    val s4 = perItem.crossJoin(broadcast(nItems.select(col("__n"))))
      .agg(sum(((col("__r2") - col("__m") * (col("__n") + 1L)) *
        (col("__r2") - col("__m") * (col("__n") + 1L))).cast(dec))
        .cast(dec).as("__s4"))
    val ties = rho.groupBy(col("__r"), col("__q"))
      .agg(count(lit(1)).as("__t"))
      .agg(coalesce(sum((col("__t").cast(dec) * col("__t") *
        col("__t") - col("__t")).cast(dec)), lit(0).cast(dec))
        .cast(dec).as("__T"))
    val out = nItems.crossJoin(broadcast(s4))
      .crossJoin(broadcast(ties)).crossJoin(broadcast(allItems))
    val md = col("__m").cast("double")
    val nd = col("__n").cast("double")
    val den = md * md * (nd * nd * nd - nd) -
      md * col("__T").cast("double")
    out.select(col("__m").as("n_rankers"), col("__n").as("n_items"),
      (col("__itemsAll") - col("__n")).as("n_dropped_items"),
      when(den > 0.0, round(lit(3.0) * col("__s4").cast("double") /
        den, 6)).as("w"))
  }

  /** X362 — token-level F1 (the SQuAD/extractive-QA answer metric,
    * Rajpurkar 2016): bag-of-tokens overlap WITH multiplicity between
    * a prediction and its reference — common = Σ_t min(tf_pred,
    * tf_ref), P = common/\|pred\|, R = common/\|ref\|, F1 harmonic.
    * The order-free middle ground between X74's edit-distance WER
    * (order-strict) and X86's n-gram BLEU — the right score when a
    * generation may legitimately reorder.
    *
    * Scale shape: one scan. The overlap is the row-local codegen
    * kernel `multiset_overlap` (O(|pred| + |ref|) per row), so rows
    * are scored independently: no exchange, and rows sharing an id
    * keep their own scores. Exact integer counts, three fixed-shape
    * doubles, round(6). Empty sides: P NULL when \|pred\| = 0, R NULL
    * when \|ref\| = 0, F1 NULL unless P + R > 0.
    */
  def tokenF1(pairs: DataFrame, idCol: String, predCol: String,
      refCol: String): DataFrame = {
    // coalesce the ARRAYS (not their sizes): under legacy sizeOfNull
    // size(NULL) is -1, so a NULL side would report n_pred/n_ref=-1
    val p = coalesce(Dedup.tokens(col(predCol)), array())
    val r = coalesce(Dedup.tokens(col(refCol)), array())
    val g = pairs.select(col(idCol), p.as("__p"), r.as("__r"))
      .select(col(idCol),
        size(col("__p")).cast("long").as("n_pred"),
        size(col("__r")).cast("long").as("n_ref"),
        call_function("multiset_overlap", col("__p"), col("__r"))
          .as("n_common"))
    val prec = col("n_common").cast("double") /
      col("n_pred").cast("double")
    val rec = col("n_common").cast("double") /
      col("n_ref").cast("double")
    g.select(col(idCol), col("n_pred"), col("n_ref"), col("n_common"),
      when(col("n_pred") > 0L, round(prec, 6)).as("precision"),
      when(col("n_ref") > 0L, round(rec, 6)).as("recall"),
      when(col("n_pred") > 0L && col("n_ref") > 0L &&
        col("n_common") > 0L,
        round(lit(2.0) * prec * rec / (prec + rec), 6))
        .otherwise(when(col("n_pred") > 0L && col("n_ref") > 0L,
          lit(0.0))).as("f1"))
  }

  /** X376 — expected calibration error over fixed equal-width bins:
    * does a [0, 1] confidence score MEAN its number — ECE =
    * Σ_b (n_b/N)·|acc_b − conf̄_b|, plus the max-bin gap (MCE) and
    * the per-bin reliability gap is recoverable from the counts.
    * The quality-classifier (X109) and calibration (X115) shelf's
    * missing summary number: X115 rescales scores, this SCORES the
    * scores.
    *
    * Exactness: confidence arrives MICRO-QUANTIZED (a long in
    * [0, 10⁶]), so bins are pure integer arithmetic
    * (min(bins−1, c·bins div 10⁶)), per-bin sums are exact longs,
    * and the ECE numerator telescopes to the exact integer
    * Σ_b\|out_b·10⁶ − Σconf_b\| — the statistic is ONE division.
    * MCE is a per-bin fixed-shape ratio, max over ≤bins values.
    * One hash agg on the bin key; nothing wider than \|bins\| moves
    * after the scan.
    */
  /** X385 — Brier score with the Murphy (1973) three-way
    * decomposition over fixed bins: BS = REL − RES + UNC (up to the
    * within-bin variance the binning absorbs) — REL is what X376's
    * ECE measures (miscalibration), RES is the score's actual
    * DISCRIMINATION, UNC the outcome's inherent entropy. The pair
    * (q_ece, q_brier) separates "lying about confidence" from
    * "not knowing anything".
    *
    * Exactness: the raw Brier numerator Σ(c − y·10⁶)² is an exact
    * long (micro confidences); REL/RES terms are one fixed-shape
    * double per bin, pico-quantized BEFORE the cross-bin sums so
    * those fold exactly; UNC is one expression on exact counts.
    */
  def brierDecomposition(df: DataFrame, confMicro: Column,
      outcome: Column, bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"bad bins $bins")
    val perBin = df.select(confMicro.as("__c"),
        when(outcome, 1L).otherwise(0L).as("__y"))
      .select(least(lit(bins - 1L),
        expr(s"(__c * $bins) div 1000000")).as("__b"),
        col("__c"), col("__y"),
        ((col("__c") - col("__y") * 1000000L) *
          (col("__c") - col("__y") * 1000000L)).as("__sq"))
      .groupBy(col("__b"))
      .agg(count(lit(1)).cast("long").as("__n"),
        sum(col("__y")).cast("long").as("__o"),
        sum(col("__c")).cast("long").as("__cs"),
        sum(col("__sq")).cast("long").as("__sqs"))
    val tot = perBin.agg(sum(col("__n")).cast("long").as("__nn"),
      sum(col("__o")).cast("long").as("__oo"),
      sum(col("__sqs")).cast("long").as("__bn"))
    val acc = col("__o").cast("double") / col("__n").cast("double")
    val confBar = col("__cs").cast("double") /
      (col("__n").cast("double") * 1e6)
    val yBar = col("__oo").cast("double") / col("__nn").cast("double")
    val relT = round(col("__n").cast("double") *
      (confBar - acc) * (confBar - acc) * 1e12, 0).cast("long")
    val resT = round(col("__n").cast("double") *
      (acc - yBar) * (acc - yBar) * 1e12, 0).cast("long")
    perBin.crossJoin(broadcast(tot))
      .select(col("__nn"), col("__oo"), col("__bn"),
        relT.as("__rel"), resT.as("__res"))
      .groupBy(col("__nn"), col("__oo"), col("__bn"))
      .agg(count(lit(1)).cast("long").as("n_bins_used"),
        sum(col("__rel")).cast("long").as("__sr"),
        sum(col("__res")).cast("long").as("__ss"))
      .select(col("__nn").as("n"), col("n_bins_used"),
        round(col("__bn").cast("double") /
          (col("__nn").cast("double") * 1e12), 6).as("brier"),
        round(col("__sr").cast("double") /
          (col("__nn").cast("double") * 1e12), 6).as("reliability"),
        round(col("__ss").cast("double") /
          (col("__nn").cast("double") * 1e12), 6).as("resolution"),
        round((col("__oo").cast("double") / col("__nn").cast("double"))
          * (lit(1.0) - col("__oo").cast("double") /
            col("__nn").cast("double")), 6).as("uncertainty"))
  }

  def expectedCalibrationError(df: DataFrame, confMicro: Column,
      outcome: Column, bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"bad bins $bins")
    val perBin = df.select(confMicro.as("__c"), outcome.as("__y"))
      .select(least(lit(bins - 1L),
        expr(s"(__c * $bins) div 1000000")).as("__b"),
        col("__c"), col("__y"))
      .groupBy(col("__b"))
      .agg(count(lit(1)).cast("long").as("__n"),
        sum(when(col("__y"), 1L).otherwise(0L)).cast("long").as("__o"),
        sum(col("__c")).cast("long").as("__cs"))
    val gapNum = abs(col("__o") * lit(1000000L) - col("__cs"))
    perBin
      .select(col("__n"), gapNum.as("__g"),
        (gapNum.cast("double") / (col("__n").cast("double") * 1e6))
          .as("__gap"))
      .agg(sum(col("__n")).cast("long").as("n"),
        count(lit(1)).cast("long").as("n_bins_used"),
        sum(col("__g")).cast("long").as("__sg"),
        max(col("__gap")).as("__mce"))
      .select(col("n"), col("n_bins_used"),
        when(col("n") > 0L, round(col("__sg").cast("double") /
          (col("n").cast("double") * 1e6), 6)).as("ece"),
        round(col("__mce"), 6).as("mce"))
  }

  /** X405 — expected reciprocal rank at k (Chapelle 2009): the
    * cascade-model retrieval metric ERR = Σ_i (R_i/i)·Π_{j<i}(1−R_j)
    * with R = (2^g − 1)/2^G — unlike NDCG's position discount, a
    * satisfying early result SHADOWS everything below it, which is
    * how users actually read a result list.
    *
    * EXACT: with dyadic gains (g ≤ maxGrade = G), every term is a
    * rational over 2^{G·k}·lcm(1..k) — the per-query fold runs
    * entirely in integer Columns (numerators n_i = 2^g−1, prefix
    * products of (2^G − n_j), the lcm/i factors), so ERR is one
    * double division of exact longs, hash-identical in any engine.
    * One groups-bounded conditional-pivot aggregate; ranks beyond k
    * or missing ranks contribute gain 0. Requires G·k ≤ 40-ish to
    * stay in long range (enforced).
    */
  def errAtK(df: DataFrame, queryCol: String, rankCol: String,
      gradeCol: String, k: Int, maxGrade: Int = 4): DataFrame = {
    require(k >= 1 && k <= 8, s"bad k $k")
    require(maxGrade >= 1 && maxGrade <= 5, s"bad maxGrade $maxGrade")
    val base = 1L << maxGrade
    def lcm(a: Long, b: Long): Long = a / gcd(a, b) * b
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val l = (1L to k.toLong).reduce(lcm)
    // per-query pivot: n_i = 2^grade − 1 at rank i (0 when absent);
    // the 2^g ladder stays a fixed-shape integer expression
    val gain = (0 to maxGrade).foldLeft(lit(0L): Column) { (acc, g) =>
      when(col(gradeCol) === g, lit((1L << g) - 1L)).otherwise(acc)
    }
    val piv = df.filter(col(rankCol) <= k)
      .groupBy(col(queryCol).as("query_id"))
      .agg(count(lit(1)).cast("long").as("n_ranked"),
        (1 to k).map(i =>
          coalesce(max(when(col(rankCol) === i, gain)), lit(0L))
            .as(s"__n$i")): _*)
    // numerator Σ n_i · Π_{j<i}(base − n_j) · base^(k−i) · (lcm/i)
    val num = (1 to k).map { i =>
      val pref = (1 until i).foldLeft(lit(1L): Column) { (acc, j) =>
        acc * (lit(base) - col(s"__n$j"))
      }
      col(s"__n$i") * pref *
        lit((0 until (k - i)).foldLeft(1L)((a, _) => a * base)) *
        lit(l / i)
    }.reduce(_ + _)
    val den = (0 until k).foldLeft(1L)((a, _) => a * base) * l
    piv.select(col("query_id"), col("n_ranked"), num.as("err_num"),
        lit(den).as("err_den"),
        round(num.cast("double") / lit(den.toDouble), 6).as("err"))
  }
}
