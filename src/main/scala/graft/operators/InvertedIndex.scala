package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize

/** Inverted-index text statistics: term/document frequencies, tf-idf
  * weighting, sparse cosine similarity join, and distinctive-term
  * extraction — the retrieval-side text operators of a training-data
  * pipeline (corpus search, near-topic grouping, keyword surfacing)
  * complementing the set-based dedup family in [[Dedup]].
  *
  * All stages are Column expression trees over built-in functions —
  * no UDFs, whole-stage codegen throughout.
  *
  * Scale notes (100 TB):
  *   - The index is one explode + hash aggregate: the shuffle carries
  *     (doc, term, tf) triples, map-side combined.
  *   - The sparse cosine join is the textbook inverted-index
  *     similarity join: pairs meet through shared terms (equi-join on
  *     term), so cost is Σ_term df², NOT |docs|². The `dfCap` prune
  *     drops ubiquitous terms — the standard guard, since a stopword
  *     appearing in every doc alone recreates the all-pairs join; its
  *     semantic effect is computing cosine over the pruned vocabulary
  *     (both sides of the driver oracle apply the same cap).
  *   - Distinctive terms is one window over the per-doc term list —
  *     partitioned by doc, no global sort.
  */
object InvertedIndex {

  /** (docCol, term, tf): whitespace-tokenized lower-cased n-gram term
    * counts per document, each term's words joined by a space. Word
    * n-grams (n ≥ 2) are the right index terms when the unigram
    * vocabulary is small relative to the corpus — every term is then
    * near-ubiquitous and carries no signal. Each row's grams come from
    * its own tokens, so rows that share an id add their counts and no
    * gram spans two rows. Cost: one scan, then the map-side-combined
    * count aggregate.
    */
  def termCounts(docs: DataFrame, docCol: String, textCol: String,
      n: Int = 1): DataFrame = {
    val terms =
      if (n == 1) Dedup.tokens(col(textCol))
      else Dedup.ngrams(split(lower(col(textCol)), "\\s+"), n, " ")
    docs.select(col(docCol), explode(terms).as("term"))
      .groupBy(col(docCol), col("term"))
      .agg(count(lit(1)).as("tf"))
  }

  /** (docCol, __g): every bigram occurrence of each row, its two
    * tokens joined by `Dedup.Sep`; `prevOf` and `nextOf` split
    * one back into its tokens.
    */
  private def bigrams(docs: DataFrame, docCol: String,
      textCol: String): DataFrame =
    docs.select(col(docCol),
      explode(Dedup.shingleRun(col(textCol), 2)).as("__g"))

  private val prevOf = substring_index(col("__g"), Dedup.Sep, 1)
  private val nextOf = substring_index(col("__g"), Dedup.Sep, -1)

  /** (term, df): number of documents containing each term. */
  def docFrequencies(tc: DataFrame): DataFrame =
    tc.groupBy(col("term")).agg(count(lit(1)).as("df"))

  /** (docCol, term, tf, df, weight): smoothed tf-idf,
    * weight = tf · ln((N+1)/(df+1)). `nDocs` is passed in (a corpus
    * constant the caller knows or computes once) so the weighting
    * stays a pure per-row expression.
    */
  def tfidf(tc: DataFrame, docCol: String, nDocs: Long): DataFrame =
    tc.join(docFrequencies(tc), "term")
      .withColumn("weight",
        col("tf") * log((lit(nDocs) + 1.0) / (col("df") + 1.0)))
      .select(col(docCol), col("term"), col("tf"), col("df"), col("weight"))

  /** Document pairs with bag-of-words cosine ≥ `threshold`, computed
    * over the vocabulary pruned to df ≤ `dfCap`. All sums are
    * integer (term counts), so the cosine doubles are bit-identical
    * across engines — sqrt and division are IEEE-exact operations on
    * exactly-representable integers.
    *
    * Output: (d1, d2, cos) with d1 < d2.
    */
  def tfCosinePairs(tc: DataFrame, docCol: String, threshold: Double,
      dfCap: Int): DataFrame = {
    // r16: kept feeds THREE consumers (the norms aggregate + both
    // sides of the x/y-aliased term self-join), and kept's own tree
    // consumes tc twice (index + its df aggregate) — so the upstream
    // term-count build ran up to six times (differently-aliased
    // subtrees never hit ReusedExchange; the r16 wedge lesson, guide
    // §2.4). One checkpoint of the skinny (term, doc, tf) frame feeds
    // them all.
    val kept = tc
      .join(docFrequencies(tc).filter(col("df") <= dfCap).select(col("term")),
        "term")
      .transform(Materialize.cut)
    val norms = kept.groupBy(col(docCol))
      .agg(sum(col("tf") * col("tf")).as("n2"))
    val dots = kept.as("a")
      .join(kept.as("b"),
        col("a.term") === col("b.term") &&
          col(s"a.$docCol") < col(s"b.$docCol"))
      .groupBy(col(s"a.$docCol").as("d1"), col(s"b.$docCol").as("d2"))
      .agg(sum(col("a.tf") * col("b.tf")).as("dot"))
    dots
      .join(norms.select(col(docCol).as("d1"), col("n2").as("na")), "d1")
      .join(norms.select(col(docCol).as("d2"), col("n2").as("nb")), "d2")
      .withColumn("cos",
        col("dot") / (sqrt(col("na")) * sqrt(col("nb"))))
      .filter(col("cos") >= threshold)
      .select(col("d1"), col("d2"), col("cos"))
  }

  /** Top-`k` documents most similar to ONE probe document by
    * tf-cosine over the df-capped index — "more like this" search.
    * The probe's term vector is just the index rows with
    * docCol == probeId (no separate query-vector plumbing), the
    * candidate set is every doc sharing ≥1 kept term with the probe
    * (equi-join on term — never a corpus scan), and ranking is
    * deterministic (cos desc, doc id asc). Integer sums throughout,
    * same engine-exactness argument as [[tfCosinePairs]].
    */
  def searchSimilar(tc: DataFrame, docCol: String, probeId: Long,
      k: Int, dfCap: Int): DataFrame = {
    // r16: same checkpoint as tfCosinePairs — kept feeds probe, the
    // norms aggregate (itself read twice) and the dots join, so the
    // term-count upstream rebuilt up to 8× unpersisted.
    val kept = tc
      .join(docFrequencies(tc).filter(col("df") <= dfCap).select(col("term")),
        "term")
      .transform(Materialize.cut)
    val probe = kept.filter(col(docCol) === probeId)
      .select(col("term"), col("tf").as("qtf"))
    val norms = kept.groupBy(col(docCol))
      .agg(sum(col("tf") * col("tf")).as("n2"))
    val probeNorm = norms.filter(col(docCol) === probeId)
      .select(col("n2").as("qn2"))
    val dots = kept.filter(col(docCol) =!= probeId)
      .join(broadcast(probe), "term")
      .groupBy(col(docCol))
      .agg(sum(col("tf") * col("qtf")).as("dot"))
    dots.join(norms, docCol).crossJoin(broadcast(probeNorm))
      .withColumn("cos", col("dot") / (sqrt(col("n2")) * sqrt(col("qn2"))))
      .orderBy(col("cos").desc, col(docCol))
      .limit(k)
      .select(col(docCol), col("cos"))
  }

  /** [[searchSimilar]] generalized to a BATCH of probe documents —
    * the production shape (a query batch against a growing corpus).
    * The probes' term vectors are broadcast (a probe batch is
    * metadata-sized next to the corpus index), candidates arrive by
    * the same term equi-join — one shuffle of (probe, doc, partial
    * dot) triples with map-side combine, never a corpus scan per
    * probe — and each probe ranks independently in a window over its
    * own candidate set (cos desc, doc id asc; deterministic).
    * Output: (probe_id, docCol, rk, cos) with rk in 1..k.
    */
  def searchSimilarMany(tc: DataFrame, docCol: String,
      probeIds: Seq[Long], k: Int, dfCap: Int): DataFrame = {
    // r16: same checkpoint as searchSimilar (4 kept consumers).
    val kept = tc
      .join(docFrequencies(tc).filter(col("df") <= dfCap).select(col("term")),
        "term")
      .transform(Materialize.cut)
    val probes = kept.filter(col(docCol).isin(probeIds: _*))
      .select(col(docCol).as("probe_id"), col("term"), col("tf").as("qtf"))
    val norms = kept.groupBy(col(docCol))
      .agg(sum(col("tf") * col("tf")).as("n2"))
    val probeNorms = norms.filter(col(docCol).isin(probeIds: _*))
      .select(col(docCol).as("probe_id"), col("n2").as("qn2"))
    val dots = kept.join(broadcast(probes), "term")
      .filter(col(docCol) =!= col("probe_id"))
      .groupBy(col("probe_id"), col(docCol))
      .agg(sum(col("tf") * col("qtf")).as("dot"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col(docCol))
    dots.join(norms, docCol)
      .join(broadcast(probeNorms), "probe_id")
      .withColumn("cos", col("dot") / (sqrt(col("n2")) * sqrt(col("qn2"))))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("probe_id"), col(docCol), col("rk"), col("cos"))
  }

  /** Top-`k` most distinctive terms per document, scored by the
    * integer ratio score = ⌊tf · 1e6 / df⌋ — monotone in tf/df (a
    * term used often HERE but rarely anywhere else), and exact in
    * 64-bit integer arithmetic so rankings and values reproduce
    * across engines with no floating point at all. Ties break on the
    * term's lexicographic order.
    *
    * Output: (docCol, term, tf, df, score, rk) with rk in 1..k.
    */
  def distinctiveTerms(tc: DataFrame, docCol: String, k: Int): DataFrame = {
    val scored = tc.join(docFrequencies(tc), "term")
      .withColumn("score", expr("tf * 1000000 div df"))
    val w = Window.partitionBy(col(docCol))
      .orderBy(col("score").desc, col("term"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(docCol), col("term"), col("tf"), col("df"),
        col("score"), col("rk"))
  }

  /** Corpus-relative token typicality: mean corpus frequency of the
    * doc's tokens, Σᵢ cnt(tᵢ) / n — the frequency-based quality
    * signal behind CCNet-style head/middle/tail corpus splits
    * (low = rare/garbled vocabulary, high = stopword soup; training
    * mixes keep the middle). ALL aggregation is 64-bit integer
    * (Σ tf·cnt and Σ tf), so the final division is one exact double
    * op and values reproduce bit-identically across engines.
    *
    * Output: (docCol, n_tokens, mass, typicality = round(mass/n, 6)).
    *
    * Shape: global term counts are a map-side-combined aggregate of
    * the (doc, term, tf) index; the join back is the standard
    * inverted-index equi-join on term (Σdf cost, not Σdf²: each index
    * row joins ONE global row).
    */
  def tokenTypicality(tc: DataFrame, docCol: String): DataFrame = {
    // r16: tc feeds both the global term aggregate and the join probe
    // side; the two consumers prune differently, so ReusedExchange
    // never fires and the upstream tokenize+explode+count subtree
    // built twice (the tfCosinePairs lesson, guide §2.4). One
    // checkpoint of the skinny (doc, term, tf) frame feeds both.
    val tc1 = Materialize.cut(tc)
    val global = tc1.groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
    tc1.join(global, "term")
      .groupBy(col(docCol))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("cnt")).as("mass"))
      .withColumn("typicality",
        round(col("mass").cast("double") / col("n_tokens"), 6))
  }

  /** Add-one-smoothed unigram LM score: mean negative log-likelihood
    * of the doc under the corpus unigram distribution,
    * −Σᵢ ln((cnt(tᵢ)+1)/(N+V)) / n — the deterministic stand-in for
    * the KenLM perplexity filter (CCNet) with the same plan shape as
    * [[tokenTypicality]]. Scores are floating point (ln), so this is
    * the SPEC-verified twin: cross-engine hash parity belongs to the
    * integer `typicality` form, and rankings from the two agree on
    * everything but near-ties.
    *
    * Output: (docCol, n_tokens, nll).
    */
  def unigramNll(tc: DataFrame, docCol: String): DataFrame = {
    val global = tc.groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
    val consts = global.agg(sum(col("cnt")).as("N"),
      count(lit(1)).as("V"))
    tc.join(global, "term")
      .crossJoin(broadcast(consts))
      .groupBy(col(docCol))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(-col("tf") * log((col("cnt") + 1.0) / (col("N") + col("V"))))
          .as("__s"))
      .withColumn("nll", col("__s") / col("n_tokens"))
      .drop("__s")
  }

  /** Top-`k` documents for ONE probe document ranked by Okapi BM25 —
    * the standard lexical relevance function (Robertson/Spärck Jones;
    * the Lucene default), completing the retrieval family next to the
    * tf-cosine forms: cosine rewards vector-angle similarity, BM25
    * rewards query-term coverage with tf saturation (`k1`) and
    * length normalization (`b`).
    *
    *   score(q,d) = Σ_{t∈q} ln(1 + (N−df+0.5)/(df+0.5))
    *                · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    *
    * Determinism/oracle notes: N, dl, avgdl and every tf/df are
    * 64-bit integers; only the final ln/division arithmetic is
    * floating point, and each (term, doc) contribution is computed by
    * the identical expression in both engines, so scores agree to
    * ~1 ulp and the contract query ranks by the ROUNDED score (6 dp,
    * ties on doc id) — stable on both sides.
    *
    * Scale shape: identical to [[searchSimilar]] — the probe's terms
    * broadcast, candidates arrive by the term equi-join (cost
    * Σ_{t∈q} df_t, never a corpus scan), one map-side-combined
    * aggregate per candidate. `dfCap` skips near-ubiquitous probe
    * terms — BM25's idf already sends their weight to ~0, so the cap
    * cheaply removes the hot keys that would dominate the join.
    * Doc lengths (`dl`) come from the UNCAPPED index — length
    * normalization is a property of the document, not the pruned
    * vocabulary.
    */
  def bm25Rank(tc: DataFrame, docCol: String, probeId: Long, k: Int,
      k1: Double = 1.2, b: Double = 0.75, dfCap: Int = 1000): DataFrame = {
    val df = docFrequencies(tc)
    val dl = tc.groupBy(col(docCol)).agg(sum(col("tf")).as("dl"))
    // N and avgdl in one tiny broadcast row; avgdl as exact-integer
    // division Σdl/N done once in double (identical both engines).
    val consts = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot"))
    val probe = tc.filter(col(docCol) === probeId)
      .join(df.filter(col("df") <= dfCap), "term")
      .select(col("term"), col("df"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val tfNorm = col("tf") * (k1 + 1) /
      (col("tf") + lit(k1) * (lit(1 - b) +
        lit(b) * col("dl") * col("n_docs") / col("tot")))
    tc.filter(col(docCol) =!= probeId)
      .join(broadcast(probe), "term")
      .join(dl, docCol)
      .crossJoin(broadcast(consts))
      .groupBy(col(docCol))
      .agg(sum(idf * tfNorm).as("score"))
      .withColumn("score", round(col("score"), 6))
      .orderBy(col("score").desc, col(docCol))
      .limit(k)
  }

  /** Corpus bigram LM statistics: for every token, its `k` most
    * frequent successors with conditional probability — the
    * next-token distribution a count-based LM (and every
    * perplexity-style corpus diagnostic) is built from. Pure integer
    * counts; the probability is one exact division rounded at 6 dp,
    * ranking is integer (cnt desc, successor asc) — engine-exact.
    *
    * Output: (prev, next, cnt, total, p, rk) with rk in 1..k.
    *
    * Scale shape: one bigram scan + two map-side-combined aggregates
    * + one per-prev window over the DISTINCT bigram table (|V|² worst
    * case, vocabulary-sized — not corpus-sized — rows).
    */
  def nextTokenStats(docs: DataFrame, docCol: String, textCol: String,
      k: Int): DataFrame = {
    val counts = bigrams(docs, docCol, textCol)
      .groupBy(col("__g")).agg(count(lit(1)).as("cnt"))
      .select(prevOf.as("prev"), nextOf.as("next"), col("cnt"))
    val totals = counts.groupBy(col("prev"))
      .agg(sum(col("cnt")).as("total"))
    val rkW = Window.partitionBy(col("prev"))
      .orderBy(col("cnt").desc, col("next"))
    counts.join(totals, "prev")
      .withColumn("rk", row_number().over(rkW))
      .filter(col("rk") <= k)
      .withColumn("p", round(col("cnt").cast("double") / col("total"), 6))
      .select(col("prev"), col("next"), col("cnt"), col("total"),
        col("p"), col("rk"))
  }

  /** X82 — per-doc perplexity under the corpus's own bigram LM (the
    * CCNet/Wikipedia-LM quality signal, with the corpus standing in
    * for the external KenLM): P(next|prev) = corpus bigram count /
    * prev-token count, per-doc mean negative log₂ probability over
    * its bigrams, perplexity = 2^mean_nll. No smoothing is needed —
    * every scored bigram occurs in the corpus by construction (the LM
    * is fit on the corpus being scored, exactly how typicality
    * filters bootstrap before an external LM exists). Docs with < 2
    * tokens have no bigrams and are excluded (explicit contract).
    *
    * Output: (docCol, n_bigrams, mean_nll, ppl), rounded to 6.
    *
    * Scale shape: bigrams come from each row's own tokens in one
    * scan; bigram/unigram count aggs are map-side combinable and
    * vocabulary²-bounded — corpus-sized input, vocab-sized output;
    * the probability join keys on the bigram against that
    * vocab-sized table (AQE broadcasts it when small); the final
    * per-doc agg is one more map-side-combinable pass. Nothing is
    * ever quadratic in documents.
    */
  def docPerplexity(docs: DataFrame, docCol: String, textCol: String)
      : DataFrame = {
    val grams = bigrams(docs, docCol, textCol)
    val counts = grams.groupBy(col("__g")).agg(count(lit(1)).as("cnt"))
      .withColumn("prev", prevOf)
    val totals = counts.groupBy(col("prev"))
      .agg(sum(col("cnt")).as("total"))
    val probs = counts.join(totals, "prev")
      .select(col("__g"),
        (-log(2.0, col("cnt").cast("double") / col("total"))).as("__nll"))
    grams.join(probs, "__g")
      .groupBy(col(docCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__nll")).as("__s"))
      .select(col(docCol), col("n_bigrams"),
        round(col("__s") / col("n_bigrams"), 6).as("mean_nll"),
        round(pow(lit(2.0), col("__s") / col("n_bigrams")), 6).as("ppl"))
  }

  /** X92 — per-doc perplexity under an interpolated KNESER-NEY
    * smoothed bigram LM fit on the corpus itself (Kneser & Ney 1995;
    * the Chen & Goodman 1998 interpolated form with one fixed
    * discount D — the model KenLM builds and the CCNet quality filter
    * actually scores with, vs [[docPerplexity]]'s unsmoothed MLE):
    *
    *   P(v|u) = max(c(u,v) − D, 0)/c(u·)
    *            + (D·N1+(u·)/c(u·)) · (N1+(·v)/N1+(··))
    *
    * where N1+(u·)/N1+(·v) count distinct continuations/histories and
    * N1+(··) the distinct bigram types — the continuation-probability
    * backoff that makes "francisco" unlikely after anything but "san".
    *
    * Cross-engine exactness: every count is an exact integer; each
    * per-bigram probability evaluates the identical fixed-shape
    * double expression in both engines; only per-doc sum order
    * differs (ulp), absorbed by round(6) — the [[docPerplexity]]
    * convention.
    *
    * Scale shape: identical to [[docPerplexity]] — one bigram scan,
    * three vocab-sized count aggs (all map-side combinable), one
    * single-row type total crossed in, probability join on the
    * bigram. Nothing quadratic in documents.
    */
  def knPerplexity(docs: DataFrame, docCol: String, textCol: String,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1,
      s"need 0 < discount < 1, got $discount")
    val grams = bigrams(docs, docCol, textCol)
    val counts = grams.groupBy(col("__g")).agg(count(lit(1)).as("cnt"))
      .select(col("__g"), prevOf.as("prev"), nextOf.as("next"), col("cnt"))
    // c(u·) and N1+(u·) in one pass over the bigram-type table
    val ctx = counts.groupBy(col("prev"))
      .agg(sum(col("cnt")).as("ctx"), count(lit(1)).as("n1fw"))
    val bw = counts.groupBy(col("next")).agg(count(lit(1)).as("n1bw"))
    val btypes = counts.agg(count(lit(1)).as("btypes"))
    val probs = counts.join(ctx, "prev").join(bw, "next")
      .crossJoin(broadcast(btypes))
      .withColumn("__p",
        greatest(col("cnt").cast("double") - discount, lit(0.0)) /
          col("ctx") +
          (lit(discount) * col("n1fw") / col("ctx")) *
          (col("n1bw").cast("double") / col("btypes")))
      .select(col("__g"), (-(log(col("__p")) / log(lit(2.0)))).as("__nll"))
    grams.join(probs, "__g")
      .groupBy(col(docCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__nll")).as("__s"))
      .select(col(docCol), col("n_bigrams"),
        round(col("__s") / col("n_bigrams"), 6).as("mean_nll"),
        round(pow(lit(2.0), col("__s") / col("n_bigrams")), 6).as("ppl"))
  }

  /** X139 — windowed PMI co-occurrence (the Church & Hanks 1990
    * association score over a ±`window` skip-gram context — the
    * distributional statistic under word2vec/GloVe-era vector
    * models): for ordered pairs (x, y) with y at distance 1..window
    * after x, PMI(x,y) = ln( c(x,y)·N / (cL(x)·cR(y)) ), reported
    * for the `k` strongest pairs with support >= `minCount`.
    *
    * Exactness: counts are exact ints; each ln quantizes to
    * nano-units (the quantizedLogFit convention — both engines round
    * 1-ulp libm drift to the same integer), so the PMI ordering and
    * the reported round(6) values replay verbatim in SQL.
    *
    * Scale shape: the pair stream comes from `window` lead() columns
    * in ONE pass over the per-doc-sorted token table (no self-join);
    * pair/marginal counts are vocabulary²-bounded map-side-combined
    * aggs; top-k is TakeOrderedAndProject. Nothing quadratic in
    * corpus size.
    */
  def windowedPmi(docs: DataFrame, docCol: String, textCol: String,
      window: Int = 3, minCount: Int = 5, k: Int = 50): DataFrame = {
    require(window >= 1 && window <= 8, s"bad window $window")
    def lnq(v: Column): Column =
      round(log(v.cast("double")) * 1e9, 0).cast("long")
    val toks = docs.select(col(docCol),
      posexplode(Dedup.tokens(col(textCol))).as(Seq("pos", "__w")))
    val tw = Window.partitionBy(col(docCol)).orderBy(col("pos"))
    val led = (1 to window).foldLeft(toks) { (df, d) =>
      df.withColumn(s"__r$d", lead(col("__w"), d).over(tw))
    }
    val pairs = led.select(col("__w").as("left"),
        explode(array((1 to window).map(d => col(s"__r$d")): _*))
          .as("right"))
      .filter(col("right").isNotNull)
    val pc = pairs.groupBy(col("left"), col("right"))
      .agg(count(lit(1)).as("n_pair"))
    val cl = pc.groupBy(col("left")).agg(sum(col("n_pair")).as("__cl"))
    val cr = pc.groupBy(col("right")).agg(sum(col("n_pair")).as("__cr"))
    val n = pc.agg(sum(col("n_pair")).as("__n"))
    pc.filter(col("n_pair") >= minCount)
      .join(cl, "left").join(cr, "right")
      .crossJoin(broadcast(n))
      .withColumn("__pmi",
        lnq(col("n_pair")) + lnq(col("__n")) - lnq(col("__cl")) -
          lnq(col("__cr")))
      .orderBy(col("__pmi").desc, col("left"), col("right"))
      .limit(k)
      .select(col("left"), col("right"), col("n_pair"),
        round(col("__pmi") / 1e9, 6).as("pmi"))
  }

  /** X140 — Stupid Backoff document scoring (Brants et al. 2007,
    * "Large Language Models in Machine Translation" — THE
    * distributed-count LM: no discounting, no normalization, just
    * relative frequencies with a fixed backoff factor, built to run
    * on web-scale counts in MapReduce — i.e. exactly this engine's
    * shape). The model fits on the md5-selected HALF of the corpus
    * (a frozen LM scoring unseen data, the production use), and
    * every doc scores
    *
    *   S(w_i|w_{i-1}) = c(w_{i-1} w_i)/c(w_{i-1})   if bigram seen
    *                  = alpha · c(w_i)/N            else if w_i seen
    *                  = alpha² / N                  else (OOV)
    *
    * with the first token scored by its unigram (alpha/N when OOV).
    * Backoff/OOV paths genuinely fire on the held-out half.
    *
    * Exactness: counts are ints; each position evaluates one
    * fixed-shape double log expression; per-doc sum order ulps are
    * absorbed by round(6) — the [[docPerplexity]] convention.
    *
    * Scale shape: vocab-sized count tables from the training half,
    * probability lookups as equi-joins on the bigram / token;
    * nothing wider than the token stream moves.
    */
  def stupidBackoff(docs: DataFrame, docCol: String, textCol: String,
      alpha: Double = 0.4, salt: String = "sb"): DataFrame = {
    require(alpha > 0 && alpha < 1, s"bad alpha $alpha")
    val inTrain = CorpusOps.md5Band(col(docCol).cast("string"), salt) <
      CorpusOps.bandThreshold(0.5)
    val toks = docs.select(col(docCol),
      posexplode(Dedup.tokens(col(textCol))).as(Seq("pos", "__w")))
    val train = toks.filter(inTrain)
    val bc = bigrams(docs.filter(inTrain), docCol, textCol)
      .groupBy(col("__g")).agg(count(lit(1)).as("__bc"))
    val uc = train.groupBy(col("__w")).agg(count(lit(1)).as("__uc"))
    val nTotal = train.agg(sum(lit(1L)).as("__ntr"))
    val lnN = log(col("__ntr").cast("double"))
    // positions >= 1: bigram -> unigram -> OOV ladder
    val rest = bigrams(docs, docCol, textCol)
      .join(bc, Seq("__g"), "left")
      .select(col(docCol), col("__bc"), prevOf.as("__prev"),
        nextOf.as("__next"))
      .join(uc.select(col("__w").as("__prev"), col("__uc").as("__ucp")),
        Seq("__prev"), "left")
      .join(uc.select(col("__w").as("__next"), col("__uc").as("__ucn")),
        Seq("__next"), "left")
      .crossJoin(broadcast(nTotal))
      .select(col(docCol),
        when(col("__bc").isNotNull,
            log(col("__bc").cast("double")) -
              log(col("__ucp").cast("double")))
          .when(col("__ucn").isNotNull,
            lit(math.log(alpha)) + log(col("__ucn").cast("double")) - lnN)
          .otherwise(lit(2.0 * math.log(alpha)) - lnN).as("__lp"),
        when(col("__bc").isNull, 1L).otherwise(0L).as("__back"),
        when(col("__ucn").isNull, 1L).otherwise(0L).as("__oov"))
    // position 0: unigram (alpha/N when OOV)
    val first = toks.filter(col("pos") === 0)
      .join(uc, Seq("__w"), "left")
      .crossJoin(broadcast(nTotal))
      .select(col(docCol),
        when(col("__uc").isNotNull,
            log(col("__uc").cast("double")) - lnN)
          .otherwise(lit(math.log(alpha)) - lnN).as("__lp"),
        lit(0L).as("__back"),
        when(col("__uc").isNull, 1L).otherwise(0L).as("__oov"))
    val scored = rest.unionByName(first)
      .groupBy(col(docCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("__back")).as("n_backoff"),
        sum(col("__oov")).as("n_oov"),
        round(sum(col("__lp")), 6).as("sb_logprob"))
    docs.select(col(docCol)).distinct()
      .join(scored, Seq(docCol), "left")
      .select(col(docCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_backoff"), lit(0L)).as("n_backoff"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        coalesce(col("sb_logprob"), lit(0.0)).as("sb_logprob"))
  }

  /** X164 — positional phrase search: exact multi-word phrase lookup
    * over a positional postings list — the classic inverted-index
    * operator a decontamination or blocklist pass needs when the
    * target is a PHRASE, not a bag of words (X142's blocklist counts
    * occurrences per doc; this finds exact positions via index
    * joins, the shape that serves interactive lookups at corpus
    * scale).
    *
    * Plan shape: postings are pruned to the phrase's terms IN THE
    * SCAN (an `isin` filter — pushed down, so the exploded stream is
    * tiny), then each phrase term equi-joins on (doc, pos − offset):
    * k−1 selective joins, no windows, no all-positions state. Output
    * one row per matching doc with the occurrence count and first
    * position.
    */
  def phraseSearch(docs: DataFrame, docCol: String, textCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.size >= 2, s"need a multi-word phrase, got $phrase")
    val postings = docs.select(col(docCol),
        posexplode(Dedup.tokens(col(textCol))).as(Seq("__pos", "__t")))
      .filter(col("__t").isin(phrase.map(lit): _*))
    val base = postings.filter(col("__t") === phrase.head)
      .select(col(docCol), col("__pos"))
    val matched = phrase.zipWithIndex.tail.foldLeft(base) {
      case (acc, (term, i)) =>
        acc.join(postings.filter(col("__t") === term)
          .select(col(docCol), (col("__pos") - i).as("__pos")),
          Seq(docCol, "__pos"))
    }
    matched.groupBy(col(docCol))
      .agg(count(lit(1)).as("n_matches"),
        min(col("__pos")).cast("long").as("first_pos"))
  }
}
