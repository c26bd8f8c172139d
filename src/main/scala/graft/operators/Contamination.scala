package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Materialize

/** Benchmark decontamination and cross-document duplicate-span
  * analysis — the two n-gram-overlap operators every LLM training
  * corpus runs before a model ever sees the data:
  *
  *   - [[flagContaminated]]: which corpus documents leak evaluation
  *     data? (train/test overlap via shared token n-grams — the
  *     standard GPT-3-style 13-gram check, n configurable because
  *     real suites tune it per benchmark)
  *   - [[duplicateSpanCoverage]]: how much of each document is
  *     boilerplate repeated elsewhere in the corpus? (the positional
  *     n-gram approximation of exact substring dedup — spans whose
  *     n-gram occurs in >1 doc)
  *
  * Both are equi-joins on the n-gram term: cost Σ_gram df², never
  * |docs|² — the same inverted-index shape as
  * [[InvertedIndex.tfCosinePairs]], with the same guard advice (a
  * ubiquitous gram is the hot key; production corpora cap gram df or
  * raise n until grams are near-unique — at n ≥ 8 on natural text
  * df collapses to ~1 and the join is effectively linear).
  *
  * Grams come from each row's own tokens (`Dedup.shingleRun`) and
  * join as strings so an external SQL engine reproduces the operator
  * verbatim — swap in `shingle_hash64` for the 8-byte production key
  * (all downstream math is hash-invariant: counts and equi-joins
  * only).
  */
object Contamination {

  /** Positional (non-distinct) token n-grams: one row per gram slot,
    * (docCol, pos, g), where pos is the gram's first token within its
    * row. Multiplicity and position survive — coverage denominators
    * count SLOTS, not the distinct-gram vocabulary. Each row's grams
    * come from its own tokens, so a row gives the same grams whether
    * or not another row shares its id.
    */
  def positionalNgrams(docs: DataFrame, docCol: String, textCol: String,
      n: Int): DataFrame =
    docs.select(col(docCol),
      posexplode(Dedup.shingleRun(col(textCol), n)).as(Seq("pos", "g")))

  /** Per-corpus-doc contamination against a benchmark table: the
    * fraction of the doc's DISTINCT n-grams that also occur anywhere
    * in `bench`, and a flag at `minOverlap`. Contaminated docs are
    * dropped (or quarantined) before training so eval numbers stay
    * honest.
    *
    * Output: (docCol, n_grams, n_hit, contamination, flagged),
    * contamination = n_hit / n_grams; docs shorter than n grams have
    * n_grams = 0 and contamination = 0.0 (nothing leakable).
    *
    * Scale shape: the benchmark side collapses to its distinct gram
    * set — thousands of eval documents → a few million grams, far
    * under the broadcast threshold, so the plan is a broadcast LEFT
    * SEMI-shaped probe of the corpus gram stream (AQE picks broadcast
    * from the aggregated size; no corpus shuffle beyond the
    * (doc, gram) distinct and the per-doc count). A benchmark too big
    * to broadcast degrades to a shuffle equi-join on the gram — still
    * Σ df², never quadratic.
    */
  def flagContaminated(corpus: DataFrame, bench: DataFrame,
      docCol: String, textCol: String, n: Int,
      minOverlap: Double): DataFrame = {
    val benchGrams = positionalNgrams(bench, docCol, textCol, n)
      .select(col("g")).distinct()
      .withColumn("__hit", lit(1))
    // explode_outer keeps a gram-less doc as one null-gram row, which
    // counts nothing, so the operator is total over the corpus
    corpus.select(col(docCol),
        explode_outer(Dedup.shingleRun(col(textCol), n)).as("g"))
      .distinct()
      .join(benchGrams, Seq("g"), "left")
      .groupBy(col(docCol))
      .agg(count(col("g")).as("n_grams"), count(col("__hit")).as("n_hit"))
      .withColumn("contamination",
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(col("n_hit").cast("double") / col("n_grams")))
      .withColumn("flagged", col("contamination") >= minOverlap)
  }

  /** Per-doc duplicate-span coverage: the fraction of the doc's gram
    * SLOTS whose n-gram occurs in more than one document — the
    * positional approximation of "how much of this doc is an exact
    * substring of somewhere else" (suffix-array dedup's question,
    * answered with one aggregate and one equi-join instead of a
    * distributed suffix array).
    *
    * Output: (docCol, n_pos, n_dup, coverage) where coverage =
    * n_dup / n_pos; docs shorter than n grams report n_pos = 0,
    * coverage 0.0.
    *
    * The gram document-frequency table — (g, df) with df > 1 — is
    * corpus-wide but tiny relative to the corpus (distinct repeated
    * grams only); the join back to the positional stream is the
    * inverted-index equi-join, map-side combinable on both ends.
    */
  /** X87 — verbatim-memorization scan: per CANDIDATE doc, the
    * fraction of its positional k-gram slots occurring verbatim in
    * some OTHER corpus doc — the extraction-style regurgitation check
    * (Carlini et al. 2021) run over model outputs (or held-out docs)
    * against the training corpus before release. Differs from
    * `duplicateSpanCoverage` in that candidates are an arbitrary
    * subset scored against the WHOLE corpus with self-matches
    * excluded, not the corpus against itself.
    *
    * Output: (docCol, n_slots, n_memorized, memorization), one row
    * per candidate doc; docs shorter than k grams score 0 over 0
    * slots.
    *
    * Self-exclusion without a doc×doc join: the corpus gram table
    * keeps only (distinct-doc count, one witness doc id) per gram —
    * a slot is memorized iff its gram occurs in ≥2 docs, or in
    * exactly one doc that is not the candidate itself. The witness
    * pair is enough; no gram ever carries its full doc list.
    *
    * Scale shape: corpus side is one distinct + one count agg over
    * the gram stream (map-side combinable, output ≤ \|distinct
    * grams\|); the candidate probe is a gram equi-join whose cost is
    * Σ candidate-gram df — linear in candidate text, never all-pairs.
    */
  def memorizationScan(corpus: DataFrame, candidates: DataFrame,
      docCol: String, textCol: String, k: Int): DataFrame = {
    val gramDocs = positionalNgrams(corpus, docCol, textCol, k)
      .select(col(docCol), col("g")).distinct()
      .groupBy(col("g"))
      .agg(count(lit(1)).as("__nd"), min(col(docCol)).as("__d0"))
    val probe = positionalNgrams(candidates, docCol, textCol, k)
      .join(gramDocs, Seq("g"), "left")
      .groupBy(col(docCol))
      .agg(count(lit(1)).as("n_slots"),
        sum(when(col("__nd") > 1 ||
          (col("__nd") === 1 && col("__d0") =!= col(docCol)), 1L)
          .otherwise(0L)).as("n_memorized"))
    candidates.select(col(docCol)).distinct()
      .join(probe, Seq(docCol), "left")
      .select(col(docCol),
        coalesce(col("n_slots"), lit(0L)).as("n_slots"),
        coalesce(col("n_memorized"), lit(0L)).as("n_memorized"))
      .withColumn("memorization",
        when(col("n_slots") === 0, lit(0.0))
          .otherwise(round(
            col("n_memorized").cast("double") / col("n_slots"), 6)))
  }

  def duplicateSpanCoverage(docs: DataFrame, docCol: String,
      textCol: String, n: Int): DataFrame = {
    // the gram stream feeds BOTH the repeated-gram aggregate and the
    // per-doc slot count. Pre-aggregate once to per-(doc, gram)
    // multiplicities and checkpoint: the cross-doc df is a count over
    // that frame's one-row-per-(doc, gram) keys, and the per-doc slot
    // counts are exact integer folds over __n.
    val g2 = positionalNgrams(docs, docCol, textCol, n)
      .groupBy(col(docCol), col("g"))
      .agg(count(lit(1)).as("__n"))
      .transform(Materialize.cut)
    val repeated = g2
      .groupBy(col("g")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > 1)
      .select(col("g"), lit(1).as("__dup"))
    val counted = g2
      .join(repeated, Seq("g"), "left")
      .groupBy(col(docCol))
      .agg(sum(col("__n")).as("n_pos"),
        coalesce(sum(when(col("__dup").isNotNull, col("__n"))), lit(0L))
          .as("n_dup"))
    docs.select(col(docCol)).distinct()
      .join(counted, Seq(docCol), "left")
      .select(col(docCol),
        coalesce(col("n_pos"), lit(0L)).as("n_pos"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .withColumn("coverage",
        when(col("n_pos") === 0, lit(0.0))
          .otherwise(col("n_dup").cast("double") / col("n_pos")))
  }

  /** Cross-document duplicate-span REMOVAL — the cleaning step that
    * [[duplicateSpanCoverage]] only measures: cut every `spanLen`-token
    * slot whose text also occurs (as the same aligned slot) in another
    * document, and reassemble what's left. The C4/RefinedWeb-style
    * "exact substring dedup" in its scalable slot-aligned form: a doc
    * quoting another doc's boilerplate keeps its own prose and loses
    * the shared spans.
    *
    * Slots are NON-overlapping (slot i = tokens [i·spanLen,
    * (i+1)·spanLen)), the final short tail is its own slot, and a slot
    * is cut iff its exact text occurs in ≥ 2 DISTINCT documents (both
    * copies go — canonicalization of which copy survives belongs to
    * the keeper policy, not here).
    *
    * Output: (docCol, n_slots, n_dropped, clean_md5) where clean_md5 =
    * md5 of the kept slots re-joined by single spaces in slot order
    * (md5 instead of the full text keeps the contract row skinny; the
    * production variant returns the text column itself).
    *
    * Scale shape: slot assembly is one window cumsum-free pass (slot =
    * pos div spanLen, then a per-(doc, slot) ordered string agg — the
    * shuffle carries the token stream once); the repeated-span table
    * is distinct (doc, span) → span df > 1, tiny relative to the
    * corpus; the cut is the standard inverted-index equi-join back on
    * the span text. Nothing is quadratic; at n ≥ 8-token spans real
    * corpora have near-unique spans and the join is effectively
    * linear.
    */
  /** ARBITRARY-OFFSET exact-substring removal — the true form of the
    * C4/RefinedWeb exact dedup step (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better"), upgrading
    * [[removeDuplicateSpans]]' slot-aligned approximation: a
    * duplicated passage is cut wherever it starts, not only when the
    * two copies happen to share slot alignment.
    *
    * Method (suffix-array semantics, inverted-index machinery): every
    * OVERLAPPING k-gram with its start position; grams occurring in
    * ≥ 2 distinct documents mark duplicated starts; a token is
    * removed iff some duplicated gram covers it (∃ dup start in
    * [pos−k+1, pos] — a per-doc range window, no explode). Any
    * cross-doc duplicated run of length ≥ k has every internal gram
    * duplicated, so exactly the maximal duplicated ranges (plus the
    * standard ≤ k−1 gram-collision fringe) disappear, at any offset.
    *
    * Output: (docCol, n_tokens, n_removed, clean_md5) — clean_md5 =
    * md5 of surviving tokens joined by single spaces in order
    * (md5("") for empty/fully-cut docs).
    *
    * Scale shape: gram df is the inverted-index aggregate (Σ tokens,
    * map-side combined, by-gram shuffle); duplicated starts are a
    * SMALL table (duplicated coverage only) that AQE broadcast-joins
    * back to the token stream, so the corpus-wide token shuffle
    * happens ONCE — the coverage window and the per-doc reassembly
    * share the same hash-by-doc exchange. Nothing is quadratic; the
    * by-gram shuffle is the same Σ df² bound as [[flagContaminated]],
    * near-linear at k ≥ 8 on natural text.
    */
  def removeDuplicateSpansAnyOffset(docs: DataFrame, docCol: String,
      textCol: String, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val toks = docs.select(col(docCol),
      posexplode(Dedup.tokens(col(textCol))).as(Seq("pos", "t")))
    // grams feeds both the df aggregate and the duplicated-starts
    // join, so its scan runs twice: a narrow codegen scan costs less
    // than caching the k-token gram strings, and the pre-aggregate
    // trick from [[duplicateSpanCoverage]] does not apply because the
    // starts join needs per-POSITION rows, not multiplicities.
    val grams = positionalNgrams(docs, docCol, textCol, k)
    val dupg = grams.select(col(docCol), col("g")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > 1)
      .select(col("g"))
    val dupStarts = grams.join(dupg, Seq("g"))
      .select(col(docCol), col("pos"), lit(1).as("__ds"))
    val w = Window.partitionBy(col(docCol)).orderBy(col("pos"))
      .rangeBetween(-(k - 1), 0)
    val counted = toks
      .join(dupStarts, Seq(docCol, "pos"), "left")
      .withColumn("__cov", max(col("__ds")).over(w))
      .groupBy(col(docCol))
      .agg(count(lit(1)).as("n_tokens"),
        count(col("__cov")).as("n_removed"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("__cov").isNull,
            struct(col("pos"), col("t"))))),
          s => s("t")), " ")).as("clean_md5"))
    docs.select(col(docCol)).distinct()
      .join(counted, Seq(docCol), "left")
      .select(col(docCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("clean_md5"), md5(lit(""))).as("clean_md5"))
  }

  def removeDuplicateSpans(docs: DataFrame, docCol: String,
      textCol: String, spanLen: Int): DataFrame = {
    // `spans` (the slot-assembly shuffle) feeds two consumers and is
    // deliberately left LAZY: both branches contain the identical
    // exchange+aggregate subtree, which AQE stage reuse / the
    // ReuseExchange rule dedups at execution — measured 0.37 s at
    // sf0.1 lazy vs 1.25 s with an explicit cache + eager checkpoint
    // (the materialization write costs more than the share saves)
    val spans = docs
      .select(col(docCol),
        posexplode(Dedup.tokens(col(textCol))).as(Seq("pos", "t")))
      .withColumn("slot", expr(s"pos div $spanLen"))
      .groupBy(col(docCol), col("slot"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("t")))),
        s => s("t")), " ").as("span"))
    val repeated = spans.select(col(docCol), col("span")).distinct()
      .groupBy(col("span")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > 1)
      .select(col("span"), lit(1).as("__dup"))
    spans
      .join(repeated, Seq("span"), "left")
      .groupBy(col(docCol))
      .agg(
        count(lit(1)).as("n_slots"),
        count(col("__dup")).as("n_dropped"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("__dup").isNull,
            struct(col("slot"), col("span"))))),
          s => s("span")), " ")).as("clean_md5"))
  }

  /** X98 — n-gram novelty curve: for each n ≤ maxN, the fraction of
    * the holdout slice's DISTINCT n-grams that never occur in the
    * train slice — novelty@n, the generalization-vs-memorization
    * health curve run alongside [[flagContaminated]] (that one asks
    * "does train leak INTO eval"; this asks "how much of eval is
    * genuinely unseen", the quantity train/test splits exist to keep
    * high, and the WebText/GPT-2 style overlap report).
    *
    * Output: (n, n_holdout_grams, n_novel, novelty_rate), one row per
    * n.
    *
    * Scale shape: ONE scan explodes every order's grams of each row
    * (`token_ngrams` per order over the row's tokens), one gram
    * presence agg (map-side combined, two bool flags — no gram set
    * ever materializes per side, no anti-join), one maxN-row final
    * agg. A gram's order is its `Sep` count + 1, read off the
    * distinct-gram table. Linear in token volume.
    */
  def ngramNovelty(docs: DataFrame, docCol: String, textCol: String,
      isHoldout: Column, maxN: Int): DataFrame = {
    require(maxN >= 1 && maxN <= 9, s"need 1 <= maxN <= 9, got $maxN")
    val grams = docs
      .select(isHoldout.as("__hold"),
        split(lower(col(textCol)), "\\s+").as("__w"))
      .select(col("__hold"), explode(concat((1 to maxN).map(n =>
        Dedup.ngrams(col("__w"), n, Dedup.Sep)): _*)).as("__g"))
    grams.groupBy(col("__g"))
      .agg(max(when(col("__hold"), 1).otherwise(0)).as("__inh"),
        max(when(!col("__hold"), 1).otherwise(0)).as("__int"))
      .filter(col("__inh") === 1)
      .groupBy(size(split(col("__g"), Dedup.Sep)).as("n"))
      .agg(count(lit(1)).as("n_holdout_grams"),
        sum(when(col("__int") === 0, 1L).otherwise(0L)).as("n_novel"))
      .select(col("n"), col("n_holdout_grams"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_holdout_grams"), 6)
          .as("novelty_rate"))
  }
}
