package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** X86 — BLEU (Papineni et al. 2002): modified n-gram precision with
  * brevity penalty, the n-gram-overlap eval twin of [[Wer]]'s
  * edit-distance metric (reference anchor: the summary-quality checks
  * around claude_research_optimal.py:684 compare transcripts to book
  * text; BLEU is the standard corpus-level form of that comparison).
  *
  * Semantics (uncontroversial textbook form):
  *   p_n  = Σ_g min(cnt_hyp(g), cnt_ref(g)) / (len_hyp − n + 1)
  *   BP   = 1 if len_hyp ≥ len_ref else exp(1 − len_ref/len_hyp)
  *   BLEU = BP · exp(Σ_{n≤N} ln p_n / N), 0 if any p_n = 0 (unsmoothed)
  *
  * Exactness contract: every count is an exact 64-bit integer, every
  * p_n an exact integer ratio; ln/exp evaluate the same fixed-shape
  * expression on identical doubles in both engines, and outputs round
  * to 6 dp (the established ulp-absorption convention).
  *
  * Scale shape: one scan. Each pair's clipped count of order n is
  * `multiset_overlap(token_ngrams(hyp, n), token_ngrams(ref, n))`,
  * the row-local kernels of `graft.plans.TokenMath`, so no gram
  * leaves its row and rows that share an id each score as
  * themselves. Corpus BLEU adds one single-row integer-sum aggregate.
  */
object Bleu {

  /** Σ_g min(cnt_h(g), cnt_r(g)) over the order-n grams of two token
    * arrays, as one bigint per row.
    */
  private def clipped(h: Column, r: Column, n: Int, sep: String): Column =
    call_function("multiset_overlap", Dedup.ngrams(h, n, sep),
      Dedup.ngrams(r, n, sep))

  private def requireOrder(maxN: Int): Unit =
    require(maxN >= 1 && maxN <= 9, s"need 1 <= maxN <= 9, got $maxN")

  /** One row per pair: (idCol, ref_len, hyp_len, __m1..__mN), where
    * __mn is the pair's clipped match count of order n.
    */
  private def stats(pairs: DataFrame, idCol: String, refCol: String,
      hypCol: String, maxN: Int): DataFrame = {
    requireOrder(maxN)
    val none = array().cast("array<string>")
    pairs.select(col(idCol),
        coalesce(Dedup.tokens(col(refCol)), none).as("__r"),
        coalesce(Dedup.tokens(col(hypCol)), none).as("__h"))
      .select(Seq(col(idCol),
        size(col("__r")).cast("long").as("ref_len"),
        size(col("__h")).cast("long").as("hyp_len")) ++
        (1 to maxN).map(n =>
          clipped(col("__h"), col("__r"), n, Dedup.Sep).as(s"__m$n")): _*)
  }

  /** Per-pair sentence BLEU: (idCol, ref_len, hyp_len, p_1..p_maxN,
    * bp, bleu), all doubles rounded to 6 dp, one row per input row.
    */
  def sentenceBleu(pairs: DataFrame, idCol: String, refCol: String,
      hypCol: String, maxN: Int = 4): DataFrame =
    assemble(stats(pairs, idCol, refCol, hypCol, maxN),
      Seq(col(idCol), col("ref_len"), col("hyp_len")),
      col("ref_len"), col("hyp_len"), maxN)

  /** Corpus BLEU: clip counts and lengths sum over all pairs BEFORE
    * the precision ratios (the standard corpus form — not a mean of
    * sentence scores). One row: (n_pairs, ref_len, hyp_len,
    * p_1..p_maxN, bp, bleu).
    */
  def corpusBleu(pairs: DataFrame, idCol: String, refCol: String,
      hypCol: String, maxN: Int = 4): DataFrame = {
    // per-n hyp totals need Σ max(hyp_len − n + 1, 0) per pair, so the
    // per-pair greatest() runs BEFORE the sum
    val totals = Seq(count(lit(1)).as("n_pairs"),
        sum(col("ref_len")).as("ref_len"),
        sum(col("hyp_len")).as("hyp_len")) ++
      (1 to maxN).map(n =>
        sum(greatest(col("hyp_len") - (n - 1), lit(0L))).as(s"__t$n")) ++
      (1 to maxN).map(n =>
        coalesce(sum(col(s"__m$n")), lit(0L)).as(s"__m$n"))
    assembleWithTotals(
      stats(pairs, idCol, refCol, hypCol, maxN)
        .agg(totals.head, totals.tail: _*),
      Seq(col("n_pairs"), col("ref_len"), col("hyp_len")),
      col("ref_len"), col("hyp_len"), maxN,
      n => col(s"__t$n"))
  }

  /** X117 — chrF (Popović 2015): character n-gram F-score, the
    * tokenization-free eval metric next to BLEU/ROUGE-L/WER — robust
    * to morphology and tokenizer mismatches because it never
    * word-segments (the WMT-standard chrF2: β = 2, n = 1..6,
    * whitespace stripped). Per pair: clipped char n-gram overlap per
    * order, P = m/(len_h−n+1), R = m/(len_r−n+1),
    * F_β = (1+β²)PR/(β²P+R), chrF = mean over orders.
    *
    * Exactness: counts and totals are exact integers (totals are the
    * CLOSED FORM max(len−n+1, 0); only the overlap needs the grams);
    * ratios/F evaluate the same fixed-shape expression on identical
    * doubles; round(6) absorbs the 6-term mean's ulp drift.
    *
    * Scale shape: the [[sentenceBleu]] scan on characters — the
    * overlap of order n is the same row-local clipped count over
    * `split(text, '')` with an empty separator, so one row in is one
    * row out and nothing shuffles. An empty side splits to `[""]`,
    * whose empty element `token_ngrams` skips: it has no grams.
    */
  def chrF(pairs: DataFrame, idCol: String, refCol: String,
      hypCol: String, maxN: Int = 6, beta: Double = 2.0): DataFrame = {
    requireOrder(maxN)
    def strip(c: Column): Column =
      regexp_replace(lower(coalesce(c, lit(""))), "\\s+", "")
    val counted = pairs.select(col(idCol), strip(col(refCol)).as("__r"),
        strip(col(hypCol)).as("__h"))
      .select(Seq(col(idCol),
        length(col("__r")).cast("long").as("ref_chars"),
        length(col("__h")).cast("long").as("hyp_chars")) ++
        (1 to maxN).map(n => clipped(split(col("__h"), ""),
          split(col("__r"), ""), n, "").as(s"__m$n")): _*)
    val b2 = beta * beta
    def fOf(n: Int): Column = {
      val m = col(s"__m$n")
      val th = greatest(col("hyp_chars") - (n - 1), lit(0L))
      val tr = greatest(col("ref_chars") - (n - 1), lit(0L))
      val p = when(th > 0, m.cast("double") / th).otherwise(lit(0.0))
      val r = when(tr > 0, m.cast("double") / tr).otherwise(lit(0.0))
      when(p + r > lit(0.0),
        lit(1.0 + b2) * p * r / (lit(b2) * p + r)).otherwise(lit(0.0))
    }
    // sacrebleu's effective-order rule: F averages only over orders
    // where the hypothesis OR reference has at least one gram (an
    // identical pair shorter than maxN chars scores 1.0, not
    // len/maxN); both sides empty at every order → 0.
    val sf = (1 to maxN).map(fOf).reduce(_ + _)
    val eff = (1 to maxN).map(n =>
      when(greatest(col("hyp_chars") - (n - 1), lit(0L)) > 0 ||
        greatest(col("ref_chars") - (n - 1), lit(0L)) > 0, 1L)
        .otherwise(0L)).reduce(_ + _)
    counted.select(col(idCol), col("ref_chars"), col("hyp_chars"),
      round(sf / greatest(eff, lit(1L)), 6).as("chrf"))
  }

  /** X88 — Self-BLEU (Zhu et al. 2018, Texygen): each doc scored as
    * the hypothesis against ALL OTHER docs as references — the
    * standard corpus-diversity diagnostic (high Self-BLEU = the
    * corpus repeats itself; generation pipelines track it next to
    * quality). Multi-reference clipping per gram needs only
    * max_{r≠self} cnt_r(g), computed from a per-gram TOP-2 (count,
    * witness) table — the [[Contamination.memorizationScan]] witness
    * trick lifted from presence to counts, so no doc ever joins the
    * full reference list. Brevity penalty uses the NLTK
    * closest-ref-length rule: the OTHER doc length nearest hyp_len,
    * ties to the shorter.
    *
    * Ids: an id is one document. Rows that share an id pool their
    * grams into one (id, gram) count and are clipped only against
    * other ids; each such row reports that pooled match count over its
    * own hyp_len. Rows `(1,"a b")`, `(1,"a b c d")`, `(2,"x y")` at
    * maxN = 1 all score p_1 = 0 (renumbered 1, 2, 3 they score 1.0,
    * 0.5, 0.0). The closest length is taken over rows, so a row of the
    * same id can supply it. Give each row its own id to score rows
    * apart.
    *
    * Scale shape: each doc's order-n grams come from the row-local
    * `token_ngrams` kernel and count per (doc, gram); gram top-2 is one
    * window over that (n, gram) count table (per-gram partitions —
    * parallel, vocabulary-bounded); the clip join keys on (n, gram)
    * and one groupBy(doc) sums every order's clipped counts at once;
    * closest-length is a lag/lead pass over the DISTINCT-length table
    * (bounded by max doc length — a doc sharing its length with
    * another doc is its own closest match, so only unique lengths need
    * neighbors) broadcast back to the doc table. No stage is wider
    * than the gram tables.
    */
  def selfBleu(docs: DataFrame, idCol: String, textCol: String,
      maxN: Int = 4): DataFrame = {
    requireOrder(maxN)
    val toks = docs.select(col(idCol),
      coalesce(Dedup.tokens(col(textCol)), array().cast("array<string>"))
        .as("__w"))
    val lens = toks.select(col(idCol), size(col("__w")).cast("long").as("hyp_len"))
    // closest OTHER length, ties to the smaller (NLTK rule) — WITHOUT
    // a global window over the doc table: a doc sharing its length
    // with any other doc has ref_len = hyp_len (distance 0), so only
    // UNIQUE lengths need neighbors, and those come from lag/lead
    // over the DISTINCT-length table — bounded by max doc length
    // (thousands of rows at any corpus size, the same bounded-window
    // class as UniMax's |sources| pass), then broadcast back.
    val lenCnt = lens.groupBy(col("hyp_len"))
      .agg(count(lit(1)).as("__c"))
    val lw = Window.orderBy(col("hyp_len"))
    val lenInfo = lenCnt
      .withColumn("__prev", lag(col("hyp_len"), 1).over(lw))
      .withColumn("__next", lead(col("hyp_len"), 1).over(lw))
      .withColumn("ref_len",
        when(col("__c") >= 2, col("hyp_len"))
          .when(col("__prev").isNull, col("__next"))
          .when(col("__next").isNull, col("__prev"))
          .when(abs(col("__prev") - col("hyp_len")) <=
            abs(col("__next") - col("hyp_len")), col("__prev"))
          .otherwise(col("__next")))
      .select(col("hyp_len"), col("ref_len"))
    val closest = lens.join(broadcast(lenInfo), Seq("hyp_len"))
      .select(col(idCol), col("hyp_len"), col("ref_len"))
    // one (doc, gram) count subtree per order, tagged with its order
    val gramCnt = (1 to maxN).map { n =>
      toks.select(col(idCol),
          explode(Dedup.ngrams(col("__w"), n, Dedup.Sep)).as("__g"))
        .groupBy(col(idCol), col("__g")).agg(count(lit(1)).as("__c"))
        .select(col(idCol), lit(n).as("__n"), col("__g"), col("__c"))
    }.reduce(_ union _)
    val tw = Window.partitionBy(col("__n"), col("__g"))
      .orderBy(col("__c").desc, col(idCol))
    val top2 = gramCnt.withColumn("__rk", row_number().over(tw))
      .filter(col("__rk") <= 2)
      .groupBy(col("__n"), col("__g"))
      .agg(max(when(col("__rk") === 1, col("__c"))).as("__c1"),
        max(when(col("__rk") === 1, col(idCol))).as("__d1"),
        max(when(col("__rk") === 2, col("__c"))).as("__c2"))
    val clip = least(col("__c"),
      when(col("__d1") =!= col(idCol), col("__c1"))
        .otherwise(coalesce(col("__c2"), lit(0L))))
    val mCols = (1 to maxN).map(n =>
      coalesce(sum(when(col("__n") === n, clip)), lit(0L)).as(s"__m$n"))
    val matches = gramCnt.join(top2, Seq("__n", "__g"))
      .groupBy(col(idCol)).agg(mCols.head, mCols.tail: _*)
    val joined = closest.join(matches, Seq(idCol), "left")
    // a 1-doc corpus has no other reference: ref_len stays NULL, bp
    // evaluates NULL through the same CASE shape in both engines, and
    // self_bleu is 0.0 via allPos=false (p_n = 0 with no other doc)
    assemble(joined, Seq(col(idCol), col("hyp_len"), col("ref_len")),
      col("ref_len"), col("hyp_len"), maxN)
      .withColumnRenamed("bleu", "self_bleu")
  }

  private def assemble(df: DataFrame, keep: Seq[Column],
      refLen: Column, hypLen: Column, maxN: Int): DataFrame =
    assembleWithTotals(df, keep, refLen, hypLen, maxN,
      n => greatest(hypLen - (n - 1), lit(0L)))

  private def assembleWithTotals(df: DataFrame, keep: Seq[Column],
      refLen: Column, hypLen: Column, maxN: Int,
      totalOf: Int => Column): DataFrame = {
    def p(n: Int): Column =
      when(totalOf(n) > 0,
        coalesce(col(s"__m$n"), lit(0L)).cast("double") / totalOf(n))
        .otherwise(lit(0.0))
    val bp = when(hypLen >= refLen, lit(1.0))
      .when(hypLen === 0, lit(0.0))
      .otherwise(exp(lit(1.0) - refLen.cast("double") / hypLen))
    val allPos = (1 to maxN).map(n => p(n) > 0).reduce(_ && _)
    val logSum = (1 to maxN).map(n => log(p(n))).reduce(_ + _)
    val bleu = when(allPos, bp * exp(logSum / maxN)).otherwise(lit(0.0))
    df.select(keep ++
      (1 to maxN).map(n => round(p(n), 6).as(s"p_$n")) ++
      Seq(round(bp, 6).as("bp"), round(bleu, 6).as("bleu")): _*)
  }
}
