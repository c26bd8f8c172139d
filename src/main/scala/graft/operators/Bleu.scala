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
  * Scale shape: n-gram assembly is per-row array math in the scan
  * (transform over a sequence — no explode until the count agg);
  * per-(doc, n, gram) counts are map-side combinable; the clip join
  * keys on (doc, n, gram) so its cost is Σ shared grams, never
  * all-pairs; the final per-doc assembly is one more combinable agg.
  * Corpus BLEU adds a single-row integer-sum aggregate on top.
  */
object Bleu {

  /** Overlapping n-grams WITH multiplicity (unlike [[Dedup.shingles]],
    * which is distinct-only — clipped counts need repeats).
    */
  private def grams(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(toks) - n + 1),
        i => array_join(slice(toks, i, lit(n)), Dedup.Sep)))

  /** All-order (n, g) gram ROWS for both sides of every pair — the
    * shared single-pass feed of [[stats]] and [[selfBleu]]. Gram
    * assembly is the lead-window + codegen concat_ws layout (the
    * interpreted transform/slice/array_join HOF pass costs ~5× in the
    * scan stage: an all-order HOF build pushed q_bleu from 2.6 s to
    * 4.9 s before this form brought it under the r14 time). One
    * posexplode + (maxN−1) leads over one window
    * + one bounded posexplode per row; grams are identical strings
    * to the old per-order `grams` (concat_ws == slice + Sep-join).
    *
    * PRECONDITION (r16, ADVICE r15): `idCol` must be UNIQUE per input
    * row — the gram window partitions on (idCol, sideCol) only, so
    * duplicate ids would merge both rows' token streams with tied
    * __pos values and make the lead() ordering nondeterministic.
    * Every caller ([[stats]]/[[sentenceBleu]]/[[corpusBleu]]/[[chrF]]
    * via the declared queries, [[selfBleu]]'s distinct doc ids) feeds
    * one row per id.
    */
  private[operators] def gramRowsOf(sided: DataFrame, idCol: String,
      sideCol: String, toksCol: String, maxN: Int): DataFrame = {
    val base = sided.select(col(idCol), col(sideCol),
      posexplode(col(toksCol)).as(Seq("__pos", "t0")))
    val w = Window.partitionBy(col(idCol), col(sideCol))
      .orderBy(col("__pos"))
    val withNext = (1 until maxN).foldLeft(base) { (df, i) =>
      df.withColumn(s"t$i", lead(col("t0"), i).over(w))
    }
    // per position: one struct per order whose last token exists;
    // concat_ws never sees an interior null (tokens are non-null),
    // and the isNotNull guard nulls incomplete tails for the filter
    withNext
      .select(col(idCol), col(sideCol),
        explode(array((1 to maxN).map(n =>
          struct(lit(n).as("n"),
            when(col(s"t${n - 1}").isNotNull,
              concat_ws(Dedup.Sep, (0 until n).map(i => col(s"t$i")): _*))
              .as("g"))): _*)).as("__ng"))
      .filter(col("__ng.g").isNotNull)
      .select(col(idCol), col(sideCol),
        col("__ng.n").as("__n"), col("__ng.g").as("__g"))
  }

  /** Per-pair clipped-match counts (one row per id: __m1..__mN) plus
    * the token-length base — shared by the sentence and corpus forms.
    *
    * r15 single-pass layout (guide §2.3/§2.4): both sides' grams of
    * every order assemble in ONE windowed pass ([[gramRowsOf]]) into
    * (id, n, g, side) rows; one map-side-combined groupBy(id, n, g)
    * counts the two sides together (grams present on only one side
    * contribute least(c, 0) = 0, exactly the rows the old per-order
    * inner join dropped); one groupBy(id) pivots the per-order
    * clipped sums. 3 shuffles total vs the r14 2·maxN groupBys +
    * maxN joins + union; every count is the same exact integer.
    */
  private def stats(pairs: DataFrame, idCol: String, refCol: String,
      hypCol: String, maxN: Int): (DataFrame, DataFrame) = {
    require(maxN >= 1 && maxN <= 9, s"need 1 <= maxN <= 9, got $maxN")
    val toks = pairs.select(col(idCol),
      coalesce(Dedup.tokens(col(refCol)), array().cast("array<string>"))
        .as("__r"),
      coalesce(Dedup.tokens(col(hypCol)), array().cast("array<string>"))
        .as("__h"))
    val base = toks.select(col(idCol),
      size(col("__r")).cast("long").as("ref_len"),
      size(col("__h")).cast("long").as("hyp_len"))
    val sided = toks.select(col(idCol), explode(array(
        struct(lit(true).as("hy"), col("__h").as("tk")),
        struct(lit(false).as("hy"), col("__r").as("tk")))).as("__sd"))
      .select(col(idCol), col("__sd.hy").as("__hy"),
        col("__sd.tk").as("__tk"))
    val cnt = gramRowsOf(sided, idCol, "__hy", "__tk", maxN)
      .groupBy(col(idCol), col("__n"), col("__g"))
      .agg(count(when(col("__hy"), 1)).as("__ch"),
        count(when(!col("__hy"), 1)).as("__cr"))
    val mCols = (1 to maxN).map(n =>
      coalesce(sum(when(col("__n") === n,
        least(col("__ch"), col("__cr")))), lit(0L)).as(s"__m$n"))
    val matches = cnt.groupBy(col(idCol)).agg(mCols.head, mCols.tail: _*)
    (base, matches)
  }

  /** Per-pair sentence BLEU: (idCol, ref_len, hyp_len, p_1..p_maxN,
    * bp, bleu), all doubles rounded to 6 dp.
    */
  def sentenceBleu(pairs: DataFrame, idCol: String, refCol: String,
      hypCol: String, maxN: Int = 4): DataFrame = {
    val (base, matches) = stats(pairs, idCol, refCol, hypCol, maxN)
    val joined = base.join(matches, Seq(idCol), "left")
    assemble(joined, Seq(col(idCol), col("ref_len"), col("hyp_len")),
      col("ref_len"), col("hyp_len"), maxN)
  }

  /** Corpus BLEU: clip counts and lengths sum over all pairs BEFORE
    * the precision ratios (the standard corpus form — not a mean of
    * sentence scores). One row: (n_pairs, ref_len, hyp_len,
    * p_1..p_maxN, bp, bleu).
    */
  def corpusBleu(pairs: DataFrame, idCol: String, refCol: String,
      hypCol: String, maxN: Int = 4): DataFrame = {
    val (base, matches) = stats(pairs, idCol, refCol, hypCol, maxN)
    val mTot = (1 to maxN).map(n =>
      coalesce(sum(col(s"__m$n")), lit(0L)).as(s"__m$n"))
    val totals = base.agg(count(lit(1)).as("n_pairs"),
      sum(col("ref_len")).as("ref_len"), sum(col("hyp_len")).as("hyp_len"))
    // per-n hyp totals need Σ max(hyp_len − n + 1, 0) per doc, so the
    // corpus totals aggregate the per-doc greatest() BEFORE summing
    val totN = (1 to maxN).map(n =>
      sum(greatest(col("hyp_len") - (n - 1), lit(0L))).as(s"__t$n"))
    val totals2 = base.agg(totN.head, totN.tail: _*)
    val joined = totals
      .crossJoin(totals2)
      .crossJoin(matches.agg(mTot.head, mTot.tail: _*))
    assembleWithTotals(joined,
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
    * CLOSED FORM max(len−n+1, 0) — only the overlap needs the gram
    * join); ratios/F evaluate the same fixed-shape expression on
    * identical doubles; round(6) absorbs the 6-term mean's ulp drift.
    *
    * Scale shape: the [[sentenceBleu]] layout on characters — gram
    * assembly is per-row array math in the scan, per-(doc, n, gram)
    * counts map-side combine, the clip join keys on (doc, n, gram),
    * and the n-spine is a bounded explode. Linear in corpus chars.
    *
    * PRECONDITION (r16, ADVICE r15): `idCol` unique per input row —
    * gram assembly shares [[gramRowsOf]]'s (idCol, sideCol) window
    * (see its contract), and the final per-row projection + left
    * join emits one row per INPUT row, which for duplicate ids would
    * differ from the old groupBy(id) cardinality. All declared
    * callers pass unique doc ids.
    */
  def chrF(pairs: DataFrame, idCol: String, refCol: String,
      hypCol: String, maxN: Int = 6, beta: Double = 2.0): DataFrame = {
    require(maxN >= 1 && maxN <= 9, s"need 1 <= maxN <= 9, got $maxN")
    def strip(c: Column): Column =
      regexp_replace(lower(coalesce(c, lit(""))), "\\s+", "")
    val stripped = pairs.select(col(idCol), strip(col(refCol)).as("__r"),
      strip(col(hypCol)).as("__h"))
    // r15 single-pass layout (guide §2.3/§2.4): both sides of every
    // order assemble in ONE windowed character pass — the
    // [[gramRowsOf]] lead-window + codegen concat layout on
    // characters (two slower variants measured first: chained
    // generators re-materialized the FULL document string per gram
    // row, 16 s; a per-row interpreted-HOF struct array per gram,
    // 30 s; this form runs entirely in whole-stage codegen). One
    // groupBy(id, n, g) counts the two sides together (one-sided
    // grams contribute least(c, 0) = 0, the rows the old inner join
    // dropped), one groupBy(id) pivots per-order overlaps, and the
    // per-order F/effective-order mean becomes a fixed-shape per-row
    // projection over the closed-form totals. Every count is the
    // same exact integer (char concat == the old cgrams substr);
    // P/R/F evaluate the identical expression shapes.
    val sides = stripped.select(col(idCol), explode(array(
        struct(lit(true).as("hy"), col("__h").as("s")),
        struct(lit(false).as("hy"), col("__r").as("s")))).as("__sd"))
      // split("", "") yields [""], which would fabricate a 1-gram of
      // the empty string — an empty side has NO grams (old cgrams
      // guard), so drop it before the char explode
      .filter(length(col("__sd.s")) > 0)
      .select(col(idCol), col("__sd.hy").as("__hy"),
        posexplode(split(col("__sd.s"), "")).as(Seq("__pos", "t0")))
    val w = Window.partitionBy(col(idCol), col("__hy"))
      .orderBy(col("__pos"))
    val withNext = (1 until maxN).foldLeft(sides) { (df, i) =>
      df.withColumn(s"t$i", lead(col("t0"), i).over(w))
    }
    // concat is null iff any char is null (an incomplete tail), so
    // the isNotNull filter keeps exactly the complete grams
    val gramRows = withNext
      .select(col(idCol), col("__hy"),
        explode(array((1 to maxN).map(n =>
          struct(lit(n).as("n"),
            concat((0 until n).map(i => col(s"t$i")): _*).as("g"))): _*))
          .as("__ng"))
      .filter(col("__ng.g").isNotNull)
      .select(col(idCol), col("__hy"),
        col("__ng.n").as("__n"), col("__ng.g").as("__g"))
    val cnt = gramRows.groupBy(col(idCol), col("__n"), col("__g"))
      .agg(count(when(col("__hy"), 1)).as("__ch"),
        count(when(!col("__hy"), 1)).as("__cr"))
    val mCols = (1 to maxN).map(n =>
      coalesce(sum(when(col("__n") === n,
        least(col("__ch"), col("__cr")))), lit(0L)).as(s"__m$n"))
    val matches = cnt.groupBy(col(idCol)).agg(mCols.head, mCols.tail: _*)
    val joined = stripped.select(col(idCol),
        length(col("__r")).cast("long").as("ref_chars"),
        length(col("__h")).cast("long").as("hyp_chars"))
      .join(matches, Seq(idCol), "left")
    val b2 = beta * beta
    def fOf(n: Int): Column = {
      val m = coalesce(col(s"__m$n"), lit(0L))
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
    joined.select(col(idCol), col("ref_chars"), col("hyp_chars"),
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
    * Scale shape: gram top-2 is one window over the (n, gram) count
    * table (per-gram partitions — parallel, vocabulary-bounded); the
    * clip join keys on (n, gram); closest-length is a lag/lead pass
    * over the DISTINCT-length table (bounded by max doc length — a
    * doc sharing its length with another doc is its own closest
    * match, so only unique lengths need neighbors) broadcast back to
    * the doc table. No stage is wider than the gram tables.
    */
  def selfBleu(docs: DataFrame, idCol: String, textCol: String,
      maxN: Int = 4): DataFrame = {
    require(maxN >= 1 && maxN <= 9, s"need 1 <= maxN <= 9, got $maxN")
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
    // (r15: measured — the all-order windowed pass regressed this
    // one ~35% at maxN=2: two small per-order subtrees beat one
    // window shuffle here, so the per-order fan stays)
    val gramCnt = (1 to maxN).map { n =>
      toks.select(col(idCol), explode(grams(col("__w"), n)).as("__g"))
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
    val matches = gramCnt.join(top2, Seq("__n", "__g"))
      .withColumn("__other",
        when(col("__d1") =!= col(idCol), col("__c1"))
          .otherwise(coalesce(col("__c2"), lit(0L))))
      .groupBy(col(idCol), col("__n"))
      .agg(sum(least(col("__c"), col("__other"))).as("__m"))
    val mCols = (1 to maxN).map(n =>
      coalesce(sum(when(col("__n") === n, col("__m"))), lit(0L))
        .as(s"__m$n"))
    val joined = closest.join(
      matches.groupBy(col(idCol)).agg(mCols.head, mCols.tail: _*),
      Seq(idCol), "left")
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
