package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkHarness

/** Inverted-index operator semantics on literal corpora: n-gram
  * counting, tf-idf values against plain-Scala math, cosine pairs
  * against a dense brute-force computation, distinctive-term ranking.
  */
class InvertedIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkHarness.spark

  private def corpus = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the hat"),
      (3L, "dogs bark loudly at night"),
      (4L, "the cat sat on the mat again and again"))
      .toDF("doc_id", "text")
  }

  /** Reference n-grams as an array HOF over the token array, built
    * independently of the `token_ngrams` kernel.
    */
  private def hofNgrams(toks: Column, n: Int): Column = {
    val sz = size(toks)
    when(sz < n, array().cast("array<string>")).otherwise(
      transform(sequence(lit(0), sz - n),
        i => array_join(slice(toks, i + 1, lit(n)), " ")))
  }

  test("ngrams: counts, multiplicity, short-doc edge") {
    val s = spark
    import s.implicits._
    val got = Seq("a b a b", "a", "").toDF("text")
      .select(Dedup.ngrams(Dedup.tokens($"text"), 2, " ").as("g"))
      .collect().map(_.getSeq[String](0))
    assert(got(0) == Seq("a b", "b a", "a b")) // non-distinct
    assert(got(1).isEmpty && got(2).isEmpty)
  }

  test("termCounts window form == ngrams HOF form (n=2,3)") {
    val s = spark
    import s.implicits._
    for (n <- Seq(2, 3)) {
      val fast = InvertedIndex.termCounts(corpus, "doc_id", "text", n)
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
        .toMap
      val ref = corpus
        .select($"doc_id",
          explode(hofNgrams(Dedup.tokens($"text"), n)).as("term"))
        .groupBy($"doc_id", $"term").count()
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(fast == ref, s"n=$n mismatch")
    }
  }

  test("termCounts: tf multiplicity per doc") {
    val tc = InvertedIndex.termCounts(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(tc((1L, "the")) == 2L)
    assert(tc((1L, "cat")) == 1L)
    assert(tc((4L, "again")) == 2L)
  }

  test("tfidf matches plain-Scala smoothed weighting") {
    val tc = InvertedIndex.termCounts(corpus, "doc_id", "text")
    val got = InvertedIndex.tfidf(tc, "doc_id", nDocs = 4L)
      .filter(col("doc_id") === 1L)
      .collect().map(r => r.getString(1) -> r.getDouble(4)).toMap
    // 'the' appears in docs 1,2,4 → df=3; tf=2 in doc 1
    assert(math.abs(got("the") - 2.0 * math.log(5.0 / 4.0)) < 1e-12)
    // 'mat' in docs 1,4 → df=2
    assert(math.abs(got("mat") - 1.0 * math.log(5.0 / 3.0)) < 1e-12)
  }

  test("tfCosinePairs equals dense brute force (no cap binding)") {
    val tc = InvertedIndex.termCounts(corpus, "doc_id", "text")
    val got = InvertedIndex.tfCosinePairs(tc, "doc_id",
        threshold = 0.0, dfCap = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    // dense reference in plain Scala
    val docs = corpus.collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.split("\\s+").filter(_.nonEmpty)
          .groupBy(identity).map { case (t, a) => t -> a.length.toLong })
      .toMap
    def cos(a: Map[String, Long], b: Map[String, Long]): Double = {
      // iterator, not Set.map — a Set of products would collapse
      // duplicate values before summing
      val dot = a.keys.iterator.filter(b.contains).map(t => a(t) * b(t)).sum
      dot / (math.sqrt(a.values.map(x => x * x).sum.toDouble) *
        math.sqrt(b.values.map(x => x * x).sum.toDouble))
    }
    for {
      i <- docs.keys; j <- docs.keys if i < j
      expect = cos(docs(i), docs(j)) if expect > 0
    } assert(math.abs(got((i, j)) - expect) < 1e-12,
      s"pair ($i,$j): got ${got.get((i, j))}, want $expect")
    // threshold filters: everything with cos 0 is absent
    assert(!got.contains((3L, 4L)) || got((3L, 4L)) > 0)
  }

  test("dfCap prunes ubiquitous terms from the index") {
    val tc = InvertedIndex.termCounts(corpus, "doc_id", "text")
    // cap 2 drops 'the'/'cat'/'sat'/'on' (df=3) — docs 1,2 still meet
    // through 'mat'-free overlap? they only share capped terms → the
    // pair must disappear entirely
    val got = InvertedIndex.tfCosinePairs(tc, "doc_id",
        threshold = 0.01, dfCap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!got.contains((1L, 2L)),
      "pair meeting only through df>cap terms must vanish")
    // docs 1,4 share 'mat' (df=2 ≤ cap) → pair survives
    assert(got.contains((1L, 4L)))
  }

  test("searchSimilar: nearest doc is the near-identical twin") {
    val tc = InvertedIndex.termCounts(corpus, "doc_id", "text")
    val got = InvertedIndex.searchSimilar(tc, "doc_id", probeId = 1L,
        k = 3, dfCap = 1000)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // doc 2 ("...the hat") is closest to doc 1 ("...the mat"); doc 3
    // (disjoint vocabulary) must be absent
    assert(got.head._1 == 2L, got.mkString(","))
    assert(!got.map(_._1).contains(3L))
    assert(got.head._2 > got.last._2 || got.length == 1)
  }

  test("searchSimilarMany: per-probe results == single-probe searches") {
    val s = spark
    import s.implicits._
    val tc = InvertedIndex.termCounts(corpus, "doc_id", "text")
    val many = InvertedIndex.searchSimilarMany(tc, "doc_id",
        probeIds = Seq(1L, 3L), k = 3, dfCap = 1000)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        math.rint(r.getDouble(3) * 1e9)))
      .toSet
    val singles = Seq(1L, 3L).flatMap { p =>
      InvertedIndex.searchSimilar(tc, "doc_id", probeId = p,
          k = 3, dfCap = 1000)
        .collect().zipWithIndex
        .map { case (r, i) =>
          (p, r.getLong(0), i + 1, math.rint(r.getDouble(1) * 1e9)) }
    }.toSet
    assert(many == singles, s"many=$many singles=$singles")
  }

  test("distinctiveTerms: integer score ranking with term tie-break") {
    val tc = InvertedIndex.termCounts(corpus, "doc_id", "text")
    val got = InvertedIndex.distinctiveTerms(tc, "doc_id", k = 2)
      .filter(col("doc_id") === 3L)
      .collect().map(r => (r.getString(1), r.getLong(4), r.getInt(5)))
    // doc 3's terms are all df=1, tf=1 → score ties at 1e6; ranking
    // falls back to lexicographic term order
    assert(got.map(_._1).toSeq == Seq("at", "bark"))
    assert(got.forall(_._2 == 1000000L))
  }

  test("tokenTypicality: exact hand-computed mass and mean") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    // global counts: a=3, b=1, c=1
    val got = InvertedIndex.tokenTypicality(
        InvertedIndex.termCounts(docs, "doc_id", "text"), "doc_id")
      .orderBy($"doc_id")
      .select($"doc_id", $"n_tokens", $"mass", $"typicality")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // doc1: 2·3 (a) + 1·1 (b) = 7 over 3; doc2: 3 + 1 = 4 over 2
    assert(got == Seq((1L, 3L, 7L, math.rint(7.0 / 3 * 1e6) / 1e6),
      (2L, 2L, 4L, 2.0)))
  }

  test("unigramNll: hand-computed smoothed logprob; rare docs score high") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a a a a"), (2L, "z q")).toDF("doc_id", "text")
    // counts: a=4, z=1, q=1 → N=6, V=3; p(a)=5/9, p(z)=p(q)=2/9
    val got = InvertedIndex.unigramNll(
        InvertedIndex.termCounts(docs, "doc_id", "text"), "doc_id")
      .orderBy($"doc_id")
      .select($"doc_id", $"n_tokens", $"nll")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(1L, 2L))
    assert(math.abs(got(0)._3 - (-math.log(5.0 / 9))) < 1e-12)
    assert(math.abs(got(1)._3 - (-math.log(2.0 / 9))) < 1e-12)
    assert(got(1)._3 > got(0)._3) // rare vocabulary scores higher NLL
  }

  test("bm25Rank: hand-computed scores, term coverage beats repetition") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "x y"),      // probe
      (1L, "x x z"),    // one probe term, repeated
      (2L, "z z z"),    // no probe terms → absent
      (3L, "x y y")     // both probe terms
    ).toDF("doc_id", "text")
    val tc = InvertedIndex.termCounts(docs, "doc_id", "text")
    val got = InvertedIndex.bm25Rank(tc, "doc_id", probeId = 0L, k = 10)
      .select($"doc_id", $"score").as[(Long, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(3L, 1L)) // doc 2 shares no terms
    assert(got.forall(_._2 > 0))
    // hand BM25: N=4, dl=(2,3,3,3), avgdl=11/4; df(x)=3, df(y)=2
    def idf(df: Int) = math.log(1 + (4 - df + 0.5) / (df + 0.5))
    def tfn(tf: Int, dl: Int) =
      tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl * 4.0 / 11.0))
    val d3 = idf(3) * tfn(1, 3) + idf(2) * tfn(2, 3)
    val d1 = idf(3) * tfn(2, 3)
    // result is 6-dp rounded → within 5e-7 of the exact value
    assert(math.abs(got(0)._2 - d3) < 1e-6)
    assert(math.abs(got(1)._2 - d1) < 1e-6)
  }

  test("nextTokenStats: counts never cross docs, ties break on token") {
    val s = spark
    import s.implicits._
    // doc 1 pairs: (a,b),(b,a),(a,b),(b,c); doc 2: (a,b),(b,x) — and
    // NO (c,a) pair across the doc boundary
    val docs = Seq((1L, "a b a b c"), (2L, "a b x")).toDF("doc_id", "text")
    val got = InvertedIndex.nextTokenStats(docs, "doc_id", "text", k = 2)
      .orderBy($"prev", $"rk")
      .select($"prev", $"next", $"cnt", $"total", $"p", $"rk")
      .as[(String, String, Long, Long, Double, Int)].collect().toSeq
    assert(got == Seq(
      ("a", "b", 3L, 3L, 1.0, 1),
      ("b", "a", 1L, 3L, 0.333333, 1),
      ("b", "c", 1L, 3L, 0.333333, 2))) // x cut at k=2 by the next tie
  }

  test("bm25Rank: dfCap skips ubiquitous probe terms") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "x y"), (1L, "x q"), (2L, "x w"), (3L, "y v")
    ).toDF("doc_id", "text")
    val tc = InvertedIndex.termCounts(docs, "doc_id", "text")
    // x has df=3 > cap=2 → only y survives as a probe term → doc 3 only
    val got = InvertedIndex.bm25Rank(tc, "doc_id", 0L, k = 10, dfCap = 2)
      .select($"doc_id").as[Long].collect().toSeq
    assert(got == Seq(3L))
  }

  test("docPerplexity: hand-computed bigram LM, short docs excluded") {
    val s = spark
    import s.implicits._
    // corpus bigrams: (a,b)x2 from docs 1,2; (b,a)x1 from doc 1;
    // totals: a->2, b->1. doc 1 = a b a: nll = -log2(2/2) + ... wait
    // p(b|a)=2/2=1 -> 0 bits; p(a|b)=1/1=1 -> 0 bits. Make it
    // non-trivial: add (a,c).
    val docs = Seq(
      (1L, "a b a"), // bigrams (a,b), (b,a)
      (2L, "a b"),   // (a,b)
      (3L, "a c"),   // (a,c)
      (4L, "solo"),  // 1 token -> excluded
      (5L, "")       // 0 tokens -> excluded
    ).toDF("doc_id", "text")
    // counts: (a,b)=2, (b,a)=1, (a,c)=1; totals: a=3, b=1
    // p(b|a)=2/3, p(a|b)=1, p(c|a)=1/3
    val r = InvertedIndex.docPerplexity(docs, "doc_id", "text")
      .orderBy($"doc_id")
      .as[(Long, Long, Double, Double)].collect().toSeq
    val nllAB = -math.log(2.0 / 3.0) / math.log(2.0)
    val nllAC = -math.log(1.0 / 3.0) / math.log(2.0)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(r.map(_._1) == Seq(1L, 2L, 3L))
    assert(r(0) == ((1L, 2L, r6(nllAB / 2), r6(math.pow(2, nllAB / 2)))))
    assert(r(1) == ((2L, 1L, r6(nllAB), r6(math.pow(2, nllAB)))))
    assert(r(2) == ((3L, 1L, r6(nllAC), r6(math.pow(2, nllAC)))))
    // a doc repeating the corpus's most typical bigram scores lower
    // ppl than one made of rare bigrams
    assert(r(1)._4 < r(2)._4)
  }

  test("knPerplexity: hand-computed interpolated Kneser-Ney values") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a b a b"), // bigrams (a,b)x2... wait: (a,b),(b,a),(a,b)
      (2L, "a c")      // (a,c)
    ).toDF("doc_id", "text")
    // counts: (a,b)=2, (b,a)=1, (a,c)=1
    // ctx(a)=3 n1fw(a)=2; ctx(b)=1 n1fw(b)=1
    // n1bw: b=1, a=1, c=1; btypes=3; D=0.75
    // P(b|a) = 1.25/3 + (0.75*2/3)*(1/3) = 0.41666.. + 0.16666..
    // P(a|b) = 0.25/1 + (0.75*1/1)*(1/3) = 0.5
    // P(c|a) = 0.25/3 + (0.75*2/3)*(1/3) = 0.25
    val pBA = 1.25 / 3 + (0.75 * 2 / 3) * (1.0 / 3)
    val pAB = 0.5
    val pCA = 0.25
    def nll(p: Double) = -math.log(p) / math.log(2.0)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    val r = InvertedIndex.knPerplexity(docs, "doc_id", "text")
      .orderBy($"doc_id")
      .as[(Long, Long, Double, Double)].collect().toSeq
    val m1 = (2 * nll(pBA) + nll(pAB)) / 3
    assert(r(0)._1 == 1L && r(0)._2 == 3L)
    assert(math.abs(r(0)._3 - r6(m1)) < 2e-6)
    assert(math.abs(r(0)._4 - r6(math.pow(2, m1))) < 2e-6)
    assert(r(1) == ((2L, 1L, r6(nll(pCA)), r6(math.pow(2, nll(pCA)))))) // = 2 bits, ppl 4
    // smoothing redistributes mass: every KN probability sits strictly
    // below the MLE one, so KN perplexity is strictly higher
    val mle = InvertedIndex.docPerplexity(docs, "doc_id", "text")
      .orderBy($"doc_id").select($"ppl").as[Double].collect()
    assert(r(0)._4 > mle(0) && r(1)._4 > mle(1))
  }
}
