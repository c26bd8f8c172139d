package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkHarness

/** BLEU invariants on the textbook clipping example plus brevity,
  * degenerate, and corpus-pooling cases.
  */
class BleuSpec extends AnyFunSuite {
  private lazy val spark = SparkHarness.spark

  private def r6(x: Double) = math.rint(x * 1e6) / 1e6

  // ref "the cat is on the mat", hyp "the cat the cat on the mat":
  // p1 = 5/7 (clip: the->2, cat->1, on, mat), p2 = 3/6, p3 = 1/5,
  // p4 = 0/4
  private val Ref = "the cat is on the mat"
  private val Hyp = "the cat the cat on the mat"

  test("sentenceBleu: textbook clipped precisions; p4=0 zeroes BLEU-4") {
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, Ref, Hyp)).toDF("id", "ref", "hyp")
    val r = Bleu.sentenceBleu(pairs, "id", "ref", "hyp", maxN = 4)
      .collect().head
    assert(r.getAs[Long]("ref_len") == 6 && r.getAs[Long]("hyp_len") == 7)
    assert(r.getAs[Double]("p_1") == r6(5.0 / 7))
    assert(r.getAs[Double]("p_2") == r6(3.0 / 6))
    assert(r.getAs[Double]("p_3") == r6(1.0 / 5))
    assert(r.getAs[Double]("p_4") == 0.0)
    assert(r.getAs[Double]("bp") == 1.0) // hyp longer than ref
    assert(r.getAs[Double]("bleu") == 0.0) // unsmoothed: any p_n=0
  }

  test("sentenceBleu maxN=2: hand-computed geometric mean") {
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, Ref, Hyp)).toDF("id", "ref", "hyp")
    val r = Bleu.sentenceBleu(pairs, "id", "ref", "hyp", maxN = 2)
      .collect().head
    val expect = math.exp((math.log(5.0 / 7) + math.log(3.0 / 6)) / 2)
    assert(r.getAs[Double]("bleu") == r6(expect))
  }

  test("brevity penalty: short hyp penalized, identical pair scores 1") {
    val s = spark
    import s.implicits._
    val pairs = Seq(
      (1L, "a b c d e f g h", "a b c d"), // perfect sub-match, half len
      (2L, Ref, Ref), // identity
      (3L, Ref, ""), // empty hyp
      (4L, "", "") // both empty
    ).toDF("id", "ref", "hyp")
    val rs = Bleu.sentenceBleu(pairs, "id", "ref", "hyp", maxN = 2)
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    val bp1 = math.exp(1.0 - 8.0 / 4.0)
    assert(rs(1L).getAs[Double]("bp") == r6(bp1))
    assert(rs(1L).getAs[Double]("p_1") == 1.0 &&
      rs(1L).getAs[Double]("p_2") == 1.0)
    assert(rs(1L).getAs[Double]("bleu") == r6(bp1))
    assert(rs(2L).getAs[Double]("bleu") == 1.0)
    assert(rs(3L).getAs[Double]("bleu") == 0.0 &&
      rs(3L).getAs[Double]("bp") == 0.0)
    assert(rs(4L).getAs[Double]("bleu") == 0.0) // bp=1 but p_n=0
  }

  test("selfBleu: hand-computed multi-ref clipping, closest-length " +
      "BP, unique doc scores 0") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a b c"), (2L, "a b d"), (3L, "x y"))
      .toDF("id", "text")
    val rs = Bleu.selfBleu(docs, "id", "text", maxN = 2)
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    // doc 1 vs {2,3}: p1 = 2/3 (a, b live in doc 2; c nowhere else),
    // p2 = 1/2 ("a b" in doc 2); closest other length to 3 is 3 -> bp 1
    assert(rs(1L).getAs[Long]("ref_len") == 3)
    assert(rs(1L).getAs[Double]("p_1") == r6(2.0 / 3))
    assert(rs(1L).getAs[Double]("p_2") == 0.5)
    assert(rs(1L).getAs[Double]("bp") == 1.0)
    assert(rs(1L).getAs[Double]("self_bleu") ==
      r6(math.exp((math.log(2.0 / 3) + math.log(0.5)) / 2)))
    // doc 2 is symmetric
    assert(rs(2L).getAs[Double]("self_bleu") ==
      rs(1L).getAs[Double]("self_bleu"))
    // doc 3 shares nothing -> 0, and its closest other length is 3
    assert(rs(3L).getAs[Double]("self_bleu") == 0.0)
    assert(rs(3L).getAs[Long]("ref_len") == 3)
    assert(rs(3L).getAs[Double]("bp") == r6(math.exp(1.0 - 3.0 / 2)))
    // a corpus of identical docs maxes out: self-BLEU 1 everywhere
    val same = Seq((1L, "p q r s"), (2L, "p q r s"), (3L, "p q r s"))
      .toDF("id", "text")
    val all1 = Bleu.selfBleu(same, "id", "text", maxN = 2)
      .select($"self_bleu").as[Double].collect().toSeq
    assert(all1 == Seq(1.0, 1.0, 1.0))
  }

  test("corpusBleu pools counts before ratios (not a mean of scores)") {
    val s = spark
    import s.implicits._
    // pair A matches 1 of 5 unigrams, pair B 3 of 3: pooled
    // p1 = (1+3)/(5+3) = 0.5, whereas a mean of sentence scores
    // would give (0.2 + 1.0)/2 = 0.6 — pooling is observable
    val pairs = Seq(
      (1L, "q r s t u", "a b c d u"), // 1 of 5
      (2L, "x y z", "x y z") // 3 of 3
    ).toDF("id", "ref", "hyp")
    val r = Bleu.corpusBleu(pairs, "id", "ref", "hyp", maxN = 1)
      .collect().head
    assert(r.getAs[Long]("n_pairs") == 2)
    assert(r.getAs[Long]("ref_len") == 8 && r.getAs[Long]("hyp_len") == 8)
    assert(r.getAs[Double]("p_1") == 0.5) // (1+3)/(5+3)
    assert(r.getAs[Double]("bp") == 1.0)
    assert(r.getAs[Double]("bleu") == 0.5)
  }

  // ---- X117 chrF ----------------------------------------------------

  test("chrF: identical pair scores 1, disjoint pair 0, hand partial") {
    val s = spark
    import s.implicits._
    val pairs = Seq(
      (1L, "the same text here", "the same text here"), // identical
      (2L, "aaaaaa", "zzzzzz"), // fully disjoint
      (3L, "a ab", "ab")) // hand case at maxN=1 below
      .toDF("id", "ref", "hyp")
    val out6 = Bleu.chrF(pairs, "id", "ref", "hyp")
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(out6(1L).getAs[Double]("chrf") == 1.0)
    assert(out6(1L).getAs[Long]("ref_chars") == 15L) // whitespace stripped
    assert(out6(2L).getAs[Double]("chrf") == 0.0)
    // maxN=1: ref "aab" vs hyp "ab" — m = 2, P = 1, R = 2/3,
    // F2 = 5·1·(2/3)/(4·1 + 2/3) = 5/7
    val out1 = Bleu.chrF(pairs, "id", "ref", "hyp", maxN = 1)
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(out1(3L).getAs[Double]("chrf") == r6(5.0 / 7.0))
  }

  test("chrF: effective order — identical pair shorter than maxN " +
    "scores 1.0 (sacrebleu rule), not len/maxN") {
    val s = spark
    import s.implicits._
    val out = Bleu.chrF(Seq((1L, "abc", "abc")).toDF("id", "ref", "hyp"),
        "id", "ref", "hyp")
      .collect().head
    // orders 1..3 have grams on both sides (F=1 each); orders 4..6
    // have none on either side and are excluded from the average
    assert(out.getAs[Double]("chrf") == 1.0)
  }

  test("sentenceBleu: each p_n numerator is the plain clipped count") {
    val s = spark
    import s.implicits._
    val texts = Seq("the cat the cat on the mat", "a", "", "x y z w v")
    val maxN = 4
    // every (ref, hyp) pair of the four texts, each scored at 1..maxN
    val pairs = for (r <- texts; h <- texts) yield (r, h)
    val got = Bleu.sentenceBleu(
        pairs.zipWithIndex.map { case ((r, h), i) => (i.toLong, r, h) }
          .toDF("id", "ref", "hyp"),
        "id", "ref", "hyp", maxN)
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    def grams(t: String, n: Int): Map[String, Int] =
      t.split("\\s+").filter(_.nonEmpty).toSeq.sliding(n)
        .filter(_.size == n).toSeq.groupBy(identity).map {
          case (g, gs) => g.mkString(Dedup.Sep) -> gs.size }
    pairs.zipWithIndex.foreach { case ((ref, hyp), i) =>
      for (n <- 1 to maxN) {
        val (hg, rg) = (grams(hyp, n), grams(ref, n))
        val m = hg.map { case (g, c) => math.min(c, rg.getOrElse(g, 0)) }.sum
        val total = hg.values.sum
        val expect = if (total > 0) r6(m.toDouble / total) else 0.0
        assert(got(i.toLong).getAs[Double](s"p_$n") == expect,
          s"p_$n of hyp '$hyp' vs ref '$ref'")
      }
    }
  }

  test("chrF: empty hypothesis scores 0 with zero hyp_chars") {
    val s = spark
    import s.implicits._
    val out = Bleu.chrF(Seq((1L, "some reference", "")).toDF("id", "ref",
        "hyp"), "id", "ref", "hyp")
      .collect().head
    assert(out.getAs[Long]("hyp_chars") == 0L)
    assert(out.getAs[Double]("chrf") == 0.0)
  }
}
