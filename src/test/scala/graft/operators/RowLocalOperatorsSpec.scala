package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import scala.util.Random

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkHarness

/** Operators rebuilt on row-local or key-local work: `tokenF1`, BLEU
  * and chrF score each row on its own, `resolveClustersWithin`
  * resolves components per key, and `resolveClusters` spends no job of
  * its own on the convergence test.
  */
class RowLocalOperatorsSpec extends AnyFunSuite {
  private lazy val spark = SparkHarness.spark

  test("tokenF1: each row of a duplicated id scores as that row alone") {
    val s = spark
    import s.implicits._
    val rows = Seq((1L, "a a b", "a b b"), (1L, "x y", "x z"),
      (2L, "p q", "p q"), (2L, "", "q"))
    def scored(df: DataFrame) =
      RankEval.tokenF1(df, "id", "pred", "ref")
        .select($"n_pred", $"n_ref", $"n_common", $"precision",
          $"recall", $"f1").collect().toSeq.sortBy(_.toString)
    val together = scored(rows.toDF("id", "pred", "ref"))
    val alone = rows.flatMap(r => scored(Seq(r).toDF("id", "pred", "ref")))
      .sortBy(_.toString)
    assert(together == alone)
    assert(together.map(_.getLong(2)).sorted == Seq(0L, 1L, 2L, 2L))
    // the same law for the BLEU family; id 2's rows share their grams
    // crosswise, so a gram stream pooled per id would match them
    val pairs = Seq((1L, "a b", "a b"), (1L, "c d", "c d"),
      (2L, "a b", "x y"), (2L, "x y", "a b"))
    def out(rs: Seq[(Long, String, String)],
        op: DataFrame => DataFrame) =
      op(rs.toDF("id", "ref", "hyp")).drop("id").collect().toSeq
        .map(_.toString)
    for ((name, op) <- Seq[(String, DataFrame => DataFrame)](
        "sentenceBleu" -> (Bleu.sentenceBleu(_, "id", "ref", "hyp", 2)),
        "chrF" -> (Bleu.chrF(_, "id", "ref", "hyp")))) {
      val both = out(pairs, op).sorted
      assert(both.size == pairs.size, s"$name: $both")
      assert(both == pairs.flatMap(r => out(Seq(r), op)).sorted, name)
    }
    val corpus = (rs: Seq[(Long, String, String)]) =>
      out(rs, Bleu.corpusBleu(_, "id", "ref", "hyp", 1)).head
    val unique = pairs.zipWithIndex.map { case ((_, r, h), i) =>
      (i.toLong, r, h) }
    assert(corpus(pairs) == corpus(unique))
    assert(corpus(unique) == "[4,8,8,0.5,1.0,0.5]") // p_1 = (2+2+0+0)/8
  }

  private def components(df: DataFrame): Map[Long, Long] =
    df.select("doc_id", "cluster_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("resolveClustersWithin equals resolveClusters on random " +
    "clustered pairs") {
    val s = spark
    import s.implicits._
    val rnd = new Random(5)
    // 12 keys, each owning a disjoint id range; random pairs inside
    val pairs = (0 until 12).flatMap { c =>
      val ids = Vector.fill(2 + rnd.nextInt(25))(c * 1000L + rnd.nextInt(60))
      Seq.fill(rnd.nextInt(30)) {
        val (a, b) = (ids(rnd.nextInt(ids.size)), ids(rnd.nextInt(ids.size)))
        (c, math.min(a, b), math.max(a, b))
      }.filter(p => p._2 != p._3)
    }.toDF("c", "d1", "d2")
    val within = Dedup.resolveClustersWithin(pairs, "c")
    val global = Dedup.resolveClusters(pairs.select($"d1", $"d2"))
    assert(within.count() == global.count())
    assert(components(within) == components(global))
    assert(components(global).values.toSet.size > 12)
  }

  test("resolveClustersWithin: a 1,000-node chain resolves to its " +
    "minimum; two keys never merge") {
    val s = spark
    import s.implicits._
    // chain 0–999 under key 1, shuffled; 2000–2001 and the shared id
    // 5 under key 2
    val chain = Random.shuffle((0L until 999L).map(i => (1, i, i + 1)))
    val pairs = (chain ++ Seq((2, 2000L, 2001L), (2, 5L, 2001L)))
      .toDF("c", "d1", "d2")
    val got = Dedup.resolveClustersWithin(pairs, "c").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.size == 1000 + 3)
    assert((0L until 1000L).forall(i => got((1, i)) == 0L))
    assert(got((2, 5L)) == 5L && got((2, 2000L)) == 5L &&
      got((2, 2001L)) == 5L)
  }

  /** Jobs `resolveClusters` launches on `pairs`, forcing its result. */
  private def jobsOf(pairs: Seq[(Long, Long)]): Int = {
    val s = spark
    import s.implicits._
    val df = pairs.toDF("d1", "d2")
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    try {
      Dedup.resolveClusters(df).collect()
      ListenerDrain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("resolveClusters: one round costs its cut's jobs and no " +
    "convergence job") {
    // one pair converges in 2 rounds, the 5-node chain 1-2-3-4-5 in 3
    // (round 1 labels it 1,1,1,2,3; round 2 reaches 1 everywhere;
    // round 3 changes nothing)
    val pair = jobsOf(Seq((1L, 2L)))
    val chain = jobsOf((1L to 4L).map(i => (i, i + 1)))
    assert(chain - pair == RowLocalOperatorsSpec.JobsPerRound,
      s"pair $pair jobs, chain $chain jobs")
  }
}

object RowLocalOperatorsSpec {
  /** The round's one cut: its AQE shuffle stages plus the checkpoint. */
  val JobsPerRound = 6
}
