package graft.streaming

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkHarness
import graft.operators.{Cms, CorpusOps, RankEval}

/** r9 wave 17: X175 streaming CMS, X176 mutual information, X177
  * pair-set eval.
  */
class StreamingCmsSpec extends AnyFunSuite {
  private lazy val spark = SparkHarness.spark

  test("streaming CMS grid equals the batch sketch over concatenated " +
    "batches; estimates upper-bound true counts") {
    val s = spark
    import s.implicits._
    val batches = Seq(
      Seq.fill(30)("x") ++ Seq.fill(5)("y"),
      Seq.fill(20)("x") ++ Seq.fill(8)("z"),
      Seq.fill(1)("y"))
    val tracker = StreamingCms.tracker()
    batches.foreach(b => tracker.update(b.toDF("k"), "k"))
    val whole = Cms.sketch(batches.flatten.toDF("k"), "k")
      .collect().map(r => (r.getAs[Int]("hash_row"),
        r.getAs[Long]("bucket").toInt) -> r.getAs[Long]("cnt")).toMap
    for (j <- 0 until 4; b <- 0 until 64) {
      assert(tracker.state.getOrElse((j, b), 0L) ==
        whole.getOrElse((j, b), 0L),
        s"cell ($j, $b)")
    }
    assert(tracker.estimate("x") >= 50L)
    assert(tracker.estimate("y") >= 6L)
    assert(tracker.estimate("never-seen") <= tracker.estimate("x"))
  }

  test("streaming CMS: a null key reaches no counter, as in the batch " +
    "sketch") {
    val s = spark
    import s.implicits._
    val keys = Seq.fill(6)(Option.empty[String]) ++
      (1 to 30).map(i => Some(s"k${i % 7}"))
    val tracker = StreamingCms.tracker()
    tracker.update(keys.toDF("k"), "k")
    val whole = Cms.sketch(keys.toDF("k"), "k").filter($"bucket".isNotNull)
      .collect().map(r => (r.getAs[Int]("hash_row"),
        r.getAs[Long]("bucket").toInt) -> r.getAs[Long]("cnt")).toMap
    assert(tracker.state == whole)
    assert(tracker.state.values.sum == 4L * 30L)
  }

  test("streaming CMS point lookups launch no Spark job and equal the " +
    "batch estimate over the concatenated batches") {
    val s = spark
    import s.implicits._
    val keys = (1 to 40).map(i => s"k${i % 13}")
    val tracker = StreamingCms.tracker()
    keys.grouped(15).foreach(b => tracker.update(b.toDF("k"), "k"))
    val probes = (0 until 13).map(i => s"k$i") :+ "never-seen"
    val want = Cms.estimate(Cms.sketch(keys.toDF("k"), "k"),
        probes.toDF("k"), "k")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val group = "cms-point-lookups"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    s.sparkContext.addSparkListener(listener)
    s.sparkContext.setJobGroup(group, "CMS point lookups")
    try {
      val got = probes.map(k => k -> tracker.estimate(k)).toMap
      ListenerDrain(s.sparkContext)
      assert(jobs.get == 0, s"${jobs.get} jobs for ${probes.size} lookups")
      assert(got == want)
    } finally {
      s.sparkContext.clearJobGroup()
      s.sparkContext.removeSparkListener(listener)
    }
  }

  test("mutualInformation: independent columns give ~0, identical " +
    "columns give MI == H(X) and NMI 1") {
    val s = spark
    import s.implicits._
    // identical: MI = H = 1 bit for a 50/50 split
    val same = (Seq.fill(8)(("a", "a")) ++ Seq.fill(8)(("b", "b")))
      .toDF("x", "y")
    val r1 = CorpusOps.mutualInformation(same, "x", "y").head()
    assert(r1.getAs[Double]("mi_bits") == 1.0)
    assert(r1.getAs[Double]("nmi") == 1.0)
    // independent (balanced product distribution): MI exactly 0
    val indep = (for (x <- Seq("a", "b"); y <- Seq("p", "q", "r"))
      yield Seq.fill(4)((x, y))).flatten.toDF("x", "y")
    val r0 = CorpusOps.mutualInformation(indep, "x", "y").head()
    assert(math.abs(r0.getAs[Double]("mi_nats")) < 1e-9)
    // constant column: H(Y)=0 -> NMI NULL
    val const = Seq(("a", "k"), ("b", "k")).toDF("x", "y")
    val rc = CorpusOps.mutualInformation(const, "x", "y").head()
    assert(rc.isNullAt(rc.fieldIndex("nmi")))
  }

  test("pairSetEval canonicalizes orientation and duplicates, " +
    "computes exact precision/recall/F1") {
    val s = spark
    import s.implicits._
    // truth {1-2, 3-4}; predicted {2-1 (reversed), 1-2 (dup), 5-6}
    val truth = Seq((1L, 2L), (3L, 4L)).toDF("d1", "d2")
    val pred = Seq((2L, 1L), (1L, 2L), (5L, 6L)).toDF("d1", "d2")
    val r = RankEval.pairSetEval(pred, truth).head()
    assert(r.getAs[Long]("n_predicted") == 2L) // dedup + canon
    assert(r.getAs[Long]("n_truth") == 2L)
    assert(r.getAs[Long]("n_correct") == 1L)
    assert(r.getAs[Double]("precision") == 0.5)
    assert(r.getAs[Double]("recall") == 0.5)
    assert(r.getAs[Double]("f1") == 0.5)
    // no overlap -> f1 NULL
    val none = RankEval.pairSetEval(
      Seq((9L, 10L)).toDF("d1", "d2"), truth).head()
    assert(none.isNullAt(none.fieldIndex("f1")))
  }
}
