package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.{ListenerDrain, TaskContext, TaskKillInjector}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkHarness
import graft.streaming.TrackerLaws.{Law, rows}

/** [[DriverTracker]]'s map-side fold: a tracker fed its batch
  * operator's per-row projection folds a batch in one Spark job with
  * no shuffle, whatever the batch's partitioning, and the fold holds
  * under task retry.
  */
class StreamingFoldSpec extends AnyFunSuite {
  private lazy val spark = SparkHarness.spark

  private lazy val reference: DataFrame = {
    val s = spark
    import s.implicits._
    TrackerLaws.referenceEvents.toDF()
  }

  private val laws = TrackerLaws.all(reference)

  /** `events` as a frame of exactly `parts` partitions, the second of
    * them empty when `parts` > 1. `slowMs` delays every task's first
    * attempt, so an injected kill lands while the task runs.
    */
  private def frame(events: Seq[ReplayEvent], parts: Int,
      slowMs: Long = 0L): DataFrame = {
    val s = spark
    import s.implicits._
    val chunks =
      if (parts == 1) Seq(events)
      else {
        val size = math.max(1,
          math.ceil(events.size.toDouble / (parts - 1)).toInt)
        val full = events.grouped(size).toSeq
        (full.take(1) ++ Seq(Nil) ++ full.drop(1)).padTo(parts, Nil)
      }
    val rdd = s.sparkContext.parallelize(chunks, parts)
      .mapPartitions { it =>
        if (slowMs > 0 && TaskContext.get().attemptNumber() == 0)
          Thread.sleep(slowMs)
        it.flatMap(c => c)
      }
    s.createDataset(rdd).toDF()
  }

  /** Jobs `body` runs: (all jobs, fold jobs, shuffle bytes of all
    * jobs, shuffle bytes of the fold jobs). A fold job is one whose
    * call site is in `graft.MapSide`, where `DriverTracker.fold` runs
    * its aggregate.
    */
  private def jobsOf(body: => Any): (Int, Int, Long, Long) = {
    val sc = spark.sparkContext
    val group = "driver-tracker-fold"
    val jobs = new AtomicInteger
    val folds = new AtomicInteger
    val allBytes = new AtomicLong
    val foldBytes = new AtomicLong
    val stages = new ConcurrentHashMap[Int, Boolean]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) {
          jobs.incrementAndGet()
          val fold = e.stageInfos.exists(_.name.contains("MapSide"))
          if (fold) folds.incrementAndGet()
          e.stageIds.foreach(stages.put(_, fold))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && stages.containsKey(e.stageId)) {
          val b = e.taskMetrics.shuffleWriteMetrics.bytesWritten +
            e.taskMetrics.shuffleReadMetrics.totalBytesRead
          allBytes.addAndGet(b)
          if (stages.get(e.stageId)) foldBytes.addAndGet(b)
        }
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "tracker fold probe")
    try {
      rows(body)
      ListenerDrain(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    (jobs.get, folds.get, allBytes.get, foldBytes.get)
  }

  private def jobLaw[T <: DriverTracker[_, _]](law: Law[T]): Unit = {
    val batch = frame(TrackerLaws.cuts.head, 4)
    assert(batch.rdd.getNumPartitions == 4)
    val t = law.make()
    val (jobs, folds, allBytes, foldBytes) =
      jobsOf(t.atBatch(0L)(law.update(t, batch)))
    // Bloom's tags are a join of their own; every other update is
    // its fold alone
    if (law.name != "Bloom")
      assert(jobs == 1 && allBytes == 0L,
        s"$jobs jobs, $allBytes shuffle bytes")
    assert(folds == 1 && foldBytes == 0L,
      s"$folds jobs called from MapSide, $foldBytes shuffle bytes")
    val state = t.state
    val (replayJobs, replayFolds, _, _) =
      jobsOf(t.atBatch(0L)(law.update(t, batch)))
    assert(replayFolds == 0 && t.state == state)
    if (law.name != "Bloom") assert(replayJobs == 0)
  }

  laws.filter(_.projected).foreach { law =>
    test(s"map-side fold: ${law.name} — one update of a 4-partition " +
      "batch is one Spark job with no shuffle; a replay runs none") {
      jobLaw(law)
    }
  }

  /** State, reads and update results after folding every batch. */
  private def foldAll[T <: DriverTracker[_, _]](law: Law[T],
      batches: Seq[DataFrame]): (Any, Any, Seq[Any]) = {
    val t = law.make()
    val outs = batches.map(b => rows(law.update(t, b)))
    (t.state, law.read(t), outs)
  }

  private def partitionLaw[T <: DriverTracker[_, _]](law: Law[T]): Unit = {
    val byParts = Seq(1, 3, 8).map { parts =>
      parts -> foldAll(law, TrackerLaws.cuts.map(frame(_, parts)))
    }
    byParts.tail.foreach { case (parts, got) =>
      assert(got == byParts.head._2, s"$parts partitions vs 1")
    }
    // an empty batch leaves the state and still takes its id
    val t = law.make()
    law.update(t, frame(TrackerLaws.cuts.head, 3))
    val state = t.state
    law.update(t, frame(Nil, 3))
    assert(t.state == state && t.lastBatchId == 1L)
  }

  laws.filter(_.projected).foreach { law =>
    test(s"partition law: ${law.name} — the same rows cut into 1, 3 " +
      "and 8 partitions fold to the same state and reads") {
      partitionLaw(law)
    }
  }

  test("chaos: every tracker's state after three batches under task " +
    "kills equals its state without kills") {
    val batches = TrackerLaws.cuts.map(frame(_, 4, slowMs = 100L))
    def run[T <: DriverTracker[_, _]](law: Law[T]) = foldAll(law, batches)
    val plain = laws.map(run(_))
    val (killed, kills) =
      TaskKillInjector.during(spark.sparkContext)(laws.map(run(_)))
    assert(kills > 0, "no task attempt was killed")
    laws.zip(plain).zip(killed).foreach { case ((law, want), got) =>
      assert(got == want, s"${law.name} under $kills kills")
    }
  }

  test("KMV bottom-k merge: the linear merge of two sorted distinct " +
    "vectors is the bottom-k of their union") {
    val rng = new scala.util.Random(7)
    def draw(n: Int) =
      Vector.fill(n)(rng.nextInt(60).toLong).distinct.sorted
    for (_ <- 0 until 500) {
      val k = 1 + rng.nextInt(12)
      val a = draw(rng.nextInt(15))
      val b = draw(rng.nextInt(15))
      assert(StreamingKmv.bottomK(k)(a, b) ==
        (a ++ b).distinct.sorted.take(k), s"k=$k a=$a b=$b")
    }
    // A full bottom-k that a larger hash cannot enter comes back as is.
    val full = Vector(1L, 4L, 9L)
    assert(StreamingKmv.bottomK(3)(full, Vector(9L)) eq full)
    assert(StreamingKmv.bottomK(3)(full, Vector(12L, 20L)) eq full)
  }
}
