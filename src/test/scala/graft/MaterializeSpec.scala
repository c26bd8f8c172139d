package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{CacheEntries, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.PageRank

/** The three verbs of [[Materialize]], and the operators that lean on
  * `scoped` to release their caches when a precondition throws.
  */
class MaterializeSpec extends AnyFunSuite {
  private lazy val spark = SparkHarness.spark

  private def numbers: DataFrame =
    spark.range(0L, 1000L, 1L, 4).select((col("id") % 7).as("k"))

  private def entries: Int = CacheEntries(spark)

  test("scoped releases kept frames when the body returns") {
    val before = entries
    val n = Materialize.scoped { keep =>
      val k = keep(numbers)
      assert(entries == before + 1)
      k.count()
    }
    assert(n == 1000L)
    assert(entries == before)
  }

  test("scoped releases kept frames when the body throws") {
    val before = entries
    intercept[IllegalArgumentException] {
      Materialize.scoped { keep =>
        keep(numbers).count()
        require(false, "body failed")
      }
    }
    assert(entries == before)
  }

  test("scoped rejects a result that still reads a kept frame") {
    val before = entries
    val e = intercept[IllegalStateException] {
      Materialize.scoped { keep => keep(numbers).filter(col("k") > 2) }
    }
    assert(e.getMessage.contains("reads 1 kept frame"))
    assert(entries == before)
    // a cut of the same frame is detached from the cache and passes
    val cut = Materialize.scoped { keep =>
      Materialize.cut(keep(numbers).filter(col("k") > 2))
    }
    assert(cut.count() == numbers.filter(col("k") > 2).count())
    assert(entries == before)
  }

  test("cut runs one job and returns a frame with no upstream lineage") {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    val cut =
      try { val c = Materialize.cut(numbers); ListenerDrain(sc); c }
      finally sc.removeSparkListener(listener)
    assert(jobs.get == 1)
    val plan = cut.queryExecution.analyzed
    assert(plan.isInstanceOf[LogicalRDD] && plan.children.isEmpty, plan)
    assert(cut.groupBy().sum("k").head().getLong(0) ==
      numbers.groupBy().sum("k").head().getLong(0))
  }

  test("share holds a frame until releaseAll") {
    Materialize.releaseAll(spark)
    Materialize.share(numbers).count()
    assert(entries == 1)
    Materialize.releaseAll(spark)
    assert(entries == 0)
  }

  // ---- operators release their caches when a precondition throws ----

  private def edges(pairs: (String, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    pairs.toDF("src", "dst")
  }

  /** Runs `body`, expects its IllegalArgumentException, and checks
    * that the CacheManager holds no entry afterwards.
    */
  private def leavesNoCache(message: String)(body: => Any): Unit = {
    Materialize.releaseAll(spark)
    val e = intercept[IllegalArgumentException](body)
    assert(e.getMessage.contains(message))
    assert(entries == 0)
  }

  test("PageRank.run releases its caches when a dangling node throws") {
    leavesNoCache("dangling") {
      PageRank.run(edges("a" -> "b"), "src", "dst", 2)
    }
  }

  test("PageRank.labelPropagation releases its caches on an empty graph") {
    val s = spark
    import s.implicits._
    val seeds = Seq.empty[(String, Int)].toDF("node", "label")
    leavesNoCache("empty graph") {
      PageRank.labelPropagation(edges(), "src", "dst", seeds, "node",
        "label", 2)
    }
  }

  test("PageRank.hits releases its caches on an empty graph") {
    leavesNoCache("empty graph") {
      PageRank.hits(edges(), "src", "dst")
    }
  }
}
