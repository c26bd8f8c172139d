package graft

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskStart}
import org.scalatest.funsuite.AnyFunSuite

/** [[MapSide.combineAtMost]] bounds what the partitions send the
  * driver, not the distinct keys: a key counts once per partition that
  * sees it.
  */
class MapSideSpec extends AnyFunSuite {
  private lazy val sc = SparkHarness.spark.sparkContext
  private val plus = (a: Long, b: Long) => a + b

  test("combineAtMost gives up once the partitions together could send " +
    "more than maxKeys entries") {
    // the same 3 keys in each of 4 partitions: 12 entries sent
    val rdd = sc.parallelize(Seq.fill(4)(Seq("a", "b", "c")).flatten, 4)
    def fold(r: org.apache.spark.rdd.RDD[String], maxKeys: Long) =
      MapSide.combineAtMost(r, maxKeys, plus)(k => Iterator(k -> 1L))
    val all = Map("a" -> 4L, "b" -> 4L, "c" -> 4L)
    assert(fold(rdd, 12L).contains(all))
    assert(fold(rdd, 11L).isEmpty)
    assert(fold(rdd.coalesce(1), 3L).contains(all))
    assert(fold(rdd.coalesce(1), 2L).isEmpty)
    assert(fold(sc.emptyRDD[String], 0L).contains(Map.empty))
    assert(MapSide.combine(rdd, plus)(k => Iterator(k -> 1L)) == all)
  }

  test("a partition that passes its share stops decoding its rows there") {
    val decoded = sc.longAccumulator("decoded")
    // one partition of 1000 distinct keys; a share of 10 keys
    val rdd = sc.parallelize(0 until 1000, 1)
    val out = MapSide.combineAtMost(rdd, 10L, plus) { k =>
      decoded.add(1L)
      Iterator(k -> 1L)
    }
    assert(out.isEmpty)
    assert(decoded.sum == 11L, decoded.sum)
  }

  test("the first partition past its share cancels the tasks not yet " +
    "run") {
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        started.incrementAndGet()
    }
    // 64 partitions of 20 distinct keys, 10 ms per row; a share of 10
    val rdd = sc.parallelize(0 until 1280, 64)
    ListenerDrain(sc)
    sc.addSparkListener(listener)
    val out = try {
      val o = MapSide.combineAtMost(rdd, 640L, plus) { k =>
        Thread.sleep(10L)
        Iterator(k -> 1L)
      }
      ListenerDrain(sc)
      o
    } finally sc.removeSparkListener(listener)
    assert(out.isEmpty)
    assert(started.get() < 32, s"${started.get()} of 64 tasks started")
    assert(MapSide.combine(rdd, plus)(k => Iterator(k -> 1L)).size == 1280)
  }
}
