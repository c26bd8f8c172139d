package graft

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
}
