package graft

import scala.collection.mutable

import org.apache.spark.rdd.RDD

/** Keyed aggregation of an RDD as ONE Spark job with no exchange: each
  * partition folds its decoded (key, value) pairs into a mutable map
  * (`aggregate` gives every partition its own copy of the empty zero),
  * and the driver merges the partition maps (the map-side
  * partial-aggregate pattern). Partition results are committed once
  * per partition, so a retried task is not merged twice (no
  * accumulators). The closures capture only `merge` and `decode`.
  *
  * The driver-side streaming trackers fold each micro-batch with it,
  * and HITS runs each half-step with it while its score tables fit on
  * the driver.
  */
object MapSide {

  /** `rdd`'s rows decoded and merged per key. */
  def combine[T, K, V](rdd: RDD[T], merge: (V, V) => V)(
      decode: T => IterableOnce[(K, V)]): Map[K, V] =
    combineAtMost(rdd, Long.MaxValue, merge)(decode).get

  /** [[combine]], or None when the partitions could send the driver
    * more than `maxKeys` entries in all. Each partition may send at
    * most `maxKeys / numPartitions` keys, and one that passes that
    * sends no map, so neither the task results in flight nor the
    * merged map hold more than `maxKeys` entries. The bound is on what
    * is sent, not on the distinct keys: the same key counts once per
    * partition that sees it, and a skewed RDD gives up with fewer
    * than `maxKeys` distinct keys.
    */
  def combineAtMost[T, K, V](rdd: RDD[T], maxKeys: Long,
      merge: (V, V) => V)(decode: T => IterableOnce[(K, V)])
      : Option[Map[K, V]] = {
    val perPartition = maxKeys / math.max(1, rdd.getNumPartitions)
    def add(acc: Option[mutable.HashMap[K, V]], kvs: IterableOnce[(K, V)])
        : Option[mutable.HashMap[K, V]] = acc.map { m =>
      kvs.iterator.foreach { case (k, v) =>
        m.update(k, m.get(k).fold(v)(merge(_, v)))
      }
      m
    }
    rdd.aggregate(Option(mutable.HashMap.empty[K, V]))(
      (m, t) => add(m, decode(t)).filter(_.size <= perPartition),
      (a, b) => b.flatMap(m => add(a, m))).map(_.toMap)
  }
}
