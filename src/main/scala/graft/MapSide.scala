package graft

import java.util.UUID

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.rdd.RDD

/** Keyed aggregation of an RDD as ONE Spark job with no exchange: each
  * partition folds its decoded (key, value) pairs into its own mutable
  * map, and the driver merges the partition maps (the map-side
  * partial-aggregate pattern). Partition results are committed once
  * per partition, so a retried task is not merged twice (no
  * accumulators). The closures capture only `merge` and `decode`.
  *
  * The driver-side streaming trackers fold each micro-batch with it,
  * HITS runs each half-step with it while its score tables fit on the
  * driver, and the word-coverage sink counts with it.
  */
object MapSide {

  /** `rdd`'s rows decoded and merged per key. */
  def combine[T, K, V](rdd: RDD[T], merge: (V, V) => V)(
      decode: T => IterableOnce[(K, V)]): Map[K, V] =
    combineAtMost(rdd, Long.MaxValue, merge)(decode).get

  /** [[combine]], or None when the partitions could send the driver
    * more than `maxKeys` entries in all. Each partition may send at
    * most `maxKeys / numPartitions` keys; one that passes that stops
    * reading its rows there and sends no map, and the driver then
    * cancels the job's remaining tasks, so giving up costs about one
    * wave of tasks, each cut short at its share. Neither the task
    * results in flight nor the merged map hold more than `maxKeys`
    * entries. The bound is on what is sent, not on the distinct keys:
    * the same key counts once per partition that sees it, and a
    * skewed RDD gives up with fewer than `maxKeys` distinct keys.
    */
  def combineAtMost[T, K, V](rdd: RDD[T], maxKeys: Long,
      merge: (V, V) => V)(decode: T => IterableOnce[(K, V)])
      : Option[Map[K, V]] = {
    val sc = rdd.sparkContext
    val perPartition = maxKeys / math.max(1, rdd.getNumPartitions)
    def add(m: mutable.HashMap[K, V], kvs: IterableOnce[(K, V)]): Unit =
      kvs.iterator.foreach { case (k, v) =>
        m.update(k, m.get(k).fold(v)(merge(_, v)))
      }
    val all = mutable.HashMap.empty[K, V]
    // results arrive one at a time on the scheduler's thread
    @volatile var overflow = false
    val tag = s"graft-map-side-${UUID.randomUUID()}"
    sc.addJobTag(tag)
    val job = try sc.submitJob(rdd, (rows: Iterator[T]) => {
        val m = mutable.HashMap.empty[K, V]
        while (rows.hasNext && m.size <= perPartition)
          add(m, decode(rows.next()))
        Option.when(m.size <= perPartition)(m)
      }, rdd.partitions.indices,
      (_: Int, part: Option[mutable.HashMap[K, V]]) => part match {
        case Some(m) => if (!overflow) add(all, m)
        case None =>
          if (!overflow)
            sc.cancelJobsWithTag(tag, "a partition passed its share")
          overflow = true
          all.clear()
      }, ())
    finally sc.removeJobTag(tag)
    Await.ready(job, Duration.Inf)
    if (overflow) None
    else { job.get(); Some(all.toMap) }
  }
}
