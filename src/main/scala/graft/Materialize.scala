package graft

import java.util.concurrent.TimeoutException

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration.DurationInt

import org.apache.spark.sql.{Column, Dataset, Observation, SparkSession}

/** The one place that decides how a frame is stored and when it is
  * released. Operators and queries never call `localCheckpoint`,
  * `persist`, `cache` or `unpersist` themselves (`MaterializeGuardSpec`
  * fails on any such call outside this file); they pick one of three
  * verbs:
  *
  *  - [[cut]] — an eager local checkpoint: runs the frame once and
  *    hands back a scan of the stored blocks with no upstream lineage.
  *    For iterative loops and for a subtree that several consumers
  *    read under different aliases.
  *  - [[scoped]] — `keep(df)` caches `df` for the operator body only;
  *    every kept frame is released when the body returns or throws,
  *    and a result that still reads a kept frame is rejected.
  *  - [[share]] — a cache the returned lazy plan reads, or that several
  *    queries share through the CacheManager; released by
  *    [[releaseAll]].
  *
  * SCALING.md ("Materialization") says when to pick which.
  */
object Materialize {

  /** Eager local checkpoint of `ds`: one job, and the returned frame's
    * plan is a scan of the checkpointed blocks.
    */
  def cut[T](ds: Dataset[T]): Dataset[T] = ds.localCheckpoint(true)

  /** [[cut]] that also returns `metric`, a bigint aggregate over the
    * cut's rows that `observe` gathers during the cut's own job, so
    * the value costs no second job. Should the metrics not arrive
    * within 30 s, the same aggregate runs over the cut frame instead.
    */
  def cutObserving[T](ds: Dataset[T], metric: Column): (Dataset[T], Long) = {
    val obs = Observation()
    val out = cut(ds.observe(obs, metric.as("__m")))
    val v =
      try Await.result(obs.future, 30.seconds).getAs[Long]("__m")
      catch {
        case _: TimeoutException => out.agg(metric).head().getLong(0)
      }
    (out, v)
  }

  /** Handed to a [[scoped]] body: `keep(df)` caches `df` until the
    * scope ends and returns it.
    */
  final class Keep private[Materialize] () {
    private[Materialize] val kept = mutable.ArrayBuffer.empty[Dataset[_]]
    def apply[T](ds: Dataset[T]): Dataset[T] = {
      kept += ds
      ds.persist()
    }
  }

  /** Runs `body` with a [[Keep]] and unpersists every kept frame when
    * the body returns or throws. A Dataset result whose plan still
    * reads a kept frame throws `IllegalStateException`: executing it
    * later would silently re-fill the released cache.
    */
  def scoped[A](body: Keep => A): A = {
    val keep = new Keep
    try {
      val out = body(keep)
      out match {
        case ds: Dataset[_] if keep.kept.nonEmpty =>
          // a subtree computing the same result as a kept frame is what
          // the CacheManager would substitute with the released cache
          val subtrees =
            ds.queryExecution.analyzed.collectWithSubqueries { case p => p }
          val read = keep.kept.count { k =>
            val target = k.queryExecution.analyzed
            subtrees.exists(_.sameResult(target))
          }
          if (read > 0)
            throw new IllegalStateException(
              s"scoped result reads $read kept frame(s); end it with " +
                "Materialize.cut or return a frame built without them")
        case _ =>
      }
      out
    } finally keep.kept.foreach(_.unpersist(blocking = false))
  }

  /** Caches `ds` for as long as the session runs: the returned lazy
    * plan reads it, or several queries share it through the
    * CacheManager. Released by [[releaseAll]].
    */
  def share[T](ds: Dataset[T]): Dataset[T] = ds.persist()

  /** Drops every cached Dataset and every persisted RDD of the session
    * (MLlib leaves internal RDD caches the CacheManager does not
    * track).
    */
  def releaseAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
