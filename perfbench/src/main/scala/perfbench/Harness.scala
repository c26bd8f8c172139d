package perfbench

import java.nio.file.Path
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** A per-layer metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What every workload shares: timed operations that never hide a
  * failure, output checks, and storage sampled after each operation.
  */
final class Harness(val spark: SparkSession, val tr: Tracer,
    val seed: Long, val root: Path, val work: Path, opTimeoutS: Int) {
  val sc = spark.sparkContext
  val cores: Int = sc.defaultParallelism
  var attempted = 0L
  /** (operation, reason) for every operation that threw, timed out or
    * produced a wrong output.
    */
  val failures = ArrayBuffer.empty[(String, String)]
  var storagePeakBytes = 0L
  var persistedMax = 0

  private val watchdog = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-watchdog"); t.setDaemon(true); t
  }

  /** Run one operation inside a span of `layer`. A throw or a timeout
    * is recorded against the operation and `None` comes back; storage
    * is sampled after the operation and before any cache is cleared.
    */
  def op[T](name: String, layer: String)(f: => T): Option[T] = {
    attempted += 1
    @volatile var timedOut = false
    val alarm = watchdog.schedule(new Runnable {
      def run(): Unit = { timedOut = true; sc.cancelAllJobs() }
    }, opTimeoutS.toLong, TimeUnit.SECONDS)
    val out =
      try Some(tr.span(name, layer)(f))
      catch {
        case NonFatal(e) =>
          fail(name, if (timedOut) s"timed out after ${opTimeoutS}s"
            else s"${e.getClass.getName}: ${e.getMessage}")
          None
      } finally alarm.cancel(false)
    sample()
    out
  }

  def fail(name: String, why: String): Unit = {
    failures += name -> why
    System.err.println(s"[perfbench] FAILED $name: $why")
  }

  /** Count a wrong output of operation `name` as a failure. */
  def verify(name: String, ok: => Boolean, detail: => String): Unit =
    try { if (!ok) fail(name, s"wrong output: $detail") }
    catch { case NonFatal(e) => fail(name, s"check threw: $e") }

  /** Bytes of persisted RDD blocks (memory and disk) held right now. */
  private def storageBytes: Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  private def sample(): Unit = {
    storagePeakBytes = math.max(storagePeakBytes, storageBytes)
    persistedMax = math.max(persistedMax, sc.getPersistentRDDs.size)
  }

  /** Drop every cached Dataset and persisted RDD. */
  def clearCaches(): Unit = {
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def close(): Unit = watchdog.shutdownNow()
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** One workload: inputs built from the seed, a warm-up pass that
  * checks every output in full, and timed passes.
  */
trait Workload {
  def name: String

  /** Seconds one timed pass takes on a 4-core host; a run makes
    * ceil(seconds / passSeconds) timed passes, so every run of a
    * workload measures the same number of passes.
    */
  def passSeconds: Double

  /** Build (or rebuild) the inputs. Runs several times during set-up. */
  def prepare(h: Harness): Unit

  /** One untimed pass in a fixed order; checks every output. */
  def warmup(h: Harness): Unit

  /** One timed pass; returns the number of items it processed. */
  def pass(h: Harness, rng: scala.util.Random): Long

  /** Checks that need the state after the last pass. */
  def finish(h: Harness): Unit = ()

  /** Stop anything the workload started; runs even after a failure. */
  def close(): Unit = ()

  /** Per-layer metrics of this workload's layers, from the trace. */
  def layers(h: Harness, passes: Int): Seq[Metric]

  /** Name and unit of every metric `layers` reports. */
  def layerNames: Seq[(String, String)]
}


/** Several workloads run back to back as one: each pass runs a pass
  * of every part, in order.
  */
final case class Composite(name: String, parts: Seq[Workload])
    extends Workload {
  def passSeconds: Double = parts.map(_.passSeconds).sum
  def prepare(h: Harness): Unit = parts.foreach(_.prepare(h))
  def warmup(h: Harness): Unit = parts.foreach(_.warmup(h))
  def pass(h: Harness, rng: scala.util.Random): Long =
    parts.map(_.pass(h, rng)).sum
  override def finish(h: Harness): Unit = parts.foreach(_.finish(h))
  override def close(): Unit = parts.foreach(_.close())
  def layers(h: Harness, passes: Int): Seq[Metric] =
    parts.flatMap(_.layers(h, passes))
  def layerNames: Seq[(String, String)] = parts.flatMap(_.layerNames)
}
