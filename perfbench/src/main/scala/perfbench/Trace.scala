package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work charged to one span: jobs, stages and the task metrics
  * of every task those stages ran.
  */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var waitMs = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    inputBytes += o.inputBytes; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleRecords += o.shuffleRecords; spillBytes += o.spillBytes
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs; waitMs += o.waitMs
  }

  def toJson: String = Json.obj(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "input_bytes" -> inputBytes, "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_records" -> shuffleRecords, "spill_bytes" -> spillBytes,
    "cpu_s" -> cpuNs / 1e9, "run_s" -> runMs / 1e3, "gc_s" -> gcMs / 1e3,
    "task_wait_s" -> waitMs / 1e3)
}

/** One timed call into a layer. `pass` is the timed pass it ran in
  * (-1 during set-up and warm-up).
  */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    pass: Int, startNs: Long) {
  @volatile var endNs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around calls into the engine. A traced run tags each span's
  * jobs with a Spark job group of its own, and a listener charges
  * every job, stage and task to the innermost open span that launched
  * it. An untraced run only times the calls.
  */
final class Tracer(sc: SparkContext, val traced: Boolean, val runId: String)
    extends SparkListener {
  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val groupSpan = new ConcurrentHashMap[String, Integer]()
  private val stageSpan = new ConcurrentHashMap[Int, Integer]()
  /** Span id 0 collects work launched outside any span. */
  private val Unattributed = 0
  var pass: Int = -1

  if (traced) sc.addSparkListener(this)

  private def group(id: Int): String = s"perfbench-$runId-$id"

  def span[T](name: String, layer: String)(f: => T): T = {
    val s = synchronized {
      val s = Span(spans.length + 1, name, layer,
        open.headOption.map(_.id).getOrElse(Unattributed), pass,
        System.nanoTime())
      spans += s
      open = s :: open
      s
    }
    if (traced) {
      groupSpan.put(group(s.id), s.id)
      sc.setJobGroup(group(s.id), s"$layer:$name", interruptOnCancel = false)
    }
    try f
    finally {
      s.endNs = System.nanoTime()
      synchronized { open = open.tail }
      if (traced) open.headOption match {
        case Some(p) =>
          sc.setJobGroup(group(p.id), s"${p.layer}:${p.name}", false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Charge jobs of an external job group (a streaming query's run id)
    * to the innermost open span while `f` runs.
    */
  def adopt[T](jobGroup: String)(f: => T): T = {
    val cur = synchronized(open.headOption.map(_.id)).getOrElse(Unattributed)
    groupSpan.put(jobGroup, cur)
    try f finally groupSpan.put(jobGroup, Unattributed)
  }

  private def countersOf(id: Int): Counters =
    counters.computeIfAbsent(id, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val id = g.flatMap(x => Option(groupSpan.get(x))).map(_.intValue)
      .getOrElse(Unattributed)
    countersOf(id).synchronized { countersOf(id).jobs += 1 }
    e.stageIds.foreach(s => stageSpan.putIfAbsent(s, id))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = Option(stageSpan.get(e.stageInfo.stageId)).map(_.intValue)
      .getOrElse(Unattributed)
    val c = countersOf(id)
    c.synchronized { c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val id = Option(stageSpan.get(e.stageId)).map(_.intValue)
      .getOrElse(Unattributed)
    val m = e.taskMetrics
    val c = countersOf(id)
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        // scheduler delay: task time not spent deserializing, running
        // or serializing the result
        val info = e.taskInfo
        if (info != null && info.finished)
          c.waitMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
      }
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (traced) org.apache.spark.PerfbenchAccess.drain(sc)

  def all: Seq[Span] = synchronized(spans.toList)

  /** Counters of a span and everything nested in it. */
  def inclusive(s: Span): Counters = {
    val byParent = all.groupBy(_.parent)
    val out = new Counters
    def walk(x: Span): Unit = {
      Option(counters.get(x.id)).foreach(c => c.synchronized(out += c))
      byParent.getOrElse(x.id, Nil).foreach(walk)
    }
    walk(s)
    out
  }

  /** Wall seconds and inclusive counters summed over `ss`. */
  def total(ss: Seq[Span]): (Double, Counters) = {
    val c = new Counters
    ss.foreach(s => c += inclusive(s))
    (ss.map(_.seconds).sum, c)
  }

  def unattributed: Counters =
    Option(counters.get(Unattributed)).getOrElse(new Counters)

  /** Span duration minus the time of the spans nested in it. */
  private def selfOf(ss: Seq[Span]): Span => Double = {
    val childTime = ss.filter(_.endNs > 0).groupBy(_.parent).map {
      case (p, cs) => p -> cs.map(_.seconds).sum }
    s => s.seconds - childTime.getOrElse(s.id, 0.0)
  }

  /** Self seconds per layer over the timed passes. */
  def selfSecondsByLayer: Map[String, Double] = {
    val ss = all.filter(s => s.pass >= 0 && s.endNs > 0)
    val self = selfOf(ss)
    ss.groupBy(_.layer).map { case (layer, xs) => layer -> xs.map(self).sum }
  }

  /** One JSON object per span, in opening order. */
  def jsonLines: Seq[String] = {
    val ss = all
    val self = selfOf(ss)
    ss.map { s =>
      Json.obj("run" -> runId, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer, "pass" -> s.pass,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_s" -> self(s),
        "spark" -> Json.Raw(Option(counters.get(s.id))
          .getOrElse(new Counters).toJson))
    }
  }

  def close(): Unit = if (traced) sc.removeSparkListener(this)
}
