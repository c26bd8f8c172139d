package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd,
  SparkListenerTaskStart}

/** Chaos helper: while installed, kills the first attempt of every
  * `every`-th task that starts. Spark reschedules a killed attempt,
  * and kills do not count toward `spark.task.maxFailures`, so a
  * result that holds under the injector holds under task retry.
  * A kill reaches only a task still running when the listener bus
  * delivers its start; [[killed]] counts the attempts that ended
  * killed.
  */
final class TaskKillInjector private (sc: SparkContext, every: Int)
    extends SparkListener {
  private val firstAttempts = new AtomicInteger
  val killed = new AtomicInteger

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    if (e.taskInfo.attemptNumber == 0 &&
        firstAttempts.incrementAndGet() % every == 0)
      sc.killTaskAttempt(e.taskInfo.taskId, interruptThread = true,
        "injected kill")

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = e.reason match {
    case _: TaskKilled => killed.incrementAndGet()
    case _ =>
  }
}

object TaskKillInjector {

  /** Run `body` under the injector; returns its result and the number
    * of task attempts that ended killed.
    */
  def during[T](sc: SparkContext, every: Int = 3)(body: => T): (T, Int) = {
    val injector = new TaskKillInjector(sc, every)
    ListenerDrain(sc)
    sc.addSparkListener(injector)
    try {
      val out = body
      ListenerDrain(sc)
      (out, injector.killed.get)
    } finally sc.removeSparkListener(injector)
  }
}
