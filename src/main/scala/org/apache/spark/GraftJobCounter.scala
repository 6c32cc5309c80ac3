package org.apache.spark

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Counts the Spark jobs, completed stages, ended tasks and input
  * records of one SparkContext from the moment it is constructed
  * (or last reset) until it is closed.
  *
  * Lives under `org.apache.spark` ONLY because the listener bus's
  * `waitUntilEmpty` is `private[spark]`. Every read, reset and attach
  * drains the bus first, so an event posted before the call is always
  * counted and an event posted before attaching never is: a late event
  * cannot make a "no job ran" check pass, as a fixed sleep lets it.
  */
final class GraftJobCounter(sc: SparkContext) extends SparkListener {
  private val jobs, stages, tasks, recordsRead = new AtomicLong
  drain()
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    // a task that failed before reporting carries no metrics
    if (e.taskMetrics != null) recordsRead.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
  }

  private def drain(): Unit = sc.listenerBus.waitUntilEmpty(GraftJobCounter.DrainTimeoutMs)

  /** Everything posted since construction or the last [[reset]]. */
  def counts: GraftJobCounter.Counts = {
    drain()
    GraftJobCounter.Counts(jobs.get, stages.get, tasks.get, recordsRead.get)
  }

  def reset(): Unit = {
    drain()
    Seq(jobs, stages, tasks, recordsRead).foreach(_.set(0))
  }

  def close(): Unit = sc.removeSparkListener(this)
}

object GraftJobCounter {
  final case class Counts(jobs: Long, stages: Long, tasks: Long, recordsRead: Long)

  /** A drain that outlasts this fails loudly (TimeoutException) rather
    * than returning a partial count. */
  private val DrainTimeoutMs = 30000L

  /** What `body` ran on `sc`. */
  def during(sc: SparkContext)(body: => Unit): Counts = {
    val c = new GraftJobCounter(sc)
    try { body; c.counts } finally c.close()
  }
}
