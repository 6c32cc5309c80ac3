package perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Internals

import scala.collection.mutable

/** Spark counters of one job group (one phase of one execution). */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, cpuNs, schedDelayMs, gcMs = 0L
  var inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes, outputBytes = 0L
  var peakExecMem = 0L
  var planMs, exchanges, reusedExchanges, scans = 0L
  /** Epoch ms bounds of the planning phases seen (0 = none). */
  var planStartMs, planEndMs = 0L

  def json: String = Json.obj(
    "jobs" -> jobs.toString, "stages" -> stages.toString, "tasks" -> tasks.toString,
    "failed_tasks" -> failedTasks.toString, "task_run_ms" -> runMs.toString,
    "task_cpu_ms" -> (cpuNs / 1000000L).toString, "sched_delay_ms" -> schedDelayMs.toString,
    "gc_ms" -> gcMs.toString, "input_bytes" -> inputBytes.toString,
    "shuffle_read_bytes" -> shuffleReadBytes.toString,
    "shuffle_write_bytes" -> shuffleWriteBytes.toString, "spill_bytes" -> spillBytes.toString,
    "output_bytes" -> outputBytes.toString, "peak_exec_mem" -> peakExecMem.toString,
    "plan_ms" -> planMs.toString,
    "plan_start_ms" -> planStartMs.toString, "plan_end_ms" -> planEndMs.toString,
    "exchanges" -> exchanges.toString, "reused_exchanges" -> reusedExchanges.toString,
    "scans" -> scans.toString)
}

/** Attributes Spark listener events to the job group the harness set
  * when it launched the work. Registered only for traced passes. */
final class LayerListener extends SparkListener {
  private val byGroup = mutable.HashMap.empty[String, Counters]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val sqlGroup = mutable.HashMap.empty[Long, String]

  private def counters(group: String): Counters = byGroup.getOrElseUpdate(group, new Counters)

  /** Remove and return the counters of `group` (empty if none arrived). */
  def take(group: String): Counters = synchronized {
    byGroup.remove(group).getOrElse(new Counters)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    counters(group).jobs += 1
    e.stageIds.foreach(stageGroup(_) = group)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g => counters(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    if (e.reason != Success) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.outputBytes += m.outputMetrics.bytesWritten
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqlGroup(s.executionId) = s.jobGroupId.getOrElse("")
    }
    case end: SparkListenerSQLExecutionEnd => synchronized {
      val c = counters(sqlGroup.remove(end.executionId).getOrElse(""))
      Internals.queryExecution(end).foreach { qe =>
        val phases = qe.tracker.phases.filter { case (k, _) => k != "parsing" }.values
        if (phases.nonEmpty) {
          c.planMs += phases.map(_.durationMs).sum
          val s0 = phases.map(_.startTimeMs).min
          val e0 = phases.map(_.endTimeMs).max
          c.planStartMs = if (c.planStartMs == 0) s0 else math.min(c.planStartMs, s0)
          c.planEndMs = math.max(c.planEndMs, e0)
        }
        val (x, r, s) = LayerListener.planShape(qe.executedPlan)
        c.exchanges += x; c.reusedExchanges += r; c.scans += s
      }
    }
    case _ =>
  }
}

object LayerListener {
  /** (exchanges, reused exchanges, leaf scans) of an executed plan,
    * reading through AQE to its final plan, query stages and
    * subqueries. */
  def planShape(root: SparkPlan): (Long, Long, Long) = {
    var exchanges, reused, scans = 0L
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _: ReusedExchangeExec => reused += 1
        case x: Exchange => exchanges += 1; x.children.foreach(walk)
        case _: LeafExecNode => scans += 1
        case other => other.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(root)
    (exchanges, reused, scans)
  }
}
