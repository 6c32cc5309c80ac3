package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The Spark internals the harness needs, which Spark scopes
  * `private[spark]` or `private[sql]`; this file lives under
  * `org.apache.spark.sql` only to reach them. */
object Internals {

  /** Block until every event posted so far has reached every listener,
    * so a traced execution's counters are complete before the next
    * execution starts. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** True iff `r` is marked for local checkpointing but not yet
    * materialized: unpersisting it then would break it for good. */
  def isPendingLocalCheckpoint(r: RDD[_]): Boolean =
    r.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]]) && !r.isCheckpointed

  /** The query execution an in-process SQL-execution-end event carries. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
