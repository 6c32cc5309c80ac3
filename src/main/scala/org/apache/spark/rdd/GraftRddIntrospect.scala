package org.apache.spark.rdd

/** Accessors for RDD checkpoint state that Spark scopes `private[rdd]`.
  *
  * Lives under `org.apache.spark.rdd` ONLY to satisfy that scoping — the
  * one consumer is `graft.Bench.releaseTransientStorage` (the storage
  * hygiene Bench and Measure run between queries), which must distinguish
  * an RDD *marked* for local checkpointing (unpersisting it now would
  * make its eventual materialization fail permanently) from one whose
  * checkpoint has materialized (safe to release once unreferenced).
  */
object GraftRddIntrospect {

  /** True iff `r` is marked for local checkpointing but the checkpoint
    * has not materialized yet — the state in which an unpersist
    * permanently breaks the RDD (storage level resets, and local
    * checkpoints cannot recompute once lineage is truncated at
    * materialization time). */
  def isPendingLocalCheckpoint(r: RDD[_]): Boolean =
    r.isLocallyCheckpointed && !r.isCheckpointed
}
