package graft

import graft.operators.{Dedup, Similarity}

/** Checkpoint-storage lifecycle (round-4 verdict item 1): a long-lived
  * session must not accumulate storage across operator calls. Two
  * invariants:
  *
  *  1. `registerPipelineViews` is genuinely lazy — zero Spark jobs,
  *     zero pinned RDDs (the round-4 bug ran d10's full corpus
  *     scan + md5 window job at every registration).
  *  2. Iterative operators (d06 label propagation, k-means rounds)
  *     release each superseded round's checkpoint as soon as the next
  *     round is materialized — repeated calls leave at most ONE
  *     pinned table each (the final result, reclaimed by the
  *     ContextCleaner once the caller drops it), not one per round.
  */
class StorageLifecycleSpec extends SparkSpec {

  private def pinned: Int = spark.sparkContext.getPersistentRDDs.size

  test("registerPipelineViews is lazy: zero jobs, zero pinned RDDs") {
    val sc = spark.sparkContext
    // engine construction (parquet schema reads) is out of scope; the
    // invariant is about view REGISTRATION
    val e = GraftEngine.forDir(spark, sfDir)
    // a lazy checkpoint REGISTERS in the persist map at plan
    // construction (no blocks yet); the invariant is that no block
    // is ever computed or stored at registration time
    def cachedBlocks: Int =
      sc.getRDDStorageInfo.map(_.numCachedPartitions).sum
    val before = cachedBlocks
    val jobs = jobCounts(e.registerPipelineViews()).jobs
    assert(jobs == 0,
      s"view registration ran $jobs Spark job(s); views must hold lazy plans")
    assert(cachedBlocks == before,
      "view registration materialized checkpoint blocks")
  }

  test("resolveComponents releases per-round checkpoints across repeated calls") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val pairs = Dedup.minhashCandidates(docs)
    def runOnce(): Int = {
      Dedup.resolveComponents(docs.select("doc_id"), pairs).count()
      pinned
    }
    val first = runOnce()
    val after = (1 to 3).map(_ => runOnce()).last
    // each call may leave its FINAL label checkpoint (ContextCleaner's
    // job once the result is dropped) but nothing per-round: the
    // pre-fix behavior leaked rounds+2 tables per call
    assert(after - first <= 3,
      s"checkpoint storage grew $first -> $after over 3 repeated calls")
  }

  test("kmeansCentroids releases superseded rounds across repeated calls") {
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def runOnce(): Int = {
      Similarity.kmeansCentroids(embs).count()
      pinned
    }
    val first = runOnce()
    val after = (1 to 2).map(_ => runOnce()).last
    assert(after - first <= 2,
      s"checkpoint storage grew $first -> $after over 2 repeated calls")
  }
}
