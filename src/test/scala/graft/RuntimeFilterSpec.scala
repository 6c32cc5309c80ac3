package graft

import org.apache.spark.sql.functions._

/** Runtime bloom-filter injection (semi-join reduction) — the shuffle
  * reducer for selective fact-fact joins at 100 TB: Catalyst builds a
  * bloom filter over the FILTERED small side's join keys and applies it
  * as a `might_contain` predicate on the big side's scan, so rows that
  * cannot join are dropped BEFORE the big side is shuffled. The
  * reference's optimizer has no runtime-filter pass (optimizer.rs is
  * static rewrites only); on Spark the capability comes with Catalyst —
  * this spec pins that it actually engages for the join shape our
  * workload uses, and PLANS.md documents the conf story.
  */
class RuntimeFilterSpec extends SparkSpec {

  test("a selective dimension filter injects a bloom filter on the fact side of a shuffle join") {
    // thresholds sized for the local corpus: creation side must be small
    // (it is), application side must look scan-heavy (waive the 10 GB
    // floor); broadcast disabled so the join is the shuffle shape where
    // the filter pays for itself at scale
    withConfs(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val joined = lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(sum("l_quantity").as("qty"))
      val optimized = joined.queryExecution.optimizedPlan.toString()
      assert(optimized.contains("might_contain"),
        s"expected a runtime bloom filter on the fact scan:\n$optimized")
      // and the filtered plan still computes the right answer
      val viaFilter = joined.collect().map(r => r.getString(0) -> r.getAs[Double]("qty")).toMap
      assert(viaFilter.keySet == Set("1-URGENT") && viaFilter("1-URGENT") > 0)
    }
  }

  test("no bloom filter without a selective creation-side predicate (no wasted filter build)") {
    withConfs(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val joined = lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
      val optimized = joined.queryExecution.optimizedPlan.toString()
      assert(!optimized.contains("might_contain"),
        s"bloom filter should only inject when the creation side is filtered:\n$optimized")
    }
  }
}
