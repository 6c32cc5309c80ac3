package graft

import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Statistics-fed cost-based planning (round-8 verdict item 5): the
  * x10 profiler's numbers reach the session catalog and change join
  * shape — the Spark-native counterpart of the reference's
  * JoinReordering pass (optimizer.rs:9).
  */
class CboSpec extends SparkSpec {

  /** Leaf catalog-table names under `plan`, left-to-right. */
  private def leafTables(plan: LogicalPlan): Seq[String] =
    plan.collectLeaves().flatMap {
      case lr: LogicalRelation => lr.catalogTable.map(_.identifier.table)
      case _ => None
    }

  /** The DEEPEST join's leaf tables — the pair the optimizer chose to
    * join first. */
  private def firstJoined(plan: LogicalPlan): Set[String] = {
    val joins = plan.collect { case j: Join => j }
    assert(joins.nonEmpty, s"no join in:\n$plan")
    leafTables(joins.last).toSet
  }

  private def withCbo[A](enabled: Boolean)(body: => A): A = {
    val prev = (spark.conf.get("spark.sql.cbo.enabled", "false"),
      spark.conf.get("spark.sql.cbo.joinReorder.enabled", "false"))
    spark.conf.set("spark.sql.cbo.enabled", enabled.toString)
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", enabled.toString)
    try body
    finally {
      spark.conf.set("spark.sql.cbo.enabled", prev._1)
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", prev._2)
    }
  }

  // a 3-table star written in the WORST syntactic order: the two big
  // tables (orders 1.5k rows, customer 150 at sf0.01) join first, the
  // 25-row nation last — cost-based reorder should instead join the
  // dimensions first and leave the fact for the smallest intermediate
  private val q =
    """SELECT count(*) AS n
      |FROM graft_cat_orders o
      |JOIN graft_cat_customer c ON o.o_custkey = c.c_custkey
      |JOIN graft_cat_nation n ON c.c_nationkey = n.n_nationkey""".stripMargin

  private def feed(): Unit =
    Seq("orders", "customer", "nation").foreach { t =>
      graft.operators.Profile.feedSessionCatalog(
        spark, s"graft_cat_$t", s"$sfDir/$t.parquet")
    }

  test("profiler stats reach the catalog: row counts and NDVs are visible to the planner") {
    feed()
    val rel = spark.table("graft_cat_customer").queryExecution
      .optimizedPlan.collect { case lr: LogicalRelation => lr }.head
    val stats = rel.catalogTable.get.stats
    assert(stats.isDefined, "no CatalogStatistics on the fed table")
    val exact = spark.read.parquet(s"$sfDir/customer.parquet").count()
    assert(stats.get.rowCount.contains(BigInt(exact)))
    val ndv = stats.get.colStats("c_custkey").distinctCount.get
    // HLL at 1% rsd on a unique key: within 5% of exact
    assert((ndv - exact).abs <= exact / 20)
  }

  test("a 3-table join changes shape with stats present vs absent") {
    feed()
    val without = withCbo(enabled = false)(
      firstJoined(spark.sql(q).queryExecution.optimizedPlan))
    val withStats = withCbo(enabled = true)(
      firstJoined(spark.sql(q).queryExecution.optimizedPlan))
    // syntactic order joins the fact table first
    assert(without == Set("graft_cat_orders", "graft_cat_customer"), without)
    // cost-based reorder starts from the smaller pair instead
    assert(withStats != without,
      s"stats did not change the join order: still $withStats")
    assert(withStats.contains("graft_cat_nation"),
      s"expected the 25-row dimension in the first join, got $withStats")
    // and the reorder must not change the answer
    val n = withCbo(enabled = true)(spark.sql(q).collect()(0).getLong(0))
    assert(n == withCbo(enabled = false)(spark.sql(q).collect()(0).getLong(0)))
  }

  test("timestamp columns carry min/max stats and date-range filters estimate from them (h04 pin)") {
    // With spark.sql.parquet.inferTimestampNTZ.enabled=false
    // (GraftEngine.session) the fixtures' naive timestamp[us] columns
    // read as plain TIMESTAMP, which FilterEstimation handles — the
    // profiler must feed their min/max so h-suite date-range filters
    // (h04's orders quarter, h15's l_shipdate window) plan from real
    // bounds instead of default selectivity.
    graft.operators.Profile.feedSessionCatalog(
      spark, "graft_cat_lineitem_ts", s"$sfDir/lineitem.parquet")
    val rel = spark.table("graft_cat_lineitem_ts").queryExecution
      .optimizedPlan.collect { case lr: LogicalRelation => lr }.head
    val stats = rel.catalogTable.get.stats.get
    val ship = stats.colStats.get("l_shipdate")
    assert(ship.isDefined, "timestamp column got no catalog stat")
    assert(ship.get.min.isDefined && ship.get.max.isDefined,
      s"timestamp stat carries no bounds: ${ship.get}")
    withCbo(enabled = true) {
      val q = spark.sql(
        """SELECT * FROM graft_cat_lineitem_ts
          |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""".stripMargin)
      val filt = q.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
      }.head
      val total = stats.rowCount.get
      val est = filt.stats.rowCount
      assert(est.isDefined, "no row estimate under the range filter")
      // a ~3-month window over a ~6.5-year span: the estimate must be
      // a real narrowing, not the stat-less 25%-per-conjunct default
      assert(est.get < total / 5,
        s"range filter not estimated from bounds: est=$est of $total")
      assert(q.count() > 0)
    }
  }

  test("NTZ columns (non-default read conf) still carry NO stat: feed must not crash planning") {
    // Defensive path: a session reading with inferTimestampNTZ=true
    // gets TIMESTAMP_NTZ columns, for which Spark 4.1.2's
    // FilterEstimation.evaluateBinary has no case — a fed stat
    // MatchErrors planning, so the profiler must omit those columns
    // (default selectivity beats a crash — the h15 lesson).
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    try {
      graft.operators.Profile.feedSessionCatalog(
        spark, "graft_cat_lineitem_ntz", s"$sfDir/lineitem.parquet")
      val rel = spark.table("graft_cat_lineitem_ntz").queryExecution
        .optimizedPlan.collect { case lr: LogicalRelation => lr }.head
      val stats = rel.catalogTable.get.stats.get
      assert(!stats.colStats.contains("l_shipdate"),
        "NTZ column got a stat — FilterEstimation will MatchError on it")
      assert(stats.colStats.contains("l_orderkey"))
      withCbo(enabled = true) {
        val n = spark.sql(
          """SELECT count(*) FROM graft_cat_lineitem_ntz
            |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            |  AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'""".stripMargin)
          .collect()(0).getLong(0)
        assert(n > 0)
      }
    } finally spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
  }

  test("cached stats feed: second session-feed reads the artifact, no profiling scan") {
    val path = s"$sfDir/supplier.parquet"
    graft.operators.Profile.feedSessionCatalog(
      spark, "graft_cat_supplier_c1", path, cached = true)
    // artifact committed on first contact
    val art = graft.sources.ArtifactStore.pathFor(
      graft.sources.ArtifactStore.defaultRoot, "table_stats", path)
    assert(new java.io.File(art, "_SUCCESS").exists(), s"no stats artifact at $art")
    // the second feed must not launch a profiling job over the table —
    // only the one-row artifact read
    val scanned = jobCounts(graft.operators.Profile.feedSessionCatalog(
      spark, "graft_cat_supplier_c2", path, cached = true)).recordsRead
    val supplierRows = spark.read.parquet(path).count()
    assert(scanned < supplierRows,
      s"cached feed re-scanned the table ($scanned records vs $supplierRows rows)")
    val rel = spark.table("graft_cat_supplier_c2").queryExecution
      .optimizedPlan.collect { case lr: LogicalRelation => lr }.head
    assert(rel.catalogTable.get.stats.exists(_.rowCount.contains(BigInt(supplierRows))))
  }

  test("engine.enableCbo repoints views at stats-backed catalog relations") {
    val e = GraftEngine.cachedForDir(spark, sfDir)
    e.enableCbo()
    try {
      val plan = e.sql("SELECT * FROM nation").queryExecution.optimizedPlan
      val rel = plan.collect { case lr: LogicalRelation => lr }.head
      assert(rel.catalogTable.exists(_.stats.exists(_.rowCount.isDefined)),
        s"nation view is not backed by a stats-fed catalog table:\n$plan")
      // events keeps its ts normalization through the catalog swap
      assert(e.table("events").schema("ts").dataType.typeName.startsWith("timestamp"))
    } finally {
      // restore the plain temp views (session + dir-engine cache are
      // shared across suites) and the conf defaults
      Tables.all.foreach(t => e.loadTable(t, s"$sfDir/$t.parquet"))
      e.disableCbo()
    }
  }

  test("CBO reaches the DataFrame path: q07's plan is declared-order-independent") {
    import org.apache.spark.sql.functions._
    import graft.queries.Ops
    val e = GraftEngine.cachedForDir(spark, sfDir)
    e.enableCbo()
    try {
      // 1. Ops.t resolves to the stats-backed catalog relation in CBO mode
      val rel = Ops.t(spark, sfDir, "nation").queryExecution.optimizedPlan
        .collect { case lr: LogicalRelation => lr }.head
      assert(rel.catalogTable.exists(_.stats.exists(_.rowCount.isDefined)),
        "Ops.t must return the stats-fed catalog relation when CBO is on")

      // 2. the committed q07 vs the same query declared in the WORST
      // order (fact-fact joins first, the filtered region dead last):
      // CostBasedJoinReorder must normalize both to the identical plan.
      val good = graft.queries.Queries.all("q07_multijoin")(spark, sfDir)
      val r = Ops.t(spark, sfDir, "region").filter(col("r_name") === "ASIA")
      val n = Ops.t(spark, sfDir, "nation")
      val c = Ops.t(spark, sfDir, "customer")
      val o = Ops.t(spark, sfDir, "orders")
      val l = Ops.t(spark, sfDir, "lineitem")
      val su = Ops.t(spark, sfDir, "supplier")
      val bad = l
        .join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(su, l("l_suppkey") === su("s_suppkey") &&
          c("c_nationkey") === su("s_nationkey"))
        .join(n, su("s_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy("n_name")
        .agg(Ops.dsum(l("l_extendedprice") * (lit(1.0) - l("l_discount")))
          .as("revenue"))
        // q07's final sort is Ops.orderSmall since round 17 (bounded
        // result: one row per nation) — the variant must share the
        // coalesce(1) shape or the canonical compare fails on the
        // Repartition node alone
        .coalesce(1).orderBy("n_name")
      val goodPlan = good.queryExecution.optimizedPlan.canonicalized.toString
      val badPlan = bad.queryExecution.optimizedPlan.canonicalized.toString
      assert(goodPlan == badPlan,
        s"declared order leaked into the CBO plan:\nGOOD:\n$goodPlan\nBAD:\n$badPlan")
    } finally {
      Tables.all.foreach(t => e.loadTable(t, s"$sfDir/$t.parquet"))
      e.disableCbo()
    }
  }

  test("disableCbo restores the pre-enableCbo broadcast threshold") {
    val e = GraftEngine.cachedForDir(spark, sfDir)
    val before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    e.enableCbo()
    try {
      assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        .startsWith("4"), "enableCbo should raise the threshold to 40m")
      // idempotent re-enable must not overwrite the saved original
      e.enableCbo()
    } finally {
      Tables.all.foreach(t => e.loadTable(t, s"$sfDir/$t.parquet"))
      e.disableCbo()
    }
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before,
      "disableCbo must restore the ORIGINAL threshold, not a default")
    assert(spark.conf.get("spark.sql.cbo.enabled") == "false")
  }
}
