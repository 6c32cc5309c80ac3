package graft

import graft.operators.Profile
import org.apache.spark.sql.functions._

class ProfileSpec extends SparkSpec {

  import spark.implicits._

  test("profile counts nulls, distincts, and min/max exactly on planted data") {
    val df = Seq(
      (1L, Some("a"), Some(1.5)),
      (2L, None, Some(2.5)),
      (3L, Some("c"), None),
      (4L, Some("a"), Some(2.5)))
      .toDF("id", "s", "v")
    val rows = Profile.profile(df, exactCheck = true).collect()
      .map(r => r.getString(0) -> r).toMap
    val id = rows("id")
    assert(id.getLong(1) == 4 && id.getLong(2) == 0 && id.getLong(3) == 4)
    assert(id.getBoolean(4), "HLL estimate out of bound on 4 values")
    assert(id.getDouble(5) == 1.0 && id.getDouble(6) == 4.0)
    assert(id.isNullAt(7) && id.isNullAt(8))
    val s = rows("s")
    assert(s.getLong(2) == 1 && s.getLong(3) == 2)
    assert(s.getString(7) == "a" && s.getString(8) == "c")
    assert(s.isNullAt(5) && s.isNullAt(6))
    val v = rows("v")
    assert(v.getLong(2) == 1 && v.getLong(3) == 2)
    assert(v.getDouble(5) == 1.5 && v.getDouble(6) == 2.5)
  }

  test("production profile is one aggregation pass: no exact distinct, no Expand") {
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    // the stats aggregate (the part that touches the corpus): one scan,
    // sketches only — the checkpoint wrapper in profile() hides this
    // subtree behind a LogicalRDD, so assert on it directly
    val agg = Profile.statsRow(orders).queryExecution.executedPlan.toString
    assert(!agg.contains("Expand"), s"multi-distinct Expand in profile plan:\n$agg")
    val scans = "parquet".r.findAllIn(agg).length
    assert(scans >= 1, s"no parquet scan found:\n$agg")
    assert(agg.toLowerCase.contains("approx_count_distinct")
      || agg.contains("HyperLogLog"), s"no HLL sketch found:\n$agg")
    assert(!agg.toLowerCase.contains("count(distinct"),
      s"exact distinct in the production pass:\n$agg")
    // and the production output must not add exact-distinct passes either
    val full = Profile.profile(orders).queryExecution.executedPlan.toString
    assert(!full.toLowerCase.contains("count(distinct"), full)
  }

  test("x10 profile over orders reports sane stats and a green sketch verdict") {
    val out = queries.SqlSurfaceQueries.defs("x10_sql_profile")(spark, sfDir).collect()
    assert(out.length == 6)
    assert(out.forall(_.getBoolean(4)), "approx_ok must hold on every column")
    val n = spark.read.parquet(s"$sfDir/orders.parquet").count()
    assert(out.forall(_.getLong(1) == n))
    val key = out.find(_.getString(0) == "o_orderkey").get
    assert(key.getLong(3) == n, "o_orderkey must be unique")
  }

  test("exactCheck profile reads the table ~twice for ALL exact distincts (round 18)") {
    // the r17 form ran one countDistinct aggregate PER COLUMN (one
    // corpus scan each — 6+1 orders reads per materialization); the
    // fused multi-distinct aggregate must keep the whole profile at
    // TWO table reads (stats row + exact row), checkpoint-shared into
    // the per-column unpivot. The scans hide behind the lazy-checkpoint
    // LogicalRDDs in the plan string, so measure actual file bytes read
    // (the t19 corpus-once technique).
    val path = s"$sfDir/orders.parquet"
    val b0 = fileBytesRead
    // full-width single pass (noop reads every column, like the profile)
    spark.read.parquet(path).write.format("noop").mode("overwrite").save()
    val onePass = fileBytesRead - b0
    assert(onePass > 0)
    val b1 = fileBytesRead
    val out = Profile.profile(spark.read.parquet(path), exactCheck = true).collect()
    val profiled = fileBytesRead - b1
    assert(out.nonEmpty)
    // stats pass + exact pass + slack; the per-column form read 7 passes
    assert(profiled < onePass * 3.5,
      s"exactCheck profile read $profiled bytes vs $onePass for one pass — still rescanning per column")
  }

  test("feedSessionCatalog: an all-null numeric column feeds NO fabricated min/max range") {
    import spark.implicits._
    val dir = s"${sys.props("java.io.tmpdir")}/graft_allnull_${System.nanoTime()}"
    Seq((1L, Option.empty[Double], 5L), (2L, Option.empty[Double], 9L))
      .toDF("id", "dead", "live")
      .write.mode("overwrite").parquet(dir)
    val name = "graft_cat_allnull"
    try {
      Profile.feedSessionCatalog(spark, name, dir)
      val stats = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(name))
        .stats.get
      val dead = stats.colStats("dead")
      // the round-11 bug: SQL NULL unboxed to 0.0 → min=max="0.0" on a
      // column with no values at all
      assert(dead.min.isEmpty && dead.max.isEmpty,
        s"all-null column fed a fabricated range: min=${dead.min} max=${dead.max}")
      assert(dead.nullCount.contains(BigInt(2)))
      // columns with values keep their real range
      val live = stats.colStats("live")
      assert(live.min.contains("5") && live.max.contains("9"), live)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS `$name`")
    }
  }
}
