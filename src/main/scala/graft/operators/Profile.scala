package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ANALYZE-style table profiling: one row per column with null counts,
  * distinct cardinality, and min/max — the catalog surface
  * (reference: catalog.rs row_count/schema) extended to the statistics
  * a warehouse ANALYZE collects.
  *
  * Scale shape: the production pass (`exactCheck = false`) is ONE
  * aggregation over ONE scan — nulls/min/max per column plus an HLL
  * sketch per column (`approx_count_distinct`, rsd 1%); no Expand, no
  * per-column rescans, no exact distinct anywhere. The single result
  * row is shared via a lazy localCheckpoint and unpivoted into
  * per-column rows driver-free.
  *
  * `exactCheck = true` (the oracle-gate mode) additionally computes the
  * EXACT per-column distinct count — one small aggregate per column —
  * and ships `approx_ok`, the q42-style error-bound verdict: the HLL
  * estimate must land within `relErr` of exact (rsd 0.01 makes the
  * default 5% bound a 5σ budget). The DuckDB oracle recomputes the
  * exact columns and asserts TRUE; a sketch gone wrong hash-mismatches.
  */
object Profile {

  private def isNum(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _              => false
  }

  /** The one-pass single-row statistics aggregate (pre-checkpoint) —
    * exposed so specs can assert its plan shape (one scan, no Expand,
    * sketches not exact distincts), which the lazy checkpoint wrapper
    * hides behind a LogicalRDD. */
  def statsRow(df: DataFrame): DataFrame = {
    val fields = df.schema.fields.toSeq
    val aggs = Seq(count(lit(1)).as("__n")) ++ fields.flatMap { f =>
      val c = col(f.name)
      Seq(
        count(c).as(s"cnt_${f.name}"),
        approx_count_distinct(c, rsd = 0.01).as(s"ad_${f.name}"),
        (if (isNum(f.dataType)) round(min(c).cast("double"), 4)
         else lit(null).cast("double")).as(s"mn_${f.name}"),
        (if (isNum(f.dataType)) round(max(c).cast("double"), 4)
         else lit(null).cast("double")).as(s"mx_${f.name}"),
        (if (isNum(f.dataType)) lit(null).cast("string")
         else min(c).cast("string")).as(s"mns_${f.name}"),
        (if (isNum(f.dataType)) lit(null).cast("string")
         else max(c).cast("string")).as(s"mxs_${f.name}"))
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Feed this profiler's statistics to the SESSION CATALOG so
    * Catalyst's cost-based optimizer can use them — the layer the
    * reference's hand-rolled join reordering (optimizer.rs:9
    * JoinReordering) maps onto in Spark. Registers `path` as an
    * external parquet catalog table `name` (idempotent; no data moves;
    * the entry takes the schema of the read of `path`, so no inference
    * job runs) and attaches [[statsRow]]'s numbers — row count,
    * per-column null counts, HLL distinct counts, numeric min/max — as
    * `CatalogStatistics`, exactly what `ANALYZE TABLE ... COMPUTE
    * STATISTICS FOR ALL COLUMNS` would store, from the profiler's ONE
    * scan instead of ANALYZE's own.
    *
    * With `spark.sql.cbo.enabled` + `spark.sql.cbo.joinReorder.enabled`
    * set, multi-way joins over these tables re-order by estimated
    * cardinality instead of syntactic order (CboSpec pins a 3-table
    * join changing shape with stats present vs absent). At 100 TB this
    * is the defense AQE alone can't supply: AQE re-plans at shuffle
    * boundaries ALREADY MATERIALIZED — a misordered fact-fact-fact join
    * has paid for its worst shuffle before AQE sees the sizes, while
    * CBO orders the plan before anything runs. */
  def feedSessionCatalog(spark: org.apache.spark.sql.SparkSession,
      name: String, path: String, cached: Boolean = false): Unit =
    feedSessionCatalog(spark, name, path, graft.Tables.read(spark, path), cached)

  /** [[feedSessionCatalog]] over `df`, the caller's existing read of
    * `path` (GraftEngine.enableCbo passes the read its table registered
    * with). */
  def feedSessionCatalog(spark: org.apache.spark.sql.SparkSession,
      name: String, path: String, df: DataFrame, cached: Boolean): Unit = {
    if (!spark.catalog.tableExists(name))
      spark.catalog.createTable(name, "parquet", df.schema, Map("path" -> path))
    // `cached` persists the single stats row as a fingerprint-guarded
    // artifact: the ANALYZE scan runs once per corpus vintage, every
    // later session feeds the catalog from a one-row parquet read —
    // the amortization that lets the bench/verify path run CBO-fed
    // without paying a profiling pass per run.
    val statsDf =
      if (cached)
        graft.sources.ArtifactStore.getOrBuild(df,
          graft.sources.ArtifactStore.pathFor(
            graft.sources.ArtifactStore.defaultRoot, "table_stats", path))(
          statsRow(df))(spark)
      else statsRow(df)
    attachStats(spark, name, df, statsDf)
  }

  /** Profiler-ANALYZE for an EXISTING session-catalog table (the
    * bucketed-layout path: a bucket spec lives ONLY in the catalog
    * entry `saveAsTable` wrote, so re-registering the files as an
    * external table — feedSessionCatalog's route — would shed it).
    * One profiling scan of the table, stats attached in place. */
  def analyzeCatalogTable(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit = {
    val df = spark.table(name)
    attachStats(spark, name, df, statsRow(df))
  }

  private def attachStats(spark: org.apache.spark.sql.SparkSession,
      name: String, df: DataFrame, statsDf: DataFrame): Unit = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat, CatalogStatistics}
    val one = statsDf.collect()(0)
    val n = one.getAs[Long]("__n")
    // TimestampNTZ columns get NO column stat at all: Spark's
    // FilterEstimation.evaluateBinary (4.1.2) matches the attribute's
    // type before consulting the stat's bounds and has no NTZ case, so
    // ANY range predicate over an NTZ column WITH a catalog stat
    // MatchErrors the whole planning phase (h15's l_shipdate window
    // found it). A missing stat falls back to default selectivity —
    // degraded estimation beats a crashed plan. (The production
    // session no longer PRODUCES NTZ reads —
    // spark.sql.parquet.inferTimestampNTZ.enabled=false in
    // GraftEngine.session maps the fixtures' naive timestamp[us] to
    // plain TIMESTAMP, which FilterEstimation handles — so this
    // exclusion is defense for sessions running other read confs.)
    val colStats = df.schema.fields.iterator
      .filterNot(_.dataType == TimestampNTZType).map { f =>
      val nulls = n - one.getAs[Long](s"cnt_${f.name}")
      // numeric min/max travel in CatalogColumnStat's external string
      // form, which is parsed back BY COLUMN TYPE — an integral column
      // must carry "42", not the profiler's "42.0" double render.
      // Non-numeric (and decimal: the profiler's 4-dp double
      // round-trip can't represent them faithfully) columns skip
      // min/max; NDV + null counts drive join cardinality either way.
      // DATE/TIMESTAMP columns ride the profiler's STRING min/max
      // instead (mns_/mxs_), re-rendered to the exact external forms
      // CatalogColumnStat.fromExternalString parses for those types
      // ("yyyy-MM-dd" / "yyyy-MM-dd HH:mm:ss.SSSSSS" in the UTC
      // session TZ) — these are what make h-suite date-range filters
      // estimate from real bounds instead of default selectivity.
      def ext(v: Double): Option[String] = f.dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          Some(v.toLong.toString)
        case FloatType | DoubleType => Some(v.toString)
        case _ => None
      }
      // Spark's cast-to-string render trims trailing zero fractions
      // ("1995-01-01 00:00:00"); the external TimestampType parser
      // requires the full 6-digit micros field. Re-pad driver-side.
      def tsExternal(s: String): String = {
        val dot = s.indexOf('.')
        if (dot < 0) s + ".000000"
        else s.substring(0, dot + 1) + (s.substring(dot + 1) + "000000").take(6)
      }
      def strOpt(colName: String): Option[String] = {
        val i = one.fieldIndex(colName)
        if (one.isNullAt(i)) None else Some(one.getString(i))
      }
      // isNullAt, not Option(getAs[Double]): getAs unboxes SQL NULL
      // (an all-null column's min/max) to primitive 0.0, which would
      // feed the CBO a fabricated min=max="0" range for a column that
      // has NO range — silently skewing every selectivity estimate
      // over it. A null stat must stay absent.
      def numOpt(colName: String): Option[Double] = {
        val i = one.fieldIndex(colName)
        if (one.isNullAt(i)) None else Some(one.getDouble(i))
      }
      val (mn, mx) = f.dataType match {
        case dt if isNum(dt) =>
          (numOpt(s"mn_${f.name}").flatMap(ext),
            numOpt(s"mx_${f.name}").flatMap(ext))
        case DateType =>
          (strOpt(s"mns_${f.name}"), strOpt(s"mxs_${f.name}"))
        case TimestampType =>
          (strOpt(s"mns_${f.name}").map(tsExternal),
            strOpt(s"mxs_${f.name}").map(tsExternal))
        case _ => (None, None)
      }
      f.name -> CatalogColumnStat(
        distinctCount = Some(BigInt(one.getAs[Long](s"ad_${f.name}"))),
        min = mn, max = mx,
        nullCount = Some(BigInt(nulls)),
        avgLen = None, maxLen = None)
    }.toMap
    val sizeInBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    spark.sessionState.catalog.alterTableStats(TableIdentifier(name),
      Some(CatalogStatistics(sizeInBytes, Some(BigInt(n)), colStats)))
  }

  /** `share` controls how the single stats row is reused across the
    * per-column unpivot branches. The default lazy localCheckpoint is
    * right for one-shot queries; a long-lived VIEW must pass a persist-
    * based share instead — with AQE, planning a checkpoint (toRdd)
    * materializes query stages, i.e. runs jobs at registration time
    * (StorageLifecycleSpec pins registration at zero jobs). */
  def profile(df: DataFrame, exactCheck: Boolean = false,
              relErr: Double = 0.05,
              share: DataFrame => DataFrame = _.localCheckpoint(eager = false)): DataFrame = {
    val fields = df.schema.fields.toSeq
    val one = share(statsRow(df))
    val base = fields.map { f =>
      one.select(
        lit(f.name).as("col_name"),
        col("__n").as("n_rows"),
        (col("__n") - col(s"cnt_${f.name}")).as("n_nulls"),
        col(s"ad_${f.name}").as("__approx"),
        col(s"mn_${f.name}").as("min_num"),
        col(s"mx_${f.name}").as("max_num"),
        col(s"mns_${f.name}").as("min_s"),
        col(s"mxs_${f.name}").as("max_s"))
    }.reduce(_.union(_))
    if (!exactCheck) {
      base.withColumnRenamed("__approx", "approx_distinct")
    } else {
      // Round 18: ALL exact distinct counts ride ONE aggregate over ONE
      // scan (the union form paid one corpus scan PER COLUMN — measured
      // at sf0.1: x10 executed 17 parquet scans / 75 exchanges). A
      // multi-distinct aggregate plans through Expand, whose map-side
      // partial dedup bounds the shuffle at Σ per-column NDV — at any
      // scale that is one table read plus an NDV-bounded exchange,
      // strictly better than |columns| full scans. (The PRODUCTION
      // profile stays sketch-only/Expand-free — ProfileSpec pins it;
      // this is the oracle-gate mode, where exactness is the point.)
      val nds = fields.map(f => countDistinct(col(f.name)).as(s"nd_${f.name}"))
      val exactRow = share(df.agg(nds.head, nds.tail: _*))
      val exact = fields.map { f =>
        exactRow.select(lit(f.name).as("col_name"),
          col(s"nd_${f.name}").as("n_distinct"))
      }.reduce(_.union(_))
      base.join(exact, "col_name")
        .select(
          col("col_name"), col("n_rows"), col("n_nulls"), col("n_distinct"),
          (abs(col("__approx") - col("n_distinct")) <= col("n_distinct") * relErr)
            .as("approx_ok"),
          col("min_num"), col("max_num"), col("min_s"), col("max_s"))
    }
  }
}
