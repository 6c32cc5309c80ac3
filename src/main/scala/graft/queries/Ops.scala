package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Shared helpers for the driver-checked query suite.
  *
  * Cross-engine float determinism: a double SUM's value depends on
  * accumulation order, which differs between Spark (partitioned) and the
  * DuckDB oracle. So aggregates over doubles are computed in exact
  * decimal arithmetic — each input is rounded once to 4 decimals
  * (identical IEEE-754 → identical decimal in both engines), summed
  * exactly, then cast back to double. Row-level arithmetic (no
  * reordering) stays in plain doubles.
  */
object Ops {
  /** Exact, order-independent sum of a double column. SQL twin:
    * `CAST(SUM(CAST(x AS DECIMAL(28,4))) AS DOUBLE)`. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(28, 4))).cast("double")

  /** Exact-sum-based average. SQL twin:
    * `CAST(SUM(CAST(x AS DECIMAL(28,4))) AS DOUBLE) / COUNT(x)`. */
  def davg(c: Column): Column = dsum(c) / count(c)

  /** Adaptive scan fan-out (guide §2.5 "input skew: one huge
    * unsplittable file … repartition immediately after the read").
    *
    * The driver fixtures are SINGLE-row-group parquet files, which cap
    * scan parallelism at ONE TASK however many cores the session has —
    * parquet can only split at row-group boundaries — so every map-side
    * operation over them (decimal aggregation, regex/text derivation)
    * runs serial. When the file layout under `df` supports fewer scan
    * tasks than HALF the cluster's default parallelism, insert a
    * round-robin repartition to the default parallelism right above the
    * scan; pushed filters and pruned columns stay at the scan (verified:
    * PushedFilters/ReadSchema unchanged under the wrap), and everything
    * above the exchange runs wide. When the layout already provides
    * enough scan tasks — any real at-scale table, e.g. the GenScale
    * sf1/sf10 corpora with 32 part files — this is the IDENTITY and no
    * exchange is added, so plans at scale are untouched: the knob
    * derives from input layout, never from a local-mode constant.
    *
    * Correctness: a round-robin exchange changes only partitioning.
    * Every value-compared aggregate in the suite is order-independent
    * by construction (exact DECIMAL sums / counts / min-max — the
    * cross-engine determinism discipline in the header above), so
    * results are bit-identical; the full oracle sweep re-certifies. */
  def fanScan(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val par = spark.sparkContext.defaultParallelism
    val files = df.inputFiles
    if (files.isEmpty) return df // in-process frame: no file layout
    val sconf = spark.sessionState.conf
    val maxPB = sconf.filesMaxPartitionBytes
    val openCost = sconf.filesOpenCostInBytes
    val minPartNum = sconf.filesMinPartitionNum.getOrElse(par)
    val conf = spark.sessionState.newHadoopConf()
    // Mirror Spark's own split sizing (FilePartition.maxSplitBytes +
    // greedy bin-packing, ADVICE r17): each file is charged openCost
    // when packed, and the split size shrinks toward bytesPerCore for
    // small corpora — so a many-tiny-files layout estimates the PACKED
    // partition count Spark will actually schedule, not one task per
    // file (the old ceil(len/maxPB)-per-file sum over-counted exactly
    // there and silently skipped the fan).
    val estTasks =
      try {
        val totalBytes = files.map { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(conf).getFileStatus(p).getLen + openCost
        }.sum
        val bytesPerCore = totalBytes / math.max(1, minPartNum)
        val maxSplit = math.min(maxPB, math.max(openCost, bytesPerCore))
        math.max(1L, (totalBytes + maxSplit - 1) / math.max(1L, maxSplit))
      } catch { case scala.util.control.NonFatal(_) => return df }
    if (estTasks < par / 2) df.repartition(par) else df
  }

  /** Deterministic global sort for a BOUNDED (aggregate-sized) result:
    * `coalesce(1)` then the same `orderBy`. A single-partition child
    * already satisfies the sort's required distribution, so the
    * planner emits a local Sort with NO range exchange and NO
    * range-partitioner sampling job — measured ~60–150 ms of fixed
    * per-query cost at sf0.1 (the sampling pass is a whole extra Spark
    * job), and two fewer plan nodes at every scale. Identical rows,
    * identical order: only the partitioning of the sort changes.
    *
    * Use ONLY where the result stays aggregate-sized at ANY scale
    * (rollups over bounded key domains — flags, nations, languages,
    * funnel stages — top-k, global summaries): the coalesce also
    * narrows the FINAL stage to one task, which is exactly right for a
    * handful of output rows and exactly wrong for results whose
    * cardinality grows with the dataset. Round 18 (ADVICE r17):
    * calendar-indexed rollups (per-hour windows, per-day series,
    * cohort weeks) are NOT bounded — their row count grows with the
    * corpus's time span, and worse, the single final task would absorb
    * every map-side partial row at the reduce — so q11/q30/q45/q48/
    * q53/q59 keep the parallel range sort. Year-granularity groupings
    * (decades of keys at most) stay eligible. */
  implicit class SmallSortOps(private val df: DataFrame) {

    def orderSmall(cols: Column*): DataFrame = df.coalesce(1).orderBy(cols: _*)
    def orderSmall(col1: String, colRest: String*): DataFrame =
      df.coalesce(1).orderBy(col1, colRest: _*)
  }

  /** SQL-side twins, for building oracle strings. */
  def sqlDsum(e: String): String = s"CAST(SUM(CAST($e AS DECIMAL(28,4))) AS DOUBLE)"
  def sqlDavg(e: String): String = s"(${sqlDsum(e)} / COUNT($e))"

  /** Table read for the query suite. In CBO mode (the Verify/Bench
    * planning mode: `GraftEngine.enableCbo` fed table statistics and
    * set `spark.sql.cbo.enabled`), the read resolves to the stats-
    * backed catalog relation enableCbo registered for this exact path,
    * so DATAFRAME-path multijoins get the same CostBasedJoinReorder
    * treatment the SQL surface gets (round-15 verdict: q07 was
    * hand-ordered because this path was stat-less) — and the raised
    * broadcast threshold's decompressed-size justification now holds
    * for these frames too. Outside CBO mode (specs, ad-hoc sessions)
    * this is a plain lazy parquet read ([[graft.Tables.read]]),
    * estimated from file sizes as before; the fallthrough also covers
    * CBO sessions whose catalog has no entry for this corpus dir. Schema
    * and values are identical either way (same files), so oracles don't
    * care which path planned the scan. */
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    if (spark.conf.get("spark.sql.cbo.enabled", "false") == "true") {
      val cat = s"graft_cat_${name}_${graft.GraftEngine.pathTag(path)}"
      if (spark.catalog.tableExists(cat)) return spark.table(cat)
    }
    graft.Tables.read(spark, path)
  }

  /** DuckDB twin of [[graft.operators.Dedup.dot]]: sequential fold in
    * list order, bounds derived from the list itself (no hard-coded
    * dimension — a corpus with a different embedding width stays
    * oracle-comparable). Matches DotProduct's edge semantics: length
    * mismatch → NULL (never a plausible partial sum over the shorter
    * prefix), two empty lists → 0.0 (SQL SUM of zero rows is NULL). */
  def sqlListDot(a: String, b: String): String =
    s"(CASE WHEN $a IS NULL OR $b IS NULL OR len($a) <> len($b) THEN NULL ELSE " +
      s"coalesce(list_sum(list_transform(generate_series(1, len($a)), i -> $a[i] * $b[i])), 0.0) END)"

  /** DuckDB twin of the per-vector L2 norm used by cosine scoring. */
  def sqlListNorm(e: String): String =
    s"sqrt(list_sum(list_transform($e, x -> x * x)))"

  /** DuckDB twin of [[graft.operators.Dedup.signBucket]]. */
  def sqlSignBucket(v: String, bits: Int): String =
    (1 to bits).map(i => s"CASE WHEN $v[$i] > 0 THEN '1' ELSE '0' END").mkString(" || ")

  /** DuckDB twin of [[graft.operators.Dedup.adaptiveSignBits]]: a CASE
    * chain over the SAME integer thresholds (target·2^b), generated
    * from the same constants — integer compares on both sides, so the
    * engines cannot straddle a boundary the way float log2 could. */
  def sqlAdaptiveSignBits(countExpr: String): String = {
    import graft.operators.Dedup
    val cases = (Dedup.SignBits until Dedup.MaxSignBits)
      .map(b => s"WHEN $countExpr <= ${Dedup.SignBucketTarget << b} THEN $b")
      .mkString(" ")
    s"(CASE $cases ELSE ${Dedup.MaxSignBits} END)"
  }

  /** DuckDB twin of [[graft.operators.Similarity.adaptiveCells]]: the
    * power-of-2 doubling over the SAME integer thresholds
    * (target · k), generated from the same constants. */
  def sqlAdaptiveCells(countExpr: String): String = {
    import graft.operators.Similarity
    val ks = Iterator.iterate(Similarity.NCentroids)(_ * 2)
      .takeWhile(_ < Similarity.MaxSemCells).toSeq
    val cases = ks
      .map(k => s"WHEN $countExpr <= ${Similarity.SemCellTarget * k} THEN $k")
      .mkString(" ")
    s"(CASE $cases ELSE ${Similarity.MaxSemCells} END)"
  }

  /** Variable-width twin of [[sqlSignBucket]] for when the bit count
    * is itself a SQL expression (the adaptive-width oracle). */
  def sqlSignBucketVar(v: String, bitsExpr: String): String =
    s"array_to_string(list_transform(range(1, $bitsExpr + 1), " +
      s"i -> CASE WHEN $v[i] > 0 THEN '1' ELSE '0' END), '')"

  /** Normalize the events `ts` column to a session-TZ TIMESTAMP,
    * whatever physical type the fixture vintage stored:
    *
    *  - TIMESTAMP(NANOS) parquet + `spark.sql.legacy.parquet.nanosAsLong`
    *    (set once in GraftEngine.session) → Spark reads a raw LongType of
    *    epoch-nanos; rebuild with integer division (`ts / 1000` in double
    *    would lose precision at nanosecond epoch magnitudes).
    *  - plain `timestamp[us]` parquet → Spark reads TIMESTAMP_NTZ;
    *    reinterpret as a session-TZ instant. The session TZ is UTC
    *    (GraftConfig.sessionTimeZone), so the cast is value-preserving
    *    and matches what the DuckDB oracle sees reading the same file.
    *  - already TimestampType → pass through.
    *
    * Every consumer downstream (date_part grouping, as-of joins,
    * watermarked streaming) then sees one stable TimestampType column
    * regardless of which fixture generation wrote the parquet. */
  def normalizeEventTs(df: DataFrame): Column = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType)         => expr("timestamp_micros(ts DIV 1000)")
      case Some(TimestampNTZType) => col("ts").cast("timestamp")
      case _                      => col("ts")
    }
  }

  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = t(spark, dir, "events")
    raw.withColumn("ts", normalizeEventTs(raw))
  }
}
