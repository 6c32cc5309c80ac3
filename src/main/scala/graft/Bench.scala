package graft

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Per-round benchmark: one compact JSON line on stdout (driver
  * contract) plus a FULL per-pass log written to BENCH_LOCAL.json.
  *
  * Methodology (evolved across rounds; round-6 changes marked):
  *  - execution via the `noop` sink, so every declared operator runs —
  *    `.count()` lets Catalyst prune projections and eliminate sorts;
  *  - per query: one untimed warmup then two timed passes — plus up
  *    to two adaptive extras while timings still descend >30%, so a
  *    transient contention episode spanning both baseline passes
  *    costs an extra pass instead of the reported number. ALL passes
  *    run back-to-back per query (round 6 — previously three full
  *    sweeps of the whole suite, which meant every timed pass ran
  *    against the accumulated resident state of all 114 queries; the
  *    r5 driver run showed contiguous blocks of 4–22× slowdowns
  *    consistent with memory-pressure episodes that per-query
  *    grouping + explicit cleanup below are designed to eliminate
  *    and, failing that, attribute);
  *  - after each query, storage hygiene: unpersist every persistent
  *    RDD (stray `localCheckpoint` blocks from iterative operators —
  *    d06 label propagation, k-means training — die with the query
  *    instead of accumulating) and drop any cached plans. Bench
  *    queries share nothing across invocations, so this releases only
  *    garbage, never reused state;
  *  - per pass, instrumentation: wall seconds, GC-time delta (sum over
  *    all collector beans), and heap-used after the pass — so a slow
  *    driver run is diagnosable post-hoc (was it GC? was the heap
  *    full? did wall time diverge from CPU?) instead of a mystery;
  *  - a failed query reports `-1` (explicit error marker), never a
  *    fast-looking elapsed time.
  */
object Bench {

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  private def heapUsedMb(): Long = {
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
  }

  /** 1-minute system load average — co-tenant contention shows up here
    * (a pressure episode with flat GC and flat heap but loadavg >> 32
    * is the machine, not this JVM). -1 where unsupported. */
  private def loadAvg1m(): Double =
    try ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    catch { case NonFatal(_) => -1.0 }

  /** Resident set size of this JVM process (MB), from /proc — heap,
    * off-heap, and mmap'd shuffle/parquet buffers together; the number
    * the container's memory limit actually sees. -1 off Linux. */
  private def rssMb(): Long =
    try {
      val line = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmRSS:"))
      line.map(_.replaceAll("[^0-9]", "").toLong / 1024).getOrElse(-1L)
    } catch { case NonFatal(_) => -1L }

  /** One timed execution: (wallSec, gcDeltaMs). */
  private case class Pass(sec: Double, gcMs: Long)

  /** Fixed-decimal render pinned to Locale.ROOT: the scala `f`
    * interpolator formats with the JVM default locale, so under e.g. a
    * de_DE default the decimal point becomes a comma and the final
    * stdout line is no longer valid JSON — the exact failure the
    * compact-line contract exists to prevent. */
  private[graft] def num(v: Double, dp: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${dp}f", Double.box(v))

  /** Per-query keys shortened to their unique suite prefix ("q01",
    * "q06a"; fast-mode entries "h01f"). The prefix is derived
    * structurally (up to the first underscore) for BOTH forms, so a
    * future fast entry on a longer-prefixed query (q06a) shortens
    * correctly instead of silently colliding. A colliding prefix
    * falls back to the full name — parse safety beats brevity. */
  def shortKeys(names: Seq[String]): Map[String, String] = {
    val base = names.map { n =>
      n -> (if (n.endsWith("_fast_double")) n.takeWhile(_ != '_') + "f"
            else n.takeWhile(_ != '_'))
    }.toMap
    val counts = base.values.groupBy(identity).map { case (k, v) => k -> v.size }
    base.map { case (full0, s) => full0 -> (if (counts(s) > 1) full0 else s) }
  }

  /** Per-query seconds at TWO SIGNIFICANT FIGURES, ≥100 s clamped to
    * "99" (full 3-decimal detail lives in BENCH_LOCAL.json): at 140+
    * inventory entries, fixed 2-decimal rendering outgrew the driver
    * artifact's 2000-char stdout tail in its worst case; 2 sf bounds
    * every value at 4 chars (and "-1" failure markers pass through),
    * which keeps ~30 queries of growth headroom. */
  private[graft] def sig2(v: Double): String =
    if (v < 0) "-1"
    else if (v >= 99.5) "99"
    else if (v >= 9.95) num(v, 0)
    else if (v >= 0.995) num(v, 1)
    else num(v, 2)

  /** The LAST stdout line: short keys, 2-significant-figure per-query
    * values (the full 3-decimal detail lives in BENCH_LOCAL.json,
    * which the legend points at), so the whole line fits the driver
    * artifact's 2000-char stdout tail (with room for the sbt
    * "[success]" footer that follows it). BenchLineSpec pins the
    * invariant against the full real query inventory. */
  def compactLine(entries: Seq[(String, Double)], total: Double,
      failed: Int, sfDir: String): String = {
    // the dual-mode *_fast_double twins are bench-only diagnostics —
    // not SparkEntry.queries keys, so not part of the driver's
    // per-query contract; excluding them (and the legend field —
    // BENCH_LOCAL.json is where full detail lives regardless) buys the
    // growing inventory ~8 queries of line budget
    val contract = entries.filterNot(_._1.endsWith("_fast_double"))
    val keys = shortKeys(contract.map(_._1))
    val qsShort = contract
      .map { case (k, v) => "\"" + keys(k) + "\":" + sig2(v) }
      .mkString("{", ",", "}")
    s"""{"metric":"total","value":${num(total, 3)},"unit":"sec","queries":$qsShort,""" +
      s""""failed":$failed,"sf":"$sfDir"}"""
  }

  /** The ten ingest-once artifact builders, keyed by the name their
    * prep time is recorded under (`prep<Name>Sec`). Each is a
    * fingerprint check when its artifact is already valid. */
  val artifactBuilders: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "Media" -> queries.MultimodalQueries.ensureMediaStore,
    "Decode" -> queries.MultimodalQueries.ensureDecodedFeatures,
    "Ann" -> queries.SimilarityQueries.ensureAnnIndex,
    "Cluster" -> queries.DedupQueries.ensureClusterIndex,
    "Pq" -> queries.SimilarityQueries.ensurePqIndex,
    "Span" -> queries.DedupQueries.ensureWindowIndex,
    "Sem" -> queries.SimilarityQueries.ensureSemIndex,
    "Band" -> queries.DedupQueries.ensureBandIndex,
    "Simhash" -> queries.DedupQueries.ensureSimhashIndex,
    "Shingle" -> queries.DedupQueries.ensureShingleSets)

  /** Release per-query transient storage: stray localCheckpoint
    * blocks and cached plans. Everything a bench query persists is
    * private to that invocation (verified: no bench query reads
    * another's cached state), so this only frees garbage — without
    * it, blocks wait for JVM GC + ContextCleaner, which under an
    * already-pressured heap is exactly too late. */
  def releaseTransientStorage(spark: SparkSession): Unit = {
    // skip RDDs MARKED for local checkpointing but not yet
    // materialized: localCheckpoint sets a storage level at mark
    // time, and unpersisting before the first action resets it —
    // the eventual materialization then fails permanently (this
    // killed x04 in the round-5 bench: the lazy view plan was
    // registered at x01, swept after x01–x03, evaluated at x04).
    // Materialized checkpoints and plain caches release as before.
    spark.sparkContext.getPersistentRDDs.values
      .filterNot(org.apache.spark.rdd.GraftRddIntrospect.isPendingLocalCheckpoint)
      .foreach(_.unpersist(blocking = false))
    spark.sharedState.cacheManager.clearCache()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val startMs = System.currentTimeMillis()
    val spark = GraftEngine.session(GraftConfig(
      master = s"local[$cpus]", appName = "graft-bench", shufflePartitions = cpus))

    def runOnce(name: String,
        run: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Pass] = {
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      try {
        run(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some(Pass((System.nanoTime() - t0) / 1e9, gcMillis() - gc0))
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          None
      }
    }

    // optional args narrow the run to named queries (dev iteration);
    // the driver invokes with no args → full suite, unchanged
    val names =
      if (args.nonEmpty) args.toSeq.sorted
      else SparkEntry.queries.keys.toSeq.sorted

    // UNTIMED artifact prep (round-8 verdict item 3): the media store
    // and the ANN centroid index are ingest-once artifacts — a fresh
    // environment pays their one-time build here, as its own recorded
    // metric, so the m-/s-query timings measure decode/search (the
    // read-many production shape), never store construction. No-op
    // (a fingerprint check) when the artifacts are already valid.
    def prepSec(body: => Unit): Double = {
      val t0 = System.nanoTime()
      try body catch {
        case NonFatal(e) => System.err.println(s"[bench] prep FAILED: ${e.getMessage}")
      }
      (System.nanoTime() - t0) / 1e9
    }
    val prepSecs = artifactBuilders.map { case (name, ensure) =>
      name -> prepSec(ensure(spark, sfDir))
    }
    // ANALYZE-equivalent: feed fingerprint-cached table statistics into
    // the session catalog and turn on cost-based join reorder for the
    // SQL surface (h-suite multi-way joins pick orders by estimated
    // cardinality instead of syntactic position). First contact with a
    // corpus vintage pays one profiling scan per table, recorded here;
    // warm runs read a one-row artifact.
    val prepStatsSec = prepSec(GraftEngine.cachedForDir(spark, sfDir).enableCbo(cached = true))
    releaseTransientStorage(spark)

    val detail = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val results = names.map { n =>
      val q = SparkEntry.queries(n)
      val ts = (System.currentTimeMillis() - startMs) / 1000.0
      val warm = runOnce(n, q)
      // two timed passes, plus up to two ADAPTIVE extras while timings
      // are still descending by >30% — a transient co-tenant episode
      // that hits both baseline passes (the r5 driver-bench failure
      // shape: contiguous 4–22× blocks) then costs one more pass, not
      // the query's reported number — OR while the last pass is an
      // ASCENDING outlier (>1.5× the min so far): an episode starting
      // mid-query would otherwise freeze a slow pair as the report
      // (r7 observed m01 at [3.6s, 6.7s] vs 1.6s steady — the old
      // descending-only rule stopped exactly when another pass would
      // have recovered the real number). Converged queries never pay.
      val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
      var ok = warm.isDefined
      while (ok && (passes.size < 2 || (passes.size < 4 && {
          val prevMin = passes.init.map(_.sec).min
          passes.last.sec < 0.7 * prevMin || passes.last.sec > 1.5 * prevMin
        }))) {
        runOnce(n, q) match {
          case Some(p) => passes += p
          case None => ok = false
        }
      }
      releaseTransientStorage(spark)
      val heap = heapUsedMb()
      val best = if (ok && passes.nonEmpty) passes.map(_.sec).min else -1.0
      def f(p: Option[Pass]) = p.map(x => num(x.sec, 4)).getOrElse("-1")
      def g(p: Option[Pass]) = p.map(_.gcMs.toString).getOrElse("-1")
      val passJson = passes.map(p => s"[${num(p.sec, 4)},${p.gcMs}]")
        .mkString("[", ",", "]")
      detail(n) =
        s"""{"ts":$ts,"warm":${f(warm)},"passes":$passJson,""" +
          s""""gcWarmMs":${g(warm)},""" +
          s""""heapMb":$heap,"rssMb":${rssMb()},"load1m":${loadAvg1m()}}"""
      n -> best
    }

    // dual-mode decimal bench (round-6 verdict item 8): the h-suite
    // money aggregates run DECIMAL(38,x)-exact so the DuckDB oracle
    // hash-matches bit-for-bit — SURVEY §6 measures that discipline at
    // ~5× on every money-summing query. Time the 5 most decimal-bound
    // h-queries in BOTH modes so the production-mode ratio is a
    // recorded number, not a footnote. Fast entries are bench-only (not
    // in the driver correctness contract; FastMathSpec bounds their
    // rtol vs exact).
    val fastEntries: Seq[(String, Double)] =
      graft.queries.Queries.fastTwins.map { case (full0, run) =>
        val key = full0.takeWhile(_ != '_') + "_fast_double"
        val warm = runOnce(key, run)
        val p1 = if (warm.isDefined) runOnce(key, run) else None
        val p2 = if (p1.isDefined) runOnce(key, run) else None
        releaseTransientStorage(spark)
        key -> ((p1, p2) match {
          case (Some(a), Some(b)) => math.min(a.sec, b.sec)
          case _ => -1.0
        })
      }

    // Revisit sweep (round 8): the r7 driver run showed recurring
    // 10-45s external-contention bursts (flat GC, 4%-used heap, warm
    // page cache, host load ~2/32 — and NOT reproducible at the same
    // heap size afterwards). When a burst outlasts all adaptive passes
    // (h04/h21/h22/m01/m02/t08 ran 2-5x steady in EVERY pass), the
    // reported min stays inflated. Re-time the slowest queries once
    // more at the END of the run — 100-300s of temporal distance
    // decorrelates the measurement from any episode that covered the
    // query's original window; min() keeps the old number if the
    // revisit itself lands in a burst. Cost ≈ the steady times of the
    // slow decile, ~10-15s at sf0.1.
    val revisitSecs = scala.collection.mutable.Map.empty[String, Double]
    val revisited = {
      // q29/x04 are PINNED into the sweep (round-9 verdict item 7):
      // both sit in the 1-2s band where a single contention burst can
      // double the reported number without tripping the >=0.8s slow-
      // decile filter on a lucky round — pinning them guarantees every
      // driver artifact carries a decorrelated second observation
      // (detail.<name>.revisit), so a regression claim about either is
      // checkable against noise in the same file
      val pinned = Set("q29_percentiles", "x04_sql_span_report")
      val suspects = results.filter(_._2 >= 0.8).sortBy(-_._2).take(12).map(_._1).toSet ++
        pinned.filter(results.toMap.get(_).exists(_ >= 0))
      results.map { case (n, best) =>
        if (!suspects(n)) n -> best
        else runOnce(n, SparkEntry.queries(n)) match {
          case Some(p) =>
            releaseTransientStorage(spark)
            revisitSecs(n) = p.sec
            n -> math.min(best, p.sec)
          case None => releaseTransientStorage(spark); n -> best
        }
      }
    }
    revisitSecs.foreach { case (n, sec) =>
      // splice the revisit observation into the per-query detail record
      detail(n) = detail(n).dropRight(1) + s""","revisit":${num(sec, 4)}}"""
    }

    val qs = (revisited ++ fastEntries).map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = revisited.map(_._2).filter(_ >= 0).sum
    val failed = revisited.count(_._2 < 0)
    val heapMax = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    val envJson =
      s"""{"cpus":$cpus,"heapMaxMb":$heapMax,"gcTotalMs":${gcMillis()},""" +
        s""""wallSec":${(System.currentTimeMillis() - startMs) / 1000.0},""" +
        prepSecs.map { case (name, sec) => s""""prep${name}Sec":${num(sec, 3)},""" }.mkString +
        s""""prepStatsSec":${num(prepStatsSec, 3)},""" +
        s""""startEpochMs":$startMs}"""
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"sf":"$sfDir"}"""
    println(line)
    // The driver's bench artifact stores (and parses from) only the LAST
    // 2000 chars of stdout; the full-name full-precision line above is
    // ~4000 chars, so every past round's artifact recorded parsed:null
    // (BENCH_r01–r06). Emit a LAST line that actually fits the window
    // (see compactLine; BenchLineSpec pins the size invariant against
    // the real query inventory). The short→full legend and full
    // precision live in BENCH_LOCAL.json, committed per round as the
    // primary artifact.
    val compact = compactLine(revisited ++ fastEntries, total, failed, sfDir)
    println(compact)
    val legendJson = shortKeys((revisited ++ fastEntries).map(_._1)).toSeq.sortBy(_._1)
      .map { case (full0, s) => "\"" + s + "\":\"" + full0 + "\"" }
      .mkString("{", ",", "}")
    val detailJson = detail.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""failed":$failed,"sf":"$sfDir","env":$envJson,"legend":$legendJson,""" +
        s""""detail":$detailJson}"""
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json"))
    java.nio.file.Files.write(out,
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
