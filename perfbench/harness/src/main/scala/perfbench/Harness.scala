package perfbench

import graft.{GenScale, GraftConfig, GraftEngine, SparkEntry}
import graft.queries.{DedupQueries, MultimodalQueries, SimilarityQueries}
import org.apache.spark.sql.perfbench.Internals
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.FileInputStream
import com.sun.management.GarbageCollectionNotificationInfo

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Properties
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** JVM side of the benchmark. One process, one client thread, one
  * `local[cpus]` session. It times graft through its public entry
  * points only and writes raw observations (timestamps and counters)
  * as JSON; `perfbench/run.py` turns them into metrics.
  *
  * Modes (first argument):
  *  - `oracles <out.json>`: the query inventory and its DuckDB oracle SQL;
  *  - `scale <srcDir> <outDir> <factor> <cpus>`: a replicated corpus
  *    (`GenScale.replicate`) written under the benchmark's own session;
  *  - `run <config.properties> <out.json>`: one benchmark run.
  */
object Harness {

  /** The ten artifact builders, in the order graft.Bench prepares them. */
  val Artifacts: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "media" -> MultimodalQueries.ensureMediaStore _,
    "decoded_features" -> MultimodalQueries.ensureDecodedFeatures _,
    "ann" -> SimilarityQueries.ensureAnnIndex _,
    "cluster" -> DedupQueries.ensureClusterIndex _,
    "pq" -> SimilarityQueries.ensurePqIndex _,
    "windows" -> DedupQueries.ensureWindowIndex _,
    "sem" -> SimilarityQueries.ensureSemIndex _,
    "band" -> DedupQueries.ensureBandIndex _,
    "simhash" -> DedupQueries.ensureSimhashIndex _,
    "shingles" -> DedupQueries.ensureShingleSets _)

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("oracles") => writeOracles(args(1))
    case Some("scale") => scale(args(1), args(2), args(3).toInt, args(4).toInt)
    case Some("run") => new Run(load(args(1))).execute(args(2))
    case _ =>
      System.err.println(
        "usage: Harness oracles <out> | scale <src> <out> <factor> <cpus> | run <cfg> <out>")
      sys.exit(2)
  }

  private def load(path: String): Properties = {
    val p = new Properties()
    val in = new FileInputStream(path)
    try p.load(in) finally in.close()
    p
  }

  def write(path: String, text: String): Unit =
    Files.write(Paths.get(path), text.getBytes(StandardCharsets.UTF_8))

  private def writeOracles(out: String): Unit = {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val oracles = SparkEntry.oracleSql.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }
    write(out, Json.obj(
      "queries" -> Json.arr(names.map(Json.str)),
      "oracles" -> Json.obj(oracles: _*)))
  }

  /** The larger corpus: every table replicated `factor`× with the key
    * shifts graft.GenScale uses, region and nation passed through. */
  private def scale(src: String, out: String, factor: Int, cpus: Int): Unit = {
    val spark = GraftEngine.session(GraftConfig(
      master = s"local[$cpus]", appName = "perfbench-scale", shufflePartitions = cpus))
    import GenScale._
    def read(n: String) = spark.read.parquet(s"$src/$n.parquet")
    def rep(n: String, shifts: Map[String, Long], text: Boolean = false, vec: Boolean = false) =
      replicate(read(n), shifts, factor, saltText = text, saltVec = vec)
    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> read("region"),
      "nation" -> read("nation"),
      "customer" -> rep("customer", Map("c_custkey" -> OffCust)),
      "supplier" -> rep("supplier", Map("s_suppkey" -> OffSupp)),
      "part" -> rep("part", Map("p_partkey" -> OffPart)),
      "orders" -> rep("orders", Map("o_orderkey" -> OffOrder, "o_custkey" -> OffCust)),
      "lineitem" -> rep("lineitem",
        Map("l_orderkey" -> OffOrder, "l_partkey" -> OffPart, "l_suppkey" -> OffSupp)),
      "events" -> rep("events", Map("event_id" -> OffEvent, "user_id" -> OffUser)),
      "documents" -> rep("documents", Map("doc_id" -> OffDoc), text = true),
      "embeddings" -> rep("embeddings", Map("vec_id" -> OffVec), vec = true))
    tables.foreach { case (n, df) => df.write.mode("overwrite").parquet(s"$out/$n.parquet") }
    spark.stop()
  }
}

/** Epoch-aligned microsecond clock with nanoTime resolution. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  def us(): Long = baseEpochUs + (System.nanoTime() - baseNano) / 1000L
}

/** Whole-machine CPU time counters from /proc/stat, in ticks. */
final case class CpuTicks(total: Long, iowait: Long, steal: Long)

object Host {
  def cpu(): CpuTicks = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).asScala.head.trim.split("\\s+").tail
      .map(_.toLong)
    // user nice system idle iowait irq softirq steal [guest guest_nice]
    CpuTicks(f.take(8).sum, f(4), if (f.length > 7) f(7) else 0L)
  }

  def load1m(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split("\\s+")(0).toDouble

  def statusKb(key: String): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key + ":")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
}

/** Heap in use right after each garbage collection. Unlike the process's
  * resident size, it follows what graft keeps live rather than how far
  * the collector chose to grow the heap. */
object HeapWatch {
  private var maxUsed = 0L

  def start(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val after = GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo.getMemoryUsageAfterGc
            .asScala.filter { case (pool, _) => heapPools(pool) }
          HeapWatch.synchronized { maxUsed = math.max(maxUsed, after.values.map(_.getUsed).sum) }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  /** The peak since the last call, which starts a new one. */
  def takePeak(): Long = synchronized { val m = maxUsed; maxUsed = 0L; m }
}

final class Run(cfg: Properties) {
  private def get(k: String): String =
    Option(cfg.getProperty(k)).getOrElse(sys.error(s"config key missing: $k"))

  private val dir = get("data_dir")
  private val cpus = get("cpus").toInt
  private val seconds = get("seconds").toDouble
  private val trace = get("trace") == "1"
  private val setupRounds = get("setup_rounds").toInt
  private val resolve = get("resolve") == "true"
  private val coldBuild = get("cold_build") == "true"
  private val checkDir = get("check_dir")
  private val stealBound = get("steal_bound").toDouble
  private val rerunSeconds = get("rerun_s").toDouble
  private val minPasses = get("min_passes").toInt
  private val warmSeconds = get("warm_s").toDouble
  private val floorSamples = get("floor_samples").toInt
  private val names = get("queries").split(',').toSeq.filter(_.nonEmpty)
  private val orders: Seq[Seq[String]] = Iterator.from(0)
    .map(i => Option(cfg.getProperty(s"pass.$i")))
    .takeWhile(_.isDefined).map(_.get.split(',').toSeq).toSeq

  private var spark: SparkSession = _
  private val listener = new LayerListener
  private var listening = false

  private def listen(on: Boolean): Unit = if (on != listening) {
    if (on) spark.sparkContext.addSparkListener(listener)
    else spark.sparkContext.removeSparkListener(listener)
    listening = on
  }

  private def group(g: String): Unit = spark.sparkContext.setJobGroup(g, g, false)

  /** Counters of a job group once every event so far is delivered; empty
    * outside traced passes. */
  private def counters(g: String): String =
    if (!listening) "null"
    else { Internals.drainListenerBus(spark.sparkContext); listener.take(g).json }

  /** Drop what one execution left in the block manager, as graft.Bench
    * does between queries (pending local checkpoints stay). */
  private def release(): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .filterNot(Internals.isPendingLocalCheckpoint)
      .foreach(_.unpersist(blocking = false))
    spark.sharedState.cacheManager.clearCache()
  }

  private def err(e: Throwable): String = Json.str(
    (e.getClass.getName + ": " + String.valueOf(e.getMessage)).take(400))

  private def span(name: String, start: Long, end: Long, extra: (String, String)*): String =
    Json.obj(Seq("name" -> Json.str(name), "start_us" -> start.toString,
      "end_us" -> end.toString) ++ extra: _*)

  /** One set-up round: session, table registration, stats feed and, for
    * warm workloads, artifact resolution. */
  private def setupRound(k: Int): String = {
    if (spark != null) { listen(false); spark.stop() }
    val t0 = Clock.us()
    spark = GraftEngine.session(GraftConfig(
      master = s"local[$cpus]", appName = "perfbench", shufflePartitions = cpus))
    val t1 = Clock.us()
    listen(trace)
    group(s"pb:setup:$k:register")
    val engine = GraftEngine.cachedForDir(spark, dir)
    val t2 = Clock.us()
    group(s"pb:setup:$k:stats")
    engine.enableCbo(cached = true)
    val t3 = Clock.us()
    val resolved = if (!resolve) Nil else Harness.Artifacts.map { case (n, build) =>
      group(s"pb:setup:$k:resolve:$n")
      val a = Clock.us()
      build(spark, dir)
      span(s"sources.resolve.$n", a, Clock.us())
    }
    val t4 = Clock.us()
    spark.sparkContext.clearJobGroup()
    Json.obj(
      "setup" -> span("setup", t0, t4),
      "children" -> Json.arr(Seq(
        span("engine.session", t0, t1),
        span("engine.register", t1, t2, "counters" -> counters(s"pb:setup:$k:register")),
        span("engine.stats", t2, t3, "counters" -> counters(s"pb:setup:$k:stats")),
        span("sources.resolve", t3, t4)) ++ resolved))
  }

  /** Cold builds of all ten artifacts into an empty store. */
  private def buildArtifacts(): Seq[String] = Harness.Artifacts.map { case (n, build) =>
    group(s"pb:build:$n")
    val a = Clock.us()
    build(spark, dir)
    val b = Clock.us()
    spark.sparkContext.clearJobGroup()
    span(s"sources.build.$n", a, b, "counters" -> counters(s"pb:build:$n"))
  }

  /** Wall time of one trivial single-task job, `floorSamples` times. */
  private def jobFloor(): Seq[Long] = {
    val sc = spark.sparkContext
    (0 until 3).foreach(_ => sc.parallelize(Seq(1), 1).count())
    (0 until floorSamples).map { _ =>
      val a = System.nanoTime()
      sc.parallelize(Seq(1), 1).count()
      (System.nanoTime() - a) / 1000L
    }
  }

  /** Untimed answer pass, which also warms the JVM: every query's result
    * goes to parquet for the oracle comparison, in the encoding
    * graft.Verify uses for its result dumps. */
  private def checkPass(): Seq[String] = {
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    val out = names.sorted.map { q =>
      group(s"pb:check:$q")
      val a = Clock.us()
      val res = try {
        SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite")
          .parquet(s"$checkDir/$q")
        "null"
      } catch { case scala.util.control.NonFatal(e) => err(e) }
      val b = Clock.us()
      spark.sparkContext.clearJobGroup()
      counters(s"pb:check:$q")
      release()
      Json.obj("query" -> Json.str(q), "error" -> res, "ms" -> Json.num((b - a) / 1000.0))
    }
    spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    out
  }

  private def executeOne(q: String, pass: Int, i: Int): String = {
    val id = s"pb:x:$pass.$i"
    group(s"$id:build")
    val t0 = Clock.us()
    var t1 = 0L
    val res = try {
      val df = SparkEntry.queries(q)(spark, dir)
      t1 = Clock.us()
      group(s"$id:exec")
      df.write.format("noop").mode("overwrite").save()
      "null"
    } catch { case scala.util.control.NonFatal(e) => err(e) }
    val t2 = Clock.us()
    if (t1 == 0L) t1 = t2
    spark.sparkContext.clearJobGroup()
    val build = counters(s"$id:build")
    val exec = counters(s"$id:exec")
    release()
    Json.obj("query" -> Json.str(q), "error" -> res, "start_us" -> t0.toString,
      "built_us" -> t1.toString, "end_us" -> t2.toString, "build" -> build, "exec" -> exec)
  }

  /** Whole passes in the seeded orders: untimed ones until they add up to
    * `warmSeconds` (the JIT is still warming after the answer pass), then
    * timed ones until `seconds` of usable pass time and at least
    * `minPasses` usable passes are measured. A timed pass under more CPU
    * steal than the bound is flagged and replaced by another pass; once
    * flagged passes add up to `rerunSeconds` the loop stops, leaving the
    * run short. */
  private def timedPasses(): (Seq[String], Seq[String]) = {
    val passes = ArrayBuffer.empty[String]
    val execs = ArrayBuffer.empty[String]
    var warmUs, usableUs, flaggedUs = 0L
    var p = 0
    var usable = 0
    HeapWatch.takePeak()
    while (p < orders.size && flaggedUs < rerunSeconds * 1e6 &&
        (usableUs < seconds * 1e6 || usable < minPasses)) {
      val warm = warmUs < warmSeconds * 1e6
      val traced = trace && !warm && p % 2 == 0
      listen(traced)
      val c0 = Host.cpu()
      val a = Clock.us()
      orders(p).zipWithIndex.foreach { case (q, i) =>
        execs += Json.obj("pass" -> p.toString, "traced" -> traced.toString,
          "record" -> executeOne(q, p, i))
      }
      val b = Clock.us()
      val heap = HeapWatch.takePeak()
      val c1 = Host.cpu()
      val ticks = math.max(1L, c1.total - c0.total)
      val steal = (c1.steal - c0.steal).toDouble / ticks
      val flagged = !warm && steal > stealBound
      if (warm) warmUs += b - a
      else if (flagged) flaggedUs += b - a
      else { usableUs += b - a; usable += 1 }
      passes += Json.obj("pass" -> p.toString, "traced" -> traced.toString,
        "warm" -> warm.toString, "flagged" -> flagged.toString,
        "start_us" -> a.toString, "end_us" -> b.toString, "heap_peak" -> heap.toString,
        "steal" -> Json.num(steal), "iowait" -> Json.num((c1.iowait - c0.iowait).toDouble / ticks),
        "load1m" -> Json.num(Host.load1m()))
      p += 1
    }
    listen(false)
    (passes.toSeq, execs.toSeq)
  }

  private def phase[T](name: String)(body: => T): T = {
    val a = System.nanoTime()
    try body
    finally System.err.println(f"[perfbench] $name%s: ${(System.nanoTime() - a) / 1e9}%.1fs")
  }

  def execute(out: String): Unit = {
    HeapWatch.start()
    val setups = phase("set-up rounds")((0 until setupRounds).map(setupRound))
    val builds = if (coldBuild) phase("artifact builds")(buildArtifacts()) else Nil
    val floor = jobFloor()
    val checks = phase("answer pass")(checkPass())
    val (passes, execs) = phase("timed passes")(timedPasses())
    val hwmKb = Host.statusKb("VmHWM")
    Harness.write(out, Json.obj(
      "cpus" -> cpus.toString,
      "jvm_start_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime.toString,
      "master" -> Json.str(spark.sparkContext.master),
      "setups" -> Json.arr(setups),
      "builds" -> Json.arr(builds),
      "job_floor_us" -> Json.arr(floor.map(_.toString)),
      "checks" -> Json.arr(checks),
      "passes" -> Json.arr(passes),
      "executions" -> Json.arr(execs),
      "vm_hwm_kb" -> hwmKb.toString))
    spark.stop()
  }
}
