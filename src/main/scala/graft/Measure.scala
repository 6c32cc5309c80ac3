package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.GraftJobCounter
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The dev measurement entry: one session and one timing discipline for
  * query timing, plan dumps and the scenarios SCALE.md records.
  *
  * {{{
  * sbt "runMain graft.Measure time [--set k=v ...] <query key | file.sql> ..."
  * sbt "runMain graft.Measure plan [--exec] [--set k=v ...] <query key> ..."
  * sbt "runMain graft.Measure scenario <name> [args]"
  * }}}
  *
  * The session runs on `local[$SPARK_GRAFT_CPUS]` (default: the
  * processor count) with one shuffle partition per core, over the
  * corpus at `SPARK_GRAFT_SF_DIR` (default: Bench's sf0.1 corpus).
  * `time` and `plan` first feed table stats and build the bench
  * artifacts, so they see the plans Bench times and Verify certifies.
  *
  *  - `time`: first one `setup` line with the ms and jobs of each set-up
  *    step (register, stats, resolve); then, per query, one untimed warm
  *    pass and [[Passes]] timed noop-sink passes, each split into
  *    DataFrame build, planning and execution with the jobs, stages and
  *    tasks each ran. With `--set` the passes run A B B A, B with the
  *    confs set, so a drift in machine load cannot read as an A/B
  *    difference.
  *  - `plan`: the formatted physical plan and its exchange count. With
  *    `--exec`, the final adaptive plan after a run, with its reused
  *    exchanges, scans and cached reads (AQE reuses only at run time).
  *  - `scenario`: see [[MeasureScenarios]].
  */
object Measure {

  /** Timed passes per query, and per side of an A/B. */
  val Passes = 2

  private val Usage =
    "usage: Measure time [--set k=v ...] <query key | file.sql> ... | " +
      "plan [--exec] [--set k=v ...] <query key> ... | " +
      s"scenario <${MeasureScenarios.all.keys.toSeq.sorted.mkString("|")}> [args]"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = GraftEngine.session(GraftConfig(
      master = s"local[$cpus]", appName = "graft-measure", shufflePartitions = cpus))
    try run(spark, sfDir, args.toSeq) finally spark.stop()
  }

  /** One Measure invocation on a caller-owned session. */
  def run(spark: SparkSession, sfDir: String, args: Seq[String]): Unit = {
    val (sets, exec, words) = parse(args.toList)
    words match {
      case "time" :: names if names.nonEmpty && !exec =>
        val qs = names.map(n => n -> query(spark, sfDir, n))
        val counter = new GraftJobCounter(spark.sparkContext)
        try {
          val steps = prepare(spark, sfDir, counter)
          println("[measure] setup " + steps.map { case (step, ms, jobs) =>
            s"$step=${Bench.num(ms, 0)}ms/${jobs}jobs" }.mkString(" "))
          time(spark, sets, qs, counter)
        } finally counter.close()
      case "plan" :: names if names.nonEmpty =>
        val qs = names.map(n => n -> query(spark, sfDir, n))
        val counter = new GraftJobCounter(spark.sparkContext)
        try prepare(spark, sfDir, counter) finally counter.close()
        withConfs(spark, sets)(plan(exec, qs))
      case "scenario" :: name :: rest if sets.isEmpty && !exec =>
        MeasureScenarios.all.getOrElse(name, throw new IllegalArgumentException(Usage))(
          spark, sfDir, rest)
      case _ => throw new IllegalArgumentException(Usage)
    }
  }

  /** (`--set` confs, `--exec`, the remaining words), each in order. */
  @scala.annotation.tailrec
  private def parse(args: List[String], sets: List[(String, String)] = Nil,
      exec: Boolean = false, words: List[String] = Nil)
      : (List[(String, String)], Boolean, List[String]) = args match {
    case "--set" :: kv :: rest if kv.contains('=') =>
      val Array(k, v) = kv.split("=", 2)
      parse(rest, sets :+ (k -> v), exec, words)
    case "--set" :: _ => throw new IllegalArgumentException("--set expects k=v")
    case "--exec" :: rest => parse(rest, sets, exec = true, words)
    case word :: rest => parse(rest, sets, exec, words :+ word)
    case Nil => (sets, exec, words)
  }

  /** A session's set-up, in the benchmark's order: register the corpus,
    * feed its cached table stats, resolve the bench artifacts. Returns
    * each step's (name, wall ms, Spark jobs). */
  private def prepare(spark: SparkSession, sfDir: String,
      counter: GraftJobCounter): Seq[(String, Double, Long)] = {
    def step(name: String)(body: => Unit) = {
      counter.reset()
      val ms = secs(body)._2 * 1e3
      (name, ms, counter.counts.jobs)
    }
    val steps = Seq(
      step("register")(GraftEngine.cachedForDir(spark, sfDir)),
      step("stats")(GraftEngine.cachedForDir(spark, sfDir).enableCbo(cached = true)),
      step("resolve")(Bench.artifactBuilders.foreach { case (_, ensure) => ensure(spark, sfDir) }))
    Bench.releaseTransientStorage(spark)
    steps
  }

  /** Runs `body` with `confs` set on the session, then restores them. */
  def withConfs[A](spark: SparkSession, confs: Seq[(String, String)])(body: => A): A = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** A query key, or a path ending in `.sql` whose text runs on the
    * corpus views. */
  private def query(spark: SparkSession, sfDir: String, name: String): () => DataFrame =
    if (name.endsWith(".sql")) {
      val text = new String(Files.readAllBytes(Paths.get(name)), UTF_8)
      () => GraftEngine.cachedForDir(spark, sfDir).sql(text)
    } else {
      val q = SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(s"unknown query key '$name'"))
      () => q(spark, sfDir)
    }

  private def time(spark: SparkSession, sets: Seq[(String, String)],
      queries: Seq[(String, () => DataFrame)], counter: GraftJobCounter): Unit = {
    val sides = if (sets.isEmpty) Seq.fill(Passes)("") else Seq("A", "B", "B", "A")
    def confs(side: String) = if (side == "B") sets else Nil
    queries.foreach { case (name, q) =>
      sides.distinct.foreach { side =>
        withConfs(spark, confs(side))(noop(q()))
        Bench.releaseTransientStorage(spark)
      }
      sides.zipWithIndex.foreach { case (side, i) =>
        withConfs(spark, confs(side)) {
          counter.reset()
          val t0 = System.nanoTime()
          val df = q()
          val buildMs = (System.nanoTime() - t0) / 1e6
          val build = counter.counts
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan
          val planMs = (System.nanoTime() - t1) / 1e6
          counter.reset()
          val t2 = System.nanoTime()
          noop(df)
          val execMs = (System.nanoTime() - t2) / 1e6
          val exec = counter.counts
          Bench.releaseTransientStorage(spark)
          println(s"[measure] $name pass${i + 1}${if (side.isEmpty) "" else " " + side} " +
            s"total=${Bench.num(buildMs + planMs + execMs, 0)}ms build=${Bench.num(buildMs, 0)}ms " +
            s"plan=${Bench.num(planMs, 0)}ms exec=${Bench.num(execMs, 0)}ms " +
            s"jobs=${exec.jobs} stages=${exec.stages} tasks=${exec.tasks} " +
            s"buildJobs=${build.jobs} buildStages=${build.stages} buildTasks=${build.tasks}")
        }
      }
    }
  }

  private def plan(exec: Boolean, queries: Seq[(String, () => DataFrame)]): Unit =
    queries.foreach { case (name, q) =>
      val df = q()
      val plan =
        if (exec) {
          df.queryExecution.executedPlan.executeCollect()
          df.queryExecution.executedPlan.toString
        } else GraftEngine.explainPlan(df)
      println(s"==== $name ====")
      println(plan)
      def n(re: String) = re.r.findAllIn(plan).length
      // a FileScan printed INSIDE an InMemoryRelation description is
      // the cached plan's provenance, not an execution — subtract one
      // description per InMemoryTableScan consumer and count the
      // cache reads separately (the relation's child runs once, at
      // first materialization)
      println(s"[measure] $name exchanges=${n("Exchange")}" +
        (if (exec) s" reused=${n("ReusedExchange") + n("ReusedQueryStage")}" +
          s" scans=${math.max(0, n("Scan parquet") - n("InMemoryTableScan"))}" +
          s" cachedReads=${n("InMemoryTableScan")}" else ""))
    }

  // ---- helpers shared with the scenarios ----

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** `body`'s result and its wall seconds. */
  def secs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Fewest wall seconds of [[Passes]] runs of `body`, after one untimed
    * warm run (I/O cache, codegen, JIT). */
  def bestSecs(body: => Unit): Double = {
    body
    Seq.fill(Passes)(secs(body)._2).min
  }

  /** `args(i)` as an Int, or `default` when absent. */
  def intArg(args: Seq[String], i: Int, default: Int): Int =
    args.lift(i).fold(default)(_.toInt)

  /** Prints one JSON object line; doubles render at 3 decimals in
    * Locale.ROOT (see [[Bench.num]]), NaN as null. */
  def json(fields: (String, Any)*): Unit = {
    def render(v: Any): String = v match {
      case s: String => "\"" + s + "\""
      case d: Double if d.isNaN => "null"
      case d: Double => Bench.num(d, 3)
      case xs: Seq[_] => xs.map(render).mkString("[", ",", "]")
      case x => x.toString
    }
    println(fields.map { case (k, v) => s""""$k":${render(v)}""" }.mkString("{", ",", "}"))
  }
}
