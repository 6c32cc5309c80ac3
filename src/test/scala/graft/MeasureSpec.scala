package graft

import java.nio.file.Files

/** `graft.Measure`'s `time` and `plan` modes on the sf0.001 corpus: every
  * line they print parses, the passes ran jobs, and plan counts are
  * integers; and the soak scenario's plateau verdict on synthetic
  * samples. Runs on a child session so the stats feed and `--set`
  * confs stay out of the shared session other specs plan on. */
class MeasureSpec extends SparkSpec {

  private val TimeLine = ("""\[measure\] (\S+) pass\d+( [AB])? total=\d+ms build=\d+ms """ +
    """plan=\d+ms exec=\d+ms jobs=(\d+) stages=\d+ tasks=\d+ """ +
    """buildJobs=\d+ buildStages=\d+ buildTasks=\d+""").r
  private val SetupLine =
    """\[measure\] setup register=\d+ms/(\d+)jobs stats=\d+ms/\d+jobs resolve=\d+ms/\d+jobs""".r
  private val PlanLine = """\[measure\] q21_setops exchanges=\d+ reused=\d+ scans=\d+ cachedReads=\d+""".r

  private lazy val session = spark.newSession()

  /** The `[measure]` lines one invocation prints. */
  private def measure(args: String*): Seq[String] = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Measure.run(session, sfDir, args))
    out.toString("UTF-8").linesIterator.filter(_.startsWith("[measure]")).toSeq
  }

  /** The register step's jobs from the leading set-up line, and
    * (name, A/B side, jobs) of each pass line; fails on any other line. */
  private def passes(lines: Seq[String]): (Int, Seq[(String, String, Int)]) = {
    val registerJobs = lines.headOption.collect { case SetupLine(n) => n.toInt }
      .getOrElse(fail(s"no set-up line first: ${lines.headOption}"))
    (registerJobs, lines.tail.map {
      case TimeLine(name, side, jobs) => (name, Option(side).fold("")(_.trim), jobs.toInt)
      case other => fail(s"unparsed line: $other")
    })
  }

  test("time on a query key and on a .sql file: one line per pass, each pass runs jobs") {
    val file = Files.createTempFile("measure", ".sql")
    Files.writeString(file,
      "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag")
    Seq("q03_agg", file.toString).foreach { name =>
      val (registerJobs, ps) = passes(measure("time", name))
      assert(registerJobs == 0, s"registering the corpus ran $registerJobs job(s)")
      assert(ps.map(_._1) == Seq.fill(Measure.Passes)(name))
      assert(ps.forall(_._3 > 0), ps)
    }
  }

  test("time with --set interleaves A B B A and restores the conf") {
    val key = "spark.sql.shuffle.partitions"
    val before = session.conf.get(key)
    val (_, ps) = passes(measure("time", "--set", s"$key=3", "q03_agg"))
    assert(ps.map(_._2) == Seq("A", "B", "B", "A"))
    assert(ps.forall(_._3 > 0), ps)
    assert(session.conf.get(key) == before)
  }

  test("plan --exec prints integer counts of the executed plan") {
    val lines = measure("plan", "--exec", "q21_setops")
    assert(lines.size == 1 && PlanLine.matches(lines.head), lines)
  }

  test("soak plateau verdict starts at the first sample with input") {
    import MeasureScenarios.{SoakSample, plateau}
    // three start-up samples with no input, then flat state
    val flat = Seq(5L, 10L, 15L).map(SoakSample(_, 0, 0)) ++
      (20L to 60L by 5).map(SoakSample(_, 1000, 200))
    val v = plateau(flat)
    assert(v.fromSec == 20 && v.toSec == 60 && v.peakMid == 1000 && v.plateau, v)
    // state that keeps growing with input never plateaus
    val growing = (5L to 60L by 5).map(t => SoakSample(t, t * 100, 200))
    assert(!plateau(growing).plateau, plateau(growing))
    // no input at all: nothing to judge
    assert(plateau(flat.take(3)).growth.isNaN)
  }

  test("malformed arguments are rejected before any work") {
    Seq(Seq("time"), Seq("time", "--exec", "q03_agg"), Seq("time", "--set", "k", "q03_agg"),
        Seq("plan", "no_such_query"), Seq("scenario", "nope"), Seq("bogus")).foreach { args =>
      intercept[IllegalArgumentException](Measure.run(session, sfDir, args))
    }
  }
}
