package graft

import java.nio.file.Files

/** `graft.Measure`'s `time` and `plan` modes on the sf0.001 corpus: every
  * line they print parses, the passes ran jobs, and plan counts are
  * integers. Runs on a child session so the stats feed and `--set`
  * confs stay out of the shared session other specs plan on. */
class MeasureSpec extends SparkSpec {

  private val TimeLine = ("""\[measure\] (\S+) pass\d+( [AB])? total=\d+ms build=\d+ms """ +
    """plan=\d+ms exec=\d+ms jobs=(\d+) stages=\d+ tasks=\d+ """ +
    """buildJobs=\d+ buildStages=\d+ buildTasks=\d+""").r
  private val PlanLine = """\[measure\] q21_setops exchanges=\d+ reused=\d+ scans=\d+ cachedReads=\d+""".r

  private lazy val session = spark.newSession()

  /** The `[measure]` lines one invocation prints. */
  private def measure(args: String*): Seq[String] = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(Measure.run(session, sfDir, args))
    out.toString("UTF-8").linesIterator.filter(_.startsWith("[measure]")).toSeq
  }

  /** (name, A/B side, jobs) of each pass line; fails on any other line. */
  private def passes(lines: Seq[String]): Seq[(String, String, Int)] = lines.map {
    case TimeLine(name, side, jobs) => (name, Option(side).fold("")(_.trim), jobs.toInt)
    case other => fail(s"unparsed line: $other")
  }

  test("time on a query key and on a .sql file: one line per pass, each pass runs jobs") {
    val file = Files.createTempFile("measure", ".sql")
    Files.writeString(file,
      "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag")
    Seq("q03_agg", file.toString).foreach { name =>
      val ps = passes(measure("time", name))
      assert(ps.map(_._1) == Seq.fill(Measure.Passes)(name))
      assert(ps.forall(_._3 > 0), ps)
    }
  }

  test("time with --set interleaves A B B A and restores the conf") {
    val key = "spark.sql.shuffle.partitions"
    val before = session.conf.get(key)
    val ps = passes(measure("time", "--set", s"$key=3", "q03_agg"))
    assert(ps.map(_._2) == Seq("A", "B", "B", "A"))
    assert(ps.forall(_._3 > 0), ps)
    assert(session.conf.get(key) == before)
  }

  test("plan --exec prints integer counts of the executed plan") {
    val lines = measure("plan", "--exec", "q21_setops")
    assert(lines.size == 1 && PlanLine.matches(lines.head), lines)
  }

  test("malformed arguments are rejected before any work") {
    Seq(Seq("time"), Seq("time", "--exec", "q03_agg"), Seq("time", "--set", "k", "q03_agg"),
        Seq("plan", "no_such_query"), Seq("scenario", "nope"), Seq("bogus")).foreach { args =>
      intercept[IllegalArgumentException](Measure.run(session, sfDir, args))
    }
  }
}
