package graft

/** A session's set-up — registering the corpus, feeding cached stats,
  * resolving committed artifacts — reads schemas from parquet footers
  * on the driver, so on a warm store it runs no schema-inference job.
  * Runs on a child session so the stats feed's confs and views stay out
  * of the shared session other specs plan on. */
class SetupJobsSpec extends SparkSpec {

  private lazy val session = spark.newSession()

  private def jobs(body: => Unit): Long = jobCounts(body).jobs

  test("registering the corpus runs no Spark job") {
    val n = jobs(GraftEngine.forDir(session, sfDir))
    assert(n == 0, s"forDir ran $n job(s)")
  }

  test("a repeat cached stats feed runs at most one job per table") {
    val e = GraftEngine.forDir(session, sfDir)
    e.enableCbo(cached = true) // warms the stats artifacts
    val n = jobs(e.enableCbo(cached = true))
    assert(n <= Tables.all.size, s"warm enableCbo ran $n job(s) for ${Tables.all.size} tables")
  }

  test("resolving a committed artifact runs no Spark job") {
    queries.DedupQueries.ensureSimhashIndex(session, sfDir) // warms the store
    val n = jobs(queries.DedupQueries.ensureSimhashIndex(session, sfDir))
    assert(n == 0, s"warm ensureSimhashIndex ran $n job(s)")
  }
}
