package graft

import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.execution.datasources.parquet.GraftParquetSchema

/** [[Tables.read]] reads the schema from one driver-side footer instead
  * of Spark's inference job; it must give the schema inference gives,
  * for every layout the engine reads, under both timestamp read confs. */
class TablesReadSpec extends SparkSpec {

  private val NtzConf = "spark.sql.parquet.inferTimestampNTZ.enabled"

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** A Spark-written directory of several files (plus `_SUCCESS`). */
  private lazy val multiFile: String = {
    val out = s"${tmpDir("graft_read")}/multi"
    spark.range(0, 40, 1, 4).selectExpr("id", "cast(id AS string) AS s",
        "timestamp_micros(id * 1000000) AS ts", "cast(id AS decimal(12, 2)) AS d",
        "array(id, id + 1) AS arr", "named_struct('a', id, 'b', cast(id AS double)) AS st")
      .write.parquet(out)
    out
  }

  /** Two files whose schemas differ: Spark infers from the first by
    * path, which is not the first one written here. */
  private lazy val mixedFiles: String = {
    val root = tmpDir("graft_read_mixed")
    def single(sql: String): java.nio.file.Path = {
      val d = s"$root/${java.util.UUID.randomUUID()}"
      spark.sql(sql).coalesce(1).write.parquet(d)
      Files.list(java.nio.file.Paths.get(d)).filter(_.toString.endsWith(".parquet"))
        .findFirst().get
    }
    val out = java.nio.file.Paths.get(root, "mixed")
    Files.createDirectories(out)
    Files.move(single("SELECT 1L AS b_only"), out.resolve("part-b.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Files.move(single("SELECT 'x' AS a_only, 2 AS n"), out.resolve("part-a.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    out.toString
  }

  private lazy val artifact: String = {
    queries.DedupQueries.ensureSimhashIndex(spark, sfDir)
    queries.DedupQueries.simhashIndexPath(sfDir)
  }

  private def paths: Seq[String] =
    Tables.all.map(t => s"$sfDir/$t.parquet") ++ Seq(multiFile, mixedFiles, artifact)

  Seq("false", "true").foreach { ntz =>
    test(s"footer schema equals the inferred schema, with no job ($NtzConf=$ntz)") {
      val ps = paths // builds the fixtures outside the conf
      withConfs(NtzConf -> ntz) {
        ps.foreach { p =>
          assert(GraftParquetSchema.footerSchema(spark, p).isDefined,
            s"$p fell back to inference")
          val jobs = jobCounts(Tables.read(spark, p)).jobs
          assert(jobs == 0, s"reading $p ran $jobs job(s)")
          val (read, inferred) = (Tables.read(spark, p).schema, spark.read.parquet(p).schema)
          assert(read == inferred, s"$p:\n$read\nvs\n$inferred")
        }
      }
    }
  }

  test("partition directories fall back to inference and keep the partition column") {
    val out = s"${tmpDir("graft_read_part")}/parted"
    spark.range(0, 12, 1, 2).selectExpr("id", "id % 3 AS k").write.partitionBy("k").parquet(out)
    assert(GraftParquetSchema.footerSchema(spark, out).isEmpty)
    assert(Tables.read(spark, out).schema == spark.read.parquet(out).schema)
    assert(Tables.read(spark, out).schema.fieldNames.toSeq == Seq("id", "k"))
  }

  test("a missing path fails as the plain read does") {
    val missing = s"${tmpDir("graft_read_missing")}/absent.parquet"
    assert(GraftParquetSchema.footerSchema(spark, missing).isEmpty)
    val e = intercept[org.apache.spark.sql.AnalysisException](Tables.read(spark, missing))
    assert(e.getCondition == "PATH_NOT_FOUND", e)
  }

  test("feedSessionCatalog registers a corpus whose path contains a quote") {
    val dir = tmpDir("graft o'quote")
    val path = s"$dir/nation.parquet"
    spark.read.parquet(s"$sfDir/nation.parquet").write.parquet(path)
    operators.Profile.feedSessionCatalog(spark, "graft_cat_quoted_nation", path)
    val rel = spark.table("graft_cat_quoted_nation").queryExecution.optimizedPlan
      .collect { case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr }.head
    assert(rel.catalogTable.get.stats.exists(_.rowCount.contains(BigInt(25))))
    assert(spark.table("graft_cat_quoted_nation").count() == 25)
  }
}
