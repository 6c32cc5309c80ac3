package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg (builder-local iteration only; the driver
    // always passes two): comma-separated query-name prefixes to run.
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(',').toSeq) else None
    def selected(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftEngine.session(GraftConfig(
      master = s"local[$cpus]", appName = "graft-verify",
      shufflePartitions = cpus.toInt))
    new java.io.File(outDir).mkdirs()
    // Result dumps go out as INT96 timestamps: the driver's compare
    // stringifies pandas-read Spark output against DuckDB oracle
    // output, and INT96 is the one encoding both render NAIVE (int64
    // isAdjustedToUTC would read tz-aware on the pandas side and
    // mismatch the oracle's naive render). Output-representation only —
    // the session-wide TIMESTAMP_MICROS default (GraftEngine.session)
    // stays right for corpus/layout writes, where pushdown matters.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    // Same planning mode as the bench: stats-fed CBO on the SQL surface,
    // so the correctness gate certifies the exact plans the bench times.
    try GraftEngine.cachedForDir(spark, sfDir).enableCbo(cached = true)
    catch { case NonFatal(e) =>
      System.err.println(s"[verify] stats feed failed (continuing stat-less): ${e.getMessage}")
    }
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
