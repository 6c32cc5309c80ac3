package graft

import org.apache.spark.GraftJobCounter
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session fixture for all specs (sf0.001 data). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Runs `body` with `confs` set on the shared session, then restores them. */
  def withConfs[A](confs: (String, String)*)(body: => A): A =
    Measure.withConfs(spark, confs)(body)

  /** The Spark jobs, stages, tasks and input records `body` ran. */
  def jobCounts(body: => Unit): GraftJobCounter.Counts =
    GraftJobCounter.during(spark.sparkContext)(body)

  /** Bytes this JVM has read through the local filesystem so far —
    * the rescan check for plans whose scans hide behind checkpoints. */
  def fileBytesRead: Long =
    org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file") match {
      case null => 0L
      case s => s.getLong("bytesRead")
    }
}

object SparkSpec {
  lazy val session: SparkSession = GraftEngine.session(master = "local[4]", shufflePartitions = 4)
}
