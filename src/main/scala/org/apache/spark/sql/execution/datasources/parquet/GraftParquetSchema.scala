package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileWriter

import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.types.StructType

/** The schema `spark.read.parquet(path)` infers, read from one footer on
  * the driver instead of in a Spark job.
  *
  * Without schema merging, Spark infers a parquet schema from ONE file
  * (`ParquetUtils.inferSchema`): the first `_common_metadata`, else the
  * first `_metadata`, else the first data file, in path order over the
  * index's listing. It still reads that footer in a job of its own
  * (`mergeSchemasInParallel`). This picks the same file from the same
  * listing and converts its footer with `ParquetFileFormat.readSchema`,
  * whose converter reads the same session confs.
  *
  * Lives in Spark's parquet package ONLY because `readSchema` and
  * `readParquetFootersInParallel` are `private[parquet]` (and
  * `SparkHadoopUtil` is `private[spark]`); keeping the Spark-internal
  * calls in one file keeps them easy to check on a Spark upgrade.
  */
object GraftParquetSchema {

  /** None where one footer does not decide the schema: a glob, schema
    * merging, `k=v` partition directories, a streaming sink's log, or
    * no file to read. */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    if (SparkHadoopUtil.get.isGlobPath(root) || conf.isParquetSchemaMergingEnabled ||
        FileStreamSink.hasMetadata(Seq(path), hadoopConf, conf)) return None
    val index = new InMemoryFileIndex(spark,
      Seq(root.getFileSystem(hadoopConf).makeQualified(root)), Map.empty, None)
    if (index.partitionSchema.nonEmpty) return None
    import ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE => Common, PARQUET_METADATA_FILE => Meta}
    val files = index.allFiles().sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    named(Common).orElse(named(Meta))
      .orElse(files.find(f => !Set(Common, Meta)(f.getPath.getName)))
      .flatMap { f =>
        ParquetFileFormat.readSchema(ParquetFileFormat.readParquetFootersInParallel(
          hadoopConf, Seq(f), conf.ignoreCorruptFiles), spark)
      }
  }
}
