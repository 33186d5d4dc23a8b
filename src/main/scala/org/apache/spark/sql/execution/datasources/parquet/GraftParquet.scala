package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Bridge to Spark's parquet footer reader and footer-to-schema converter
  * (both parquet-package-private in Spark 4, so the bridge lives in the
  * package — the `GraftColumn` pattern). Reads on the driver, no job. */
object GraftParquet {
  /** The session's Hadoop conf, as Spark's own schema inference builds it. */
  def hadoopConf(spark: SparkSession): Configuration = spark.sessionState.newHadoopConf()

  /** The schema Spark infers from `file`'s footer under the session conf
    * (binary-as-string, INT96, timestamp-NTZ and nanos-as-long settings). */
  def footerSchema(spark: SparkSession, conf: Configuration,
      file: FileStatus): Option[StructType] =
    ParquetFileFormat.readSchema(
      ParquetFileFormat.readParquetFootersInParallel(
        conf, Seq(file), spark.sessionState.conf.ignoreCorruptFiles),
      spark)
}
