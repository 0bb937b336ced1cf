package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Spark's own parquet footer reading and footer → schema conversion
  * (row-metadata key, nanosAsLong and the other session flags), which
  * are package-private; living under this package is how
  * graft.sources.ParquetSchema reaches them, the same pattern as
  * org.apache.spark.sql.graftbridge.Bridge.
  */
object FooterBridge {
  def readFooters(conf: Configuration, files: Seq[FileStatus],
      ignoreCorruptFiles: Boolean): Seq[Footer] =
    ParquetFileFormat.readParquetFootersInParallel(conf, files, ignoreCorruptFiles)

  /** The relation's data schema: every field nullable, as Spark's
    * resolved relation carries it. */
  def readSchema(spark: SparkSession, footers: Seq[Footer]): Option[StructType] =
    ParquetFileFormat.readSchema(footers, spark).map(_.asNullable)

  /** Spark's file-listing filter: hidden and `_`-prefixed names,
    * except the parquet summary files. */
  def hidden(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)
}
