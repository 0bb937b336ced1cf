package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.{HadoopFSUtils, ThreadUtils}

/** Spark's own parquet footer reading and footer → schema conversion
  * (row-metadata key, nanosAsLong and the other session flags), which
  * are package-private; living under this package is how
  * graft.sources.ParquetSchema reaches them, the same pattern as
  * org.apache.spark.sql.graftbridge.Bridge.
  */
object FooterBridge {
  /** The footers of `files`, read in parallel. Spark's schema inference
    * skips the row groups; `rowGroups` keeps them (row counts, column
    * chunk codecs), and then every footer must read. */
  def readFooters(conf: Configuration, files: Seq[FileStatus],
      ignoreCorruptFiles: Boolean, rowGroups: Boolean = false): Seq[Footer] =
    if (!rowGroups)
      ParquetFileFormat.readParquetFootersInParallel(conf, files, ignoreCorruptFiles)
    else
      ThreadUtils.parmap(files, "readingParquetFooters", 8) { f =>
        new Footer(f.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.NO_FILTER))
      }

  /** The relation's data schema: every field nullable, as Spark's
    * resolved relation carries it. */
  def readSchema(spark: SparkSession, footers: Seq[Footer]): Option[StructType] =
    ParquetFileFormat.readSchema(footers, spark).map(_.asNullable)

  /** The footer key under which Spark's writer stores the row schema. */
  val RowMetadataKey: String = ParquetReadSupport.SPARK_METADATA_KEY

  /** Spark's file-listing filter: hidden and `_`-prefixed names,
    * except the parquet summary files. */
  def hidden(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)
}
