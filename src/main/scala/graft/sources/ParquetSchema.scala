package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.{FileMetaData, ParquetMetadata}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{FooterBridge, ParquetOptions, SparkToParquetSchemaConverter}
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** A parquet dataset's schema read on the driver, from the one footer
  * Spark's non-merging inference would read, through Spark's own
  * conversion. `spark.read.schema(s).parquet(p)` then resolves exactly
  * as `spark.read.parquet(p)` does, without the one-task Spark job
  * that inference launches to read that footer.
  */
object ParquetSchema {

  /** The data schema (partition columns excluded, every field nullable)
    * of the parquet file or directory at `path`, or None where only
    * Spark's inference gives the right answer: a missing path, schema
    * merging (option or session conf), a subdirectory that is not a
    * `k=v` partition, no footer. The Hadoop conf carries `options`, so
    * an encrypted dump's footer opens with its keys. */
  def of(spark: SparkSession, path: String,
      options: Map[String, String] = Map.empty): Option[StructType] = {
    val parquetOpts = new ParquetOptions(options, spark.sessionState.conf)
    if (parquetOpts.mergeSchema) None
    else {
      val conf = spark.sessionState.newHadoopConfWithOptions(options)
      schemaFile(conf, new Path(path)).flatMap { f =>
        FooterBridge.readSchema(spark, FooterBridge.readFooters(conf, Seq(f),
          parquetOpts.ignoreCorruptFiles))
      }
    }
  }

  /** The same schema from a footer the caller already holds. */
  def of(spark: SparkSession, file: Path, footer: ParquetMetadata): StructType =
    FooterBridge.readSchema(spark, Seq(new Footer(file, footer))).get

  /** Row count of the parquet `files` when this session's writer, fed
    * their rows, would write them as they are: every footer is
    * cleartext and carries Spark's row-metadata schema, one schema for
    * all of them, the parquet schema the writer produces for it
    * (`SparkToParquetSchemaConverter` under the session conf), and the
    * session codec in every column chunk. None otherwise, and when a
    * footer does not read. Footers only, on the driver. */
  def sessionWritten(spark: SparkSession, files: Seq[FileStatus]): Option[Long] =
    try {
      val conf = spark.sessionState.conf
      val footers = FooterBridge.readFooters(spark.sessionState.newHadoopConf(),
        files, ignoreCorruptFiles = false, rowGroups = true)
      val codec = new ParquetOptions(Map.empty[String, String], conf)
        .compressionCodecClassName
      val schemas = footers.map(f => FooterBridge.readSchema(spark, Seq(f)))
      val message = schemas.headOption.flatten
        .map(new SparkToParquetSchemaConverter(conf).convert)
      val same = footers.zip(schemas).forall { case (f, schema) =>
        val meta = f.getParquetMetadata.getFileMetaData
        meta.getEncryptionType == FileMetaData.EncryptionType.UNENCRYPTED &&
          meta.getKeyValueMetaData.containsKey(FooterBridge.RowMetadataKey) &&
          schema == schemas.head && message.contains(meta.getSchema) &&
          f.getParquetMetadata.getBlocks.asScala.forall(
            _.getColumns.asScala.forall(_.getCodec.name == codec))
      }
      Option.when(footers.nonEmpty && same)(footers.map(
        _.getParquetMetadata.getBlocks.asScala.map(_.getRowCount).sum).sum)
    } catch { case NonFatal(_) => None }

  /** The file Spark's non-merging inference reads: `_common_metadata`,
    * else `_metadata`, else the first data file by path, over the same
    * listing (hidden names skipped, `k=v` directories descended). */
  private def schemaFile(conf: Configuration, root: Path): Option[FileStatus] = {
    val fs = root.getFileSystem(conf)
    def leaves(dir: Path): Option[Seq[FileStatus]] = {
      val (dirs, files) = fs.listStatus(dir).toSeq
        .filterNot(s => FooterBridge.hidden(s.getPath.getName))
        .partition(_.isDirectory)
      if (dirs.exists(!_.getPath.getName.contains('='))) None
      else {
        val below = dirs.map(d => leaves(d.getPath))
        if (below.contains(None)) None else Some(files ++ below.flatten.flatten)
      }
    }
    val found =
      try {
        val st = fs.getFileStatus(root)
        if (st.isDirectory) leaves(root) else Some(Seq(st))
      } catch { case _: java.io.FileNotFoundException => None }
    val summaries = Seq("_common_metadata", "_metadata")
    found.flatMap { all =>
      val sorted = all.sortBy(_.getPath.toString)
      summaries.flatMap(n => sorted.find(_.getPath.getName == n)).headOption
        .orElse(sorted.find(f => !summaries.contains(f.getPath.getName)))
    }
  }
}
