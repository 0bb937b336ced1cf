package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import java.time.{LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter

/** Dump-file-set management — the reference's file-name algebra
  * (files.py:982-1063) re-expressed for a real filesystem.
  *
  * Substitution variables (docstring files.py:983-1001):
  *   %U — 2-digit file sequence within the parallel set (01..99)
  *   %D — day of month (DD), %M — month (MM), %Y — year (YYYY),
  *   %T — full date (YYYYMMDD)
  *
  * On Oracle, `%U` is how one job writes `parallel` files; on Spark
  * the part-file layout plays that role, so `resolveForExport` is the
  * naming contract for clients that address dump members explicitly,
  * and `resolveForImport` is a directory listing (the reference must
  * brute-force probe `01,02,…` because Oracle cannot list directories,
  * files.py:810-857 — a real FS makes that a glob).
  */
object DumpFileSet {

  private val SeqVar = "%U"

  def substituteDateVars(template: String, date: LocalDate): String =
    template
      .replace("%T", date.format(DateTimeFormatter.BASIC_ISO_DATE))
      .replace("%Y", f"${date.getYear}%04d")
      .replace("%M", f"${date.getMonthValue}%02d")
      .replace("%D", f"${date.getDayOfMonth}%02d")

  /** Expand a `name_%U.dmp`-style template into `parallel` concrete
    * names; a template without %U gets `_%U` appended when the set
    * needs more members than names (ensure_dumpfile_count,
    * files.py:794-808). */
  def resolveForExport(templates: Seq[String], parallel: Int,
      date: LocalDate = LocalDate.now(ZoneOffset.UTC)): Seq[String] = {
    require(parallel >= 1, "parallel must be >= 1")
    require(parallel <= 99, "%U sequences are 2-digit: parallel <= 99")
    val dated = templates.map(substituteDateVars(_, date))
    val (seqd, fixed) = dated.partition(_.contains(SeqVar))
    if (fixed.size >= parallel && seqd.isEmpty) fixed
    else {
      val bases =
        if (seqd.nonEmpty) seqd
        else fixed.map(f => withSequenceVar(f)) // append _%U (files.py:791-792)
      val perBase = math.max(1, math.ceil(
        (parallel - fixed.size).toDouble / bases.size).toInt)
      fixed ++ bases.flatMap(b =>
        (1 to perBase).map(i => b.replace(SeqVar, f"$i%02d")))
        .take(math.max(parallel, fixed.size))
    }
  }

  private def withSequenceVar(name: String): String = {
    val dot = name.lastIndexOf('.')
    if (dot < 0) s"${name}_$SeqVar"
    else s"${name.substring(0, dot)}_$SeqVar${name.substring(dot)}"
  }

  /** Import-side resolution: glob the concrete members of a dump set
    * (the brute-force existence probe of files.py:810-857 collapses
    * to a directory listing on a real FS). */
  def resolveForImport(spark: SparkSession, dir: String,
      pattern: String = "*"): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.globStatus(new Path(p, pattern)).toSeq
      .filter(_.isFile).map(_.getPath.toString).sorted
  }

  /** Dump-member header info — the parquet-footer analog of
    * `DumpFile.get_info`'s 25 item codes (files.py:387-408,
    * status.py:78-104): version, schema, row/byte counts,
    * compression. */
  case class DumpFileInfo(
      path: String,
      fileSizeBytes: Long,
      numRows: Long,
      numRowGroups: Int,
      compression: String,
      schemaDdl: String,
      createdBy: String)

  def getInfo(spark: SparkSession, file: String): DumpFileInfo = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(file)
    val fs = p.getFileSystem(conf)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    try {
      val footer = reader.getFooter
      val meta = footer.getFileMetaData
      val blocks = footer.getBlocks
      val codec =
        if (blocks.isEmpty || blocks.get(0).getColumns.isEmpty) "UNCOMPRESSED"
        else blocks.get(0).getColumns.get(0).getCodec.toString
      DumpFileInfo(
        path = file,
        fileSizeBytes = fs.getFileStatus(p).getLen,
        numRows = reader.getRecordCount,
        numRowGroups = blocks.size(),
        compression = codec,
        schemaDdl = ParquetSchema.of(spark, p, footer).toDDL,
        createdBy = Option(meta.getCreatedBy).getOrElse("unknown"))
    } finally reader.close()
  }
}
