package graft.directives

import graft.model.Util
import org.apache.spark.sql.{DataFrame, SaveMode}

/** Declarative job directives — the reference's central extension point
  * (/root/reference/src/oracledb_datapump/directives.py:31-691). There,
  * each directive issues a PL/SQL call (METADATA_FILTER / SET_PARAMETER /
  * METADATA_REMAP / METADATA_TRANSFORM); here a job's directives
  * *compile*, once, into the [[JobSettings]] the job reads: which tables
  * are selected, how each DataFrame is transformed, reader/writer
  * options, save mode, output identity remaps and the job's switches.
  *
  * Five families, mirroring directives.py:
  *   Filter (88-184), Parameter (186-409), Remap (412-458),
  *   Transform (461-553), Extra (556-587).
  */
sealed trait Directive {
  def name: String
  /** Human-readable value for metadata sidecars / logs. */
  def valueRepr: String
}

/** A job's directives compiled into one value (`DirectiveCompiler.
  * compile`): each field holds what the directives set, or its default.
  * Repeated directives resolve per field: the first PARALLEL,
  * DUMP_FORMAT, TABLE_EXISTS_ACTION, FLASHBACK_*, TARGET_FILE_SIZE and
  * INCLUDE_METADATA win; a later reader or writer option replaces an
  * earlier one of the same key; transforms apply in directive order;
  * INCLUDE_TABLE lists unite; the switches hold when any directive sets
  * them. */
final case class JobSettings(
    /** INCLUDE_SCHEMA names, in directive order; empty scopes none. */
    schemas: Seq[String] = Nil,
    /** The union of every INCLUDE_TABLE list, lower case; None without one. */
    tables: Option[Set[String]] = None,
    /** INCLUDE_TABLESPACE path prefixes (TABLESPACE/TRANSPORTABLE mode). */
    tablespaces: Seq[String] = Nil,
    /** EXCLUDE_OBJECT_TYPE=TABLE: no table is selected. */
    tablesExcluded: Boolean = false,
    /** Per-table DataFrame rewrites applied before the sink. */
    transforms: Seq[DataFrame => DataFrame] = Nil,
    readerOptions: Map[String, String] = Map.empty,
    writerOptions: Map[String, String] = Map.empty,
    saveMode: SaveMode = SaveMode.ErrorIfExists,
    truncate: Boolean = false,
    /** Part files per table (the %U dump set) and the worker count. */
    parallel: Int = 1,
    /** The file format an EXPORT writes its dump set in. */
    dumpFormat: String = "parquet",
    /** (from, to) remaps in directive order; a later one of the same
      * name wins. */
    schemaRemaps: Seq[(String, String)] = Nil,
    tableRemaps: Seq[(String, String)] = Nil,
    tablespaceRemaps: Seq[(String, String)] = Nil,
    datafileRemaps: Seq[(String, String)] = Nil,
    /** FLASHBACK_SCN/TIME: reads resolve against this version/time. */
    snapshotPin: Option[String] = None,
    /** ESTIMATE_ONLY / MASTER_ONLY: estimate sizes, move no data. */
    estimateOnly: Boolean = false,
    includeMetadata: Boolean = true,
    /** PARTITION_OPTIONS=DEPARTITION: each source partition becomes
      * its own table. */
    departition: Boolean = false,
    /** TARGET_FILE_SIZE: part-file count from measured source bytes. */
    targetFileBytes: Option[Long] = None,
    /** KEEP_MASTER: the registry entry outlives orphan GC. */
    keepMaster: Boolean = false,
    /** DELETE_FILES: an import removes the dumps of the objects it moved. */
    deleteFiles: Boolean = false) {

  /** REMAP_SCHEMA applies per source schema, exact name match
    * (directives.py:449-450): only objects OF the remapped schema move. */
  def schemaOf(source: String): String =
    schemaRemaps.findLast(_._1.toLowerCase == source.toLowerCase).fold(source)(_._2)

  /** REMAP_TABLE: the target table name, lower case; the source name
    * matches case-insensitively, as INCLUDE_TABLE and REMAP_SCHEMA do. */
  def tableOf(source: String): String =
    tableRemaps.findLast(_._1.equalsIgnoreCase(source)).fold(source)(_._2.toLowerCase)

  /** REMAP_TABLESPACE (directives.py:453-454): a tablespace is physical
    * placement; on a file store that's the output root, so the remap
    * rewrites matching path SEGMENTS of the root. REMAP_DATAFILE
    * (directives.py:457-458) rewrites a full path PREFIX (a datafile is
    * a concrete file path). */
  def storageOf(root: String): String = {
    val bySegment =
      if (tablespaceRemaps.isEmpty) root
      else root.split('/').map(seg =>
        tablespaceRemaps.findLast(_._1 == seg).fold(seg)(_._2)).mkString("/")
    datafileRemaps.foldLeft(bySegment) { case (r, (f, t)) =>
      if (r == f || r.startsWith(f + "/")) t + r.drop(f.length) else r
    }
  }
}

// ---------------------------------------------------------------- filters

/** METADATA_FILTER analogs (directives.py:88-184): object-set predicates
  * evaluated before any data moves — i.e. driver-side enumeration
  * filters, the analog of pushing predicates below the scan.
  */
final case class IncludeSchema(schema: String) extends Directive {
  val name = "INCLUDE_SCHEMA"
  def valueRepr = schema
}
final case class IncludeTable(tables: Seq[String]) extends Directive {
  val name = "INCLUDE_TABLE"
  def valueRepr = tables.mkString(",")
}
/** TABLESPACE_LIST filter analog (directives.py:66-86): a tablespace on
  * a file store is a storage root, so TABLESPACE/TRANSPORTABLE-mode
  * selection is a PATH-PREFIX match on each table's resolved source
  * path (SURVEY §1.1). Prefixes may be absolute or source-dir-relative. */
final case class IncludeTablespace(prefixes: Seq[String]) extends Directive {
  val name = "INCLUDE_TABLESPACE"
  def valueRepr = prefixes.mkString(",")
}
final case class ExcludeObjectType(objectType: String) extends Directive {
  val name = "EXCLUDE_OBJECT_TYPE"
  def valueRepr = objectType
}
/** Row-level subset — Data Pump's QUERY parameter
  * (DBMS_DATAPUMP.DATA_FILTER name=SUBQUERY; the reference wrapper does
  * not expose it, like REMAP_TABLE). The predicate is ANSI SQL over each
  * selected table's columns; Spark-first it compiles to a Catalyst
  * filter, so it PUSHES DOWN to the parquet scan — rows outside the
  * subset are never read at scale. */
final case class Query(predicate: String) extends Directive {
  val name = "QUERY"
  def valueRepr = predicate
}

/** Native extension: SAMPLE (Data Pump supports a block-sample
  * percentage; the wrapper does not expose it). Data Pump's block
  * sampling is nondeterministic; here the sample is a DETERMINISTIC
  * content-hash predicate over the whole row (md5 of the JSON-encoded
  * struct), so re-running a sampled export reproduces the exact same
  * rows — the property a verifiable pipeline actually wants. Pure
  * per-row predicate: no shuffle, any scale. */
final case class Sample(percent: Double) extends Directive {
  val name = "SAMPLE"
  def valueRepr = percent.toString
  require(percent > 0 && percent <= 100,
    s"SAMPLE percent must be in (0, 100]; got $percent")
}

// ------------------------------------------------------------- parameters

final case class Compression(value: String) extends Directive {
  val name = "COMPRESSION"
  def valueRepr = value
  require(Compression.valid(value.toUpperCase),
    s"COMPRESSION must be one of ${Compression.domain}; got $value")
}
object Compression {
  val domain = Seq("DATA_ONLY", "METADATA_ONLY", "ALL", "NONE")
  def valid(v: String): Boolean = domain.contains(v)
}

final case class CompressionAlgorithm(value: String) extends Directive {
  val name = "COMPRESSION_ALGORITHM"
  def valueRepr = value
  require(CompressionAlgorithm.codec.contains(value.toUpperCase),
    s"COMPRESSION_ALGORITHM must be one of ${CompressionAlgorithm.codec.keys}")
}
object CompressionAlgorithm {
  /** BASIC/LOW/MEDIUM/HIGH (directives.py:252-258) → parquet codecs. */
  val codec: Map[String, String] = Map(
    "BASIC" -> "snappy", "LOW" -> "lz4", "MEDIUM" -> "snappy", "HIGH" -> "zstd")
}

final case class Parallel(degree: Int) extends Directive {
  val name = "PARALLEL"
  def valueRepr = degree.toString
  require(degree >= 1, s"PARALLEL must be >= 1; got $degree")
}

/** Native extension: dump-set file format. Oracle Data Pump has exactly
  * one (.dmp); a columnar engine can emit its dump sets as parquet
  * (default, lossless), orc (lossless columnar alt), json or csv
  * (lossy interchange: csv re-infers types on import — documented, for
  * handoff to non-columnar consumers). IMPORT sniffs the format from
  * the part files, so mixed-format dump roots just work. */
final case class DumpFormat(format: String) extends Directive {
  val name = "DUMP_FORMAT"
  def valueRepr = format
  require(DumpFormat.domain.contains(format.toLowerCase),
    s"DUMP_FORMAT must be one of ${DumpFormat.domain}; got $format")
}
object DumpFormat {
  val domain = Seq("parquet", "orc", "json", "csv")
}

final case class FlashbackScn(scn: Long) extends Directive {
  val name = "FLASHBACK_SCN"
  def valueRepr = scn.toString
}
final case class FlashbackTime(iso: String) extends Directive {
  val name = "FLASHBACK_TIME"
  def valueRepr = iso
  Util.parseDt(iso) // validate eagerly, like pydantic did
}

final case class Estimate(value: String) extends Directive {
  val name = "ESTIMATE"
  def valueRepr = value
  require(Seq("BLOCKS", "STATISTICS").contains(value.toUpperCase))
}
final case class EstimateOnly(on: Boolean) extends Directive {
  val name = "ESTIMATE_ONLY"
  def valueRepr = if (on) "1" else "0"
}

/** TRUNCATE/REPLACE/APPEND/SKIP → SaveMode (directives.py:372-376). */
final case class TableExistsAction(action: String) extends Directive {
  val name = "TABLE_EXISTS_ACTION"
  def valueRepr = action
  require(TableExistsAction.modes.contains(action.toUpperCase),
    s"TABLE_EXISTS_ACTION must be one of ${TableExistsAction.modes.keys}")
}
object TableExistsAction {
  /** TRUNCATE keeps schema and overwrites rows; REPLACE drops+recreates;
    * APPEND appends; SKIP ignores when target exists. */
  val modes: Map[String, (SaveMode, Boolean)] = Map(
    "TRUNCATE" -> (SaveMode.Overwrite, true),
    "REPLACE" -> (SaveMode.Overwrite, false),
    "APPEND" -> (SaveMode.Append, false),
    "SKIP" -> (SaveMode.Ignore, false))
}

final case class PartitionOptions(value: String) extends Directive {
  val name = "PARTITION_OPTIONS"
  def valueRepr = value
  require(Seq("NONE", "DEPARTITION", "MERGE").contains(value.toUpperCase))
}

final case class IncludeMetadata(on: Boolean) extends Directive {
  val name = "INCLUDE_METADATA"
  def valueRepr = if (on) "1" else "0"
}
final case class Metrics(on: Boolean) extends Directive {
  val name = "METRICS"
  def valueRepr = if (on) "1" else "0"
}
final case class Logtime(value: String) extends Directive {
  val name = "LOGTIME"
  def valueRepr = value
  require(Seq("NONE", "STATUS", "LOGFILE", "ALL").contains(value.toUpperCase))
}
final case class KeepMaster(on: Boolean) extends Directive {
  val name = "KEEP_MASTER"
  def valueRepr = if (on) "1" else "0"
}
final case class MasterOnly(on: Boolean) extends Directive {
  val name = "MASTER_ONLY"
  def valueRepr = if (on) "1" else "0"
}

/** 11-bit flag set (directives.py:227-238) → permissive/failfast options. */
final case class DataOptions(flags: Set[String]) extends Directive {
  val name = "DATA_OPTIONS"
  def valueRepr = flags.mkString("|")
}
object DataOptions {
  val domain = Set(
    "SKIP_CONST_ERR", "XMLTYPE_CLOB", "NO_TYPE_EVOL", "DISABL_APPEND_HINT",
    "REJECT_ROWS_REPCHR", "ENABLE_NETWORK_COMP", "GRP_PART_TAB",
    "TRUST_EXIST_TB_PAR", "VALIDATE_TBL_DATA", "VERIFY_STREAM_FORMAT",
    "CONT_LD_ON_FMT_ERR")
}

final case class DataAccessMethod(value: String) extends Directive {
  val name = "DATA_ACCESS_METHOD"
  def valueRepr = value
  require(Seq("AUTOMATIC", "DIRECT_PATH", "EXTERNAL_TABLE")
    .contains(value.toUpperCase))
}

/** ENCRYPTION family (directives.py:274-296) — REAL since r10: the
  * dump set is protected with Parquet Modular Encryption (AES-GCM
  * pages + footer, keys wrapped through [[graft.sources.GraftKms]]).
  * Semantics mapping:
  *  - ALL / METADATA_ONLY / ENCRYPTED_COLUMNS_ONLY → uniform
  *    encryption of every column and the footer (METADATA_ONLY and
  *    column-subset granularity round UP to full protection — never
  *    weaker than asked).
  *  - DATA_ONLY → uniform column encryption with a PLAINTEXT (but
  *    tamper-proof signed) footer: schema/stats readable without
  *    keys, data not — Oracle's data-vs-metadata split, exactly.
  *  - NONE → no effects.
  */
final case class Encryption(value: String) extends Directive {
  val name = "ENCRYPTION"
  def valueRepr = value
  require(Encryption.domain.contains(value.toUpperCase),
    s"ENCRYPTION must be one of ${Encryption.domain}; got $value")
}
object Encryption {
  val domain = Seq("ALL", "DATA_ONLY", "METADATA_ONLY",
    "ENCRYPTED_COLUMNS_ONLY", "NONE")
}

/** AES128/AES192/AES256 → master/data key length. */
final case class EncryptionAlgorithm(value: String) extends Directive {
  val name = "ENCRYPTION_ALGORITHM"
  def valueRepr = value
  require(graft.sources.ParquetCrypto.algorithmBits.contains(value.toUpperCase),
    s"ENCRYPTION_ALGORITHM must be one of " +
      s"${graft.sources.ParquetCrypto.algorithmBits.keys}; got $value")
}

/** PASSWORD (key derived from ENCRYPTION_PASSWORD), TRANSPARENT
  * (wallet: keys from the `graft.encryption.key.list` conf), DUAL
  * (both work — password supplied AND wallet honored). The mode is
  * advisory here: key RESOLUTION order lives in [[graft.sources.GraftKms]]
  * (wallet entry first, then password), which serves all three. */
final case class EncryptionMode(value: String) extends Directive {
  val name = "ENCRYPTION_MODE"
  def valueRepr = value
  require(Seq("PASSWORD", "TRANSPARENT", "DUAL").contains(value.toUpperCase),
    s"ENCRYPTION_MODE must be PASSWORD/TRANSPARENT/DUAL; got $value")
}

final case class EncryptionPassword(password: String) extends Directive {
  val name = "ENCRYPTION_PASSWORD"
  /** Never echo the secret into sidecars/logs (the reference redacts
    * it from request logging the same way). */
  def valueRepr = "********"
  require(password.nonEmpty, "ENCRYPTION_PASSWORD must be non-empty")
}

/** Oracle-physical switches accepted-and-ignored for API parity
  * (directives.py:241-242,352-397 — editions, tablespace physics,
  * streams config). The ENCRYPTION family graduated to real
  * directives above.
  */
final case class PhysicalSwitch(name: String, value: String) extends Directive {
  def valueRepr = value
}
object PhysicalSwitch {
  val names = Set(
    "SKIP_UNUSABLE_INDEXES", "REUSE_DATAFILES",
    "STREAMS_CONFIGURATION", "SOURCE_EDITION", "TARGET_EDITION",
    "TRANSPORTABLE", "TTS_FULL_CHECK", "TABLESPACE_DATAFILE",
    "USER_METADATA", "CLIENT_COMMAND")
}

// ----------------------------------------------------------------- remaps

/** METADATA_REMAP analogs (directives.py:412-458): identifier rewrites
  * applied on import.
  */
final case class RemapSchema(from: String, to: String) extends Directive {
  val name = "REMAP_SCHEMA"
  def valueRepr = s"$from:$to"
}
final case class RemapTablespace(from: String, to: String) extends Directive {
  val name = "REMAP_TABLESPACE"
  def valueRepr = s"$from:$to"
}
final case class RemapDatafile(from: String, to: String) extends Directive {
  val name = "REMAP_DATAFILE"
  def valueRepr = s"$from:$to"
}
/** Native extension: REMAP_TABLE (Data Pump supports it; the wrapper does
  * not expose it — directives.py:641-691 registry). */
final case class RemapTable(from: String, to: String) extends Directive {
  val name = "REMAP_TABLE"
  def valueRepr = s"$from:$to"
}

// -------------------------------------------------------------- transforms

/** METADATA_TRANSFORM analogs (directives.py:461-553): DDL-shaping on
  * import. OID(false) drops surrogate object-identifier columns; the
  * rest become table-properties or no-ops on a columnar store.
  */
final case class TransformDirective(name: String, value: String)
    extends Directive {
  def valueRepr = value
  require(TransformDirective.names.contains(name),
    s"Unknown transform $name; valid: ${TransformDirective.names}")
}
object TransformDirective {
  val names = Set(
    "SEGMENT_ATTRIBUTES", "STORAGE", "SEGMENT_CREATION", "PCTSPACE",
    "INMEMORY", "INMEMORY_CLAUSE", "LOB_STORAGE",
    "TABLE_COMPRESSION_CLAUSE", "DISABLE_ARCHIVE_LOGGING", "OID")
}

// ------------------------------------------------------------------ extra

/** Delete the dumps an import consumed, once the job has recorded its
  * outcome: "move" semantics (directives.py:556-587, applied
  * job.py:291-295). Only the dumps of COMPLETED objects go.
  */
final case class DeleteFiles() extends Directive {
  val name = "DELETE_FILES"
  def valueRepr = "1"
}

/** ENGINE EXTENSION (no reference analog): bound the size of the part
  * files an IMPORT writes per table. The reference couples output file
  * count to PARALLEL alone (`%U` sets, directives.py:161-188), which
  * at 100 TB leaves both failure modes on the table: a huge table in
  * `PARALLEL` files gives monolithic files no scan can split cheaply,
  * and a high-PARALLEL import of small tables strews stragglers that
  * every later scan pays for in task scheduling + footer reads.
  *
  * Value is bytes, with Oracle-FILESIZE-style unit suffixes
  * (`512`, `64KB`, `128MB`, `1GB`, `1TB`). The effect is applied at
  * WRITE time — file count = ceil(measured source bytes / target),
  * replacing the PARALLEL repartition — so the layout costs zero
  * extra I/O, unlike a post-hoc compaction pass
  * ([[graft.operators.Maintenance.compact]] is the standalone repair
  * tool for tables already on disk). Same-format (parquet→parquet)
  * source bytes are the right output-size predictor; cross-format
  * imports (csv→parquet) inherit the source-side measure as a
  * conservative over-estimate (compressed columnar output shrinks, so
  * files land under target, never over).
  */
final case class TargetFileSize(bytes: Long) extends Directive {
  val name = "TARGET_FILE_SIZE"
  def valueRepr = bytes.toString
  require(bytes > 0, s"TARGET_FILE_SIZE must be positive: $bytes")
}
object TargetFileSize {
  private val Form = "(?i)\\s*(\\d+)\\s*(B|KB|MB|GB|TB)?\\s*".r
  /** Parse `128MB` / `64KB` / plain bytes. Overflow is a rejected
    * request, not a wrapped Long: `16777217TB` shifted into a Long
    * silently becomes 1 TB — a wildly wrong part-file count accepted
    * without a sound — so the arithmetic happens in BigInt and
    * anything outside (0, Long.Max] is a BadRequest. */
  def parse(v: String): TargetFileSize = v match {
    case Form(n, unit) =>
      val shift = Option(unit).map(_.toUpperCase) match {
        case None | Some("B") => 0
        case Some("KB") => 10
        case Some("MB") => 20
        case Some("GB") => 30
        case Some("TB") => 40
      }
      val bytes = BigInt(n) << shift
      if (!bytes.isValidLong)
        throw new graft.model.Exceptions.BadRequest(
          s"TARGET_FILE_SIZE: '$v' exceeds the representable byte range")
      TargetFileSize(bytes.toLong)
    case other => throw new graft.model.Exceptions.BadRequest(
      s"TARGET_FILE_SIZE: cannot parse '$other' (want <n>[B|KB|MB|GB|TB])")
  }
}

// --------------------------------------------------------------- compiler

object DirectiveCompiler {

  /** Fold a job's directives, in order, into its settings. Pure. */
  def compile(directives: Seq[Directive]): JobSettings =
    directives.foldLeft((JobSettings(), Set.empty[String])) {
      case ((s, taken), d) =>
        val slot = firstWins.lift(d)
        if (slot.exists(taken)) (s, taken) else (step(s, d), taken ++ slot)
    }._1

  /** The directives of which only the first in a job counts, by slot. */
  private val firstWins: PartialFunction[Directive, String] = {
    case _: FlashbackScn | _: FlashbackTime => "FLASHBACK"
    case d @ (_: Parallel | _: DumpFormat | _: TableExistsAction |
        _: TargetFileSize | _: IncludeMetadata) => d.name
  }

  private def step(s: JobSettings, d: Directive): JobSettings = {
    def transform(f: DataFrame => DataFrame) = s.copy(transforms = s.transforms :+ f)
    def options(writer: Seq[(String, String)], reader: Seq[(String, String)]) =
      s.copy(writerOptions = s.writerOptions ++ writer,
        readerOptions = s.readerOptions ++ reader)
    d match {
      case IncludeSchema(n) => s.copy(schemas = s.schemas :+ n)
      case IncludeTable(ts) =>
        s.copy(tables = Some(s.tables.getOrElse(Set.empty) ++ ts.map(_.toLowerCase)))
      case IncludeTablespace(ps) => s.copy(tablespaces = s.tablespaces ++ ps)
      case ExcludeObjectType(t) =>
        // Data-vs-metadata object classes: only TABLE is materialized in
        // a columnar store, and excluding it removes everything
        if (t.equalsIgnoreCase("TABLE")) s.copy(tablesExcluded = true) else s
      case Query(p) =>
        transform(df => df.filter(org.apache.spark.sql.functions.expr(p)))
      case Sample(pct) =>
        // bucket = first 8 md5 hex digits of the row's JSON encoding →
        // uniform in [0, 2^32); keep the low pct fraction
        val cut = (pct / 100.0 * 4294967296.0).toLong
        transform { df =>
          import org.apache.spark.sql.functions._
          df.filter(
            expr("cast(conv(substring(md5(to_json(struct(*))), 1, 8), 16, 10) as bigint)")
              < lit(cut))
        }
      case Compression(v) =>
        val codec = v.toUpperCase match {
          case "NONE" | "METADATA_ONLY" => "none"
          case _ => "snappy"
        }
        options(Seq("compression" -> codec), Nil)
      case CompressionAlgorithm(v) =>
        options(Seq("compression" -> CompressionAlgorithm.codec(v.toUpperCase)), Nil)
      case Parallel(n) => s.copy(parallel = n)
      case DumpFormat(f) => s.copy(dumpFormat = f.toLowerCase)
      case FlashbackScn(scn) => s.copy(snapshotPin = Some(scn.toString))
      case FlashbackTime(iso) => s.copy(snapshotPin = Some(iso))
      case EstimateOnly(on) => s.copy(estimateOnly = s.estimateOnly || on)
      case MasterOnly(on) => s.copy(estimateOnly = s.estimateOnly || on)
      case TableExistsAction(a) =>
        val (mode, truncate) = TableExistsAction.modes(a.toUpperCase)
        s.copy(saveMode = mode, truncate = truncate)
      // MERGE ("combine all partitions into one table", directives.py:
      // 346-349) needs no plan transform: the job's non-partitionBy write
      // already folds every source partition into a single table, with
      // the partition columns materialized as data columns. A coalesce(1)
      // would force the entire upstream scan into ONE task — a
      // single-threaded read of the whole source at scale. NONE keeps
      // the layout.
      case PartitionOptions(v) =>
        s.copy(departition = s.departition || v.equalsIgnoreCase("DEPARTITION"))
      case IncludeMetadata(on) => s.copy(includeMetadata = on)
      case KeepMaster(on) => s.copy(keepMaster = s.keepMaster || on)
      case DataOptions(flags) =>
        if (flags.contains("SKIP_CONST_ERR") || flags.contains("CONT_LD_ON_FMT_ERR"))
          options(Nil, Seq("mode" -> "PERMISSIVE"))
        else if (flags.contains("VALIDATE_TBL_DATA"))
          options(Nil, Seq("mode" -> "FAILFAST"))
        else s
      case Encryption(v) => v.toUpperCase match {
        case "NONE" => s
        case mode =>
          import graft.sources.ParquetCrypto._
          // Factory + KMS + uniform key ride BOTH sides: the writer
          // encrypts the dump set, and a subsequent IMPORT job carrying
          // the same directives can decrypt it (Spark merges these
          // options into the per-query Hadoop conf — no session-global
          // state, concurrent jobs keep separate keys).
          val footer =
            if (mode == "DATA_ONLY") Seq(PlaintextFooterKey -> "true") else Nil
          val both = baseOptions ++ Seq(UniformKeyKey -> MasterKeyId) ++ footer
          options(both, both)
      }
      case EncryptionAlgorithm(v) =>
        import graft.sources.ParquetCrypto._
        val bits = algorithmBits(v.toUpperCase).toString
        options(Seq(DataKeyLengthKey -> bits, KeyBitsConf -> bits),
          Seq(KeyBitsConf -> bits))
      case EncryptionPassword(pw) =>
        import graft.sources.ParquetCrypto._
        options(Seq(PasswordConf -> pw), Seq(PasswordConf -> pw))
      case RemapSchema(f, t) => s.copy(schemaRemaps = s.schemaRemaps :+ (f -> t))
      case RemapTablespace(f, t) =>
        s.copy(tablespaceRemaps = s.tablespaceRemaps :+ (f -> t))
      case RemapDatafile(f, t) => s.copy(datafileRemaps = s.datafileRemaps :+ (f -> t))
      case RemapTable(f, t) => s.copy(tableRemaps = s.tableRemaps :+ (f -> t))
      case TransformDirective("OID", v) if v == "0" || v.equalsIgnoreCase("false") =>
        // Drop surrogate object-identifier columns on import
        transform(df =>
          df.columns.find(_.equalsIgnoreCase("oid")).map(df.drop).getOrElse(df))
      case TransformDirective("INMEMORY", v) if v == "1" || v.equalsIgnoreCase("true") =>
        transform(df => df.cache())
      case DeleteFiles() => s.copy(deleteFiles = true)
      case TargetFileSize(b) => s.copy(targetFileBytes = Some(b))
      // accepted for API parity, with no Spark analog: estimation source
      // (stats-based either way), log shaping, the reader choice (Spark
      // picks the vectorized reader), key resolution order (fixed in
      // GraftKms), Oracle-physical switches and the other transforms
      // (table properties on a columnar store)
      case _: Estimate | _: Metrics | _: Logtime | _: DataAccessMethod |
          _: EncryptionMode | _: PhysicalSwitch | _: TransformDirective => s
    }
  }

  /** Registry for JSON-name instantiation — parity with the reflective
    * DirectiveBase.registry (directives.py:37-49, request.py:163-169).
    * Values arrive as strings; old_value for remaps.
    */
  def fromJson(
      name: String,
      value: Option[String],
      oldValue: Option[String]): Directive = {
    val n = name.toUpperCase
    def v = value.getOrElse(
      throw new IllegalArgumentException(s"Directive $n requires a value"))
    def ov = oldValue.getOrElse(
      throw new IllegalArgumentException(s"Directive $n requires old_value"))
    def bool = Seq("1", "TRUE", "Y", "YES").contains(v.toUpperCase)
    n match {
      case "INCLUDE_SCHEMA" => IncludeSchema(v)
      case "INCLUDE_TABLE" => IncludeTable(v.split(",").toSeq)
      case "INCLUDE_TABLESPACE" => IncludeTablespace(v.split(",").toSeq)
      case "EXCLUDE_OBJECT_TYPE" => ExcludeObjectType(v)
      case "QUERY" => Query(v)
      case "SAMPLE" => Sample(v.toDouble)
      case "COMPRESSION" => Compression(v)
      case "COMPRESSION_ALGORITHM" => CompressionAlgorithm(v)
      case "PARALLEL" => Parallel(v.toInt)
      case "DUMP_FORMAT" => DumpFormat(v)
      case "FLASHBACK_SCN" => FlashbackScn(v.toLong)
      case "FLASHBACK_TIME" => FlashbackTime(v)
      case "ESTIMATE" => Estimate(v)
      case "ESTIMATE_ONLY" => graft.directives.EstimateOnly(bool)
      case "TABLE_EXISTS_ACTION" => TableExistsAction(v)
      case "PARTITION_OPTIONS" => PartitionOptions(v)
      case "INCLUDE_METADATA" => IncludeMetadata(bool)
      case "METRICS" => Metrics(bool)
      case "LOGTIME" => Logtime(v)
      case "KEEP_MASTER" => KeepMaster(bool)
      case "MASTER_ONLY" => MasterOnly(bool)
      case "DATA_OPTIONS" => DataOptions(v.split("\\|").map(_.trim).toSet)
      case "DATA_ACCESS_METHOD" => DataAccessMethod(v)
      case "REMAP_SCHEMA" => RemapSchema(ov, v)
      case "REMAP_TABLESPACE" => RemapTablespace(ov, v)
      case "REMAP_DATAFILE" => RemapDatafile(ov, v)
      case "REMAP_TABLE" => RemapTable(ov, v)
      case "DELETE_FILES" => DeleteFiles()
      case "TARGET_FILE_SIZE" => TargetFileSize.parse(v)
      case "ENCRYPTION" => Encryption(v)
      case "ENCRYPTION_ALGORITHM" => EncryptionAlgorithm(v)
      case "ENCRYPTION_MODE" => EncryptionMode(v)
      case "ENCRYPTION_PASSWORD" => EncryptionPassword(v)
      case t if TransformDirective.names.contains(t) => TransformDirective(t, v)
      case p if PhysicalSwitch.names.contains(p) => PhysicalSwitch(p, v)
      case other => throw new graft.model.Exceptions.BadRequest(
        s"Unknown directive '$other'")
    }
  }
}
