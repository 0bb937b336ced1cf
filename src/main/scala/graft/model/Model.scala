package graft.model

/** Core job algebra, re-expressed from the reference's enums.
  *
  * Reference: Operation/JobMode at base.py:5-31, JobState at
  * status.py:32-47.
  */
sealed abstract class Operation(val name: String)
object Operation {
  case object Export extends Operation("EXPORT")
  case object Import extends Operation("IMPORT")
  /** DDL-script generation (reference leaves it NotImplemented,
    * files.py:899-900; we implement it as schema-DDL dump). */
  case object SqlFile extends Operation("SQL_FILE")

  val values: Seq[Operation] = Seq(Export, Import, SqlFile)
  def fromString(s: String): Operation =
    values.find(_.name == s.toUpperCase)
      .getOrElse(throw new IllegalArgumentException(
        s"Unknown operation '$s'; valid: ${values.map(_.name).mkString(", ")}"))
}

/** Scope of object selection for a job (base.py:20-31). TABLESPACE /
  * TRANSPORTABLE are Oracle-physical; we map them to path-prefix
  * selection for API parity.
  */
sealed abstract class JobMode(val name: String)
object JobMode {
  case object Full extends JobMode("FULL")
  case object Schema extends JobMode("SCHEMA")
  case object Table extends JobMode("TABLE")
  case object Tablespace extends JobMode("TABLESPACE")
  case object Transportable extends JobMode("TRANSPORTABLE")

  val values: Seq[JobMode] = Seq(Full, Schema, Table, Tablespace, Transportable)
  def fromString(s: String): JobMode =
    values.find(_.name == s.toUpperCase)
      .getOrElse(throw new IllegalArgumentException(
        s"Unknown mode '$s'; valid: ${values.map(_.name).mkString(", ")}"))
}

/** 12-state job lifecycle machine (status.py:32-47). */
sealed abstract class JobState(val name: String) {
  def isTerminal: Boolean = this match {
    case JobState.Completed | JobState.CompletedWithErrors |
         JobState.Stopped | JobState.NotRunning => true
    case _ => false
  }
}
object JobState {
  case object Undefined extends JobState("UNDEFINED")
  case object Defining extends JobState("DEFINING")
  case object Executing extends JobState("EXECUTING")
  case object Completing extends JobState("COMPLETING")
  case object Completed extends JobState("COMPLETED")
  case object CompletedWithErrors extends JobState("COMPLETED_WITH_ERRORS")
  case object StopPending extends JobState("STOP_PENDING")
  case object Stopping extends JobState("STOPPING")
  case object Stopped extends JobState("STOPPED")
  case object Idling extends JobState("IDLING")
  case object NotRunning extends JobState("NOT_RUNNING")
  case object Unknown extends JobState("UNKNOWN")

  val values: Seq[JobState] = Seq(Undefined, Defining, Executing, Completing,
    Completed, CompletedWithErrors, StopPending, Stopping, Stopped, Idling,
    NotRunning, Unknown)
  def fromString(s: String): JobState =
    values.find(_.name == s.toUpperCase).getOrElse(Unknown)
}

/** JSON-serializable metadata sidecar written next to the dump set
  * (reference JobMetaData at base.py:43-56, written commands.py:234-244).
  */
case class JobMetaData(
    jobName: String,
    jobOwner: String,
    operation: String,
    mode: String,
    jobDate: String,                     // yyyyMMddHHmmssSSSSSS
    tables: Seq[String],
    directives: Seq[Map[String, String]],
    dumpFiles: Seq[String],
    asOf: Option[String],                // snapshot pin (FLASHBACK analog)
    tag: Option[String],
    schemas: Seq[SchemaMeta] = Nil)      // per-schema entries (job.py:235-250)

/** Per-schema sidecar entry — the reference's SchemaHandler collects a
  * schema's tablespaces and migration version into job metadata
  * (job.py:142-158, 246-250; database.py:118-138 `get_version`, SQL at
  * sql.py:81-86); here the storage root plays the tablespace role and
  * the SnapshotStore ledger version plays the Flyway migration
  * version: the schema-state provenance stamp a consumer of the dump
  * reads to know WHICH version of the source it holds. 0 = the source
  * is unversioned (the reference returns None off an empty
  * flyway_schema_history the same way).
  */
case class SchemaMeta(name: String, tables: Seq[String], tablespace: String,
    version: Long = 0L)

/** One log line of job progress (status.py:162-168). */
case class JobLogEntry(logLineNumber: Long, logText: String)
