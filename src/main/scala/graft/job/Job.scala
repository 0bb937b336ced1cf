package graft.job

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.Tables
import graft.directives.{Directive, DirectiveCompiler, JobSettings}
import graft.model._
import graft.status.{JobRegistry, JobStatusInfo, ObjectStatus}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterBridge
import org.apache.spark.sql.functions.{count, lit}

import java.time.Instant
import scala.util.control.NonFatal

/** A Data-Pump-style bulk ETL job, re-expressed as a Spark read→write
  * pipeline. Mirrors the reference lifecycle (job.py:195-308):
  * directives compiled once into [[JobSettings]] → name synthesis →
  * open (registry entry) → snapshot pin → object selection → each
  * object's targets landed (Spark action or copy) → sidecar, ledger and
  * log → DELETE_FILES.
  *
  * EXPORT: `sourceDir` tables → parquet dump set under
  * `targetDir/<schema>/<table>/` + `_metadata.json` sidecar.
  * IMPORT: dump set at `sourceDir` → `targetDir/<schema'>/<table'>/`
  * with remaps/save-mode semantics applied.
  *
  * Parallel-degree ↔ file-count coupling (files.py:794-885): PARALLEL n
  * ⇒ each table's dump set is written as n part files — Spark's
  * substitute for the `%U` substitution variable. Each table moves in
  * one Spark job where its scan allows: with k the partition count of
  * the planned scan, k == n writes the scan as it is, k > n with
  * n ≥ defaultParallelism coalesces, and anything else repartitions
  * (see `layout`). An IMPORT whose rewrite would write the table the
  * dump already holds copies the dump's part files instead and runs no
  * Spark job (see `plan`).
  */
case class DataPumpJob(
    operation: Operation,
    mode: JobMode,
    sourceDir: String,
    targetDir: String,
    directives: Seq[Directive] = Nil,
    schema: String = "main",
    tag: Option[String] = None,
    jobOwner: String = "spark",
    explicitJobName: Option[String] = None,
    versioned: Boolean = false) {
  import DataPumpJob.{CopyParts, Plan, Target, Write}

  private val mapper =
    new ObjectMapper().registerModule(DefaultScalaModule)

  def jobDate: Instant = Instant.now()

  /** Synchronous run. `wait=false` launches the action on a daemon
    * thread and returns an EXECUTING snapshot immediately
    * (job.py:297-304); attach via JobRegistry/sidecar later.
    */
  def run(spark: SparkSession, wait: Boolean = true): JobStatusInfo = {
    val settings = DirectiveCompiler.compile(directives)
    val date = jobDate
    val name = explicitJobName.getOrElse(Util.jobName(
      operation, date,
      schemas =
        if (operation != Operation.Export) Nil
        else if (settings.schemas.nonEmpty) settings.schemas.map(_.toUpperCase)
        else Seq(schema.toUpperCase),
      remapSchema = settings.schemaRemaps.headOption.map { case (f, t) =>
        (f.toUpperCase, t.toUpperCase) },
      jobOwner = Some(jobOwner), tag = tag))

    def execute(): JobStatusInfo = {
      val started = Instant.now()
      val info =
        try runStages(spark, settings, name, date, started)
        catch {
          case NonFatal(e) =>
            JobStatusInfo(name, jobOwner, operation.name, mode.name,
              JobState.Stopped, 0.0,
              Seq(ObjectStatus("job", "FAILED", 0, 0, 0.0,
                Some(e.toString))),
              Nil, started, Some(Instant.now()))
        }
      JobRegistry.register(info)
      info
    }

    if (wait) execute()
    else {
      val pending = JobStatusInfo(name, jobOwner, operation.name, mode.name,
        JobState.Executing, 0.0, Nil, Nil, Instant.now(), None)
      JobRegistry.register(pending)
      val t = new Thread(() => { execute(); () }, s"graft-job-$name")
      t.setDaemon(true)
      t.start()
      pending
    }
  }

  private def runStages(
      spark: SparkSession,
      s: JobSettings,
      name: String,
      date: Instant,
      started: Instant): JobStatusInfo = {
    if (s.keepMaster) JobRegistry.retain(name)
    spark.sparkContext.setJobGroup(name, s"${operation.name} ${mode.name}")
    // events.parquet carries nanosecond timestamps (Spark 4 refuses
    // them natively); read as long nanos so FULL jobs can move them
    graft.Sessions.ensureEventTimestampCompat(spark)

    // ---- snapshot resolution (FLASHBACK_SCN/TIME -> version dir) ----
    val (importSource: String, sourceVersion: Long) = operation match {
      case Operation.Import
          if graft.sources.SnapshotStore.isVersioned(spark, sourceDir) =>
        val v = graft.sources.SnapshotStore
          .resolvePin(spark, sourceDir, s.snapshotPin).get
        (graft.sources.SnapshotStore.versionDir(sourceDir, v), v)
      case Operation.Import => (sourceDir, 0L)
      case _ =>
        // schema-version provenance (reference get_version,
        // database.py:128-138): the source ledger's current version —
        // 0 when the source is unversioned
        (sourceDir, graft.sources.SnapshotStore.readLedger(spark, sourceDir)
          .map(_.version).maxOption.getOrElse(0L))
    }
    val exportVersion: Option[Long] =
      if (versioned && operation != Operation.Import)
        Some(graft.sources.SnapshotStore.readLedger(spark, targetDir)
          .map(_.version).maxOption.getOrElse(0L) + 1)
      else None
    val effTarget = exportVersion
      .map(v => graft.sources.SnapshotStore.versionDir(targetDir, v))
      .getOrElse(targetDir)

    val srcRoot = if (operation == Operation.Import) importSource else sourceDir
    def srcPathOf(srcSchema: String, table: String): String = operation match {
      case Operation.Import => s"$importSource/$srcSchema/$table"
      case _ => sourceTablePath(spark, sourceDir, srcSchema, table)
    }

    // ---- object selection: one rule in every mode ----
    // (schema, table) pairs. Source layouts: flat `dir/<table>.parquet`
    // under the job's constructor schema, nested `dir/<schema>/<table>
    // .parquet` for multi-schema sources, and import dump sets
    // `dir/<schema>/<table>/part-*`.
    val available: Seq[(String, String)] = operation match {
      case Operation.Import => listDumpTables(spark, importSource)
      case _ => listSourceTables(spark, sourceDir)
    }
    // TABLESPACE/TRANSPORTABLE: path-prefix selection (SURVEY §1.1): a
    // tablespace on a file store is a storage root, so the mode keeps
    // the tables whose resolved source path sits under one of the
    // INCLUDE_TABLESPACE prefixes (absolute, or relative to the source
    // dir).
    val byPrefix = s.tablespaces.nonEmpty &&
      (mode == JobMode.Tablespace || mode == JobMode.Transportable)
    def under(path: String, prefix: String): Boolean = {
      val abs = if (prefix.startsWith("/")) prefix else s"$srcRoot/$prefix"
      path == abs || path.startsWith(abs + "/") ||
        path.startsWith(abs + ".") // flat `<prefix>.parquet`
    }
    // A table is selected when its schema is in scope (INCLUDE_SCHEMA
    // scopes any mode, directives.py:148-164; else SCHEMA mode scopes to
    // the job's own schema, job.py:142-158), its name is in the union
    // of the INCLUDE_TABLE lists, it sits under an INCLUDE_TABLESPACE
    // prefix, and EXCLUDE_OBJECT_TYPE=TABLE is not set.
    val selected = available.filter { case (sch, t) =>
      !s.tablesExcluded &&
        (if (s.schemas.nonEmpty) s.schemas.exists(_.toLowerCase == sch.toLowerCase)
         else mode != JobMode.Schema || sch.equalsIgnoreCase(schema)) &&
        s.tables.forall(_(t.toLowerCase)) &&
        (!byPrefix || s.tablespaces.exists(p => under(srcPathOf(sch, t), p)))
    }

    // TARGET_FILE_SIZE (engine extension): on IMPORT, part-file count
    // per table derives from measured source bytes / target instead of
    // PARALLEL — the write-time layout bound that needs no second
    // (compaction) pass. Export keeps the PARALLEL/%U coupling: the
    // dump-set contract names exactly `parallel` files.
    val targetFileBytes = s.targetFileBytes.filter(_ => operation == Operation.Import)
    // DUMP_FORMAT governs the dump-set side: what an EXPORT writes.
    // IMPORT always lands in the engine's native parquet store and
    // SNIFFS the dump's format from its part files, so any-format dump
    // roots import without configuration.
    val writeFormat =
      if (operation == Operation.Import) "parquet" else s.dumpFormat
    // ENCRYPTION is Parquet Modular Encryption: its writer options are
    // parquet.crypto.*/parquet.encryption.* keys that every OTHER
    // format writer silently IGNORES — combined with DUMP_FORMAT=csv/
    // json/orc the dump would land cleartext while the job reports
    // COMPLETED. A silently-unencrypted "encrypted" export is the one
    // failure mode a security directive must not have: fail the job up
    // front instead.
    if (writeFormat != "parquet" && s.writerOptions.keys.exists(k =>
        k.startsWith("parquet.crypto") || k.startsWith("parquet.encryption")))
      throw new graft.model.Exceptions.BadRequest(
        s"ENCRYPTION requires the parquet dump format; DUMP_FORMAT=" +
          s"$writeFormat would silently write a cleartext dump")
    // IMPORT may copy a dump table's part files instead of rewriting its
    // rows when nothing would change them: no row transform, no reader
    // or writer option, PARALLEL (not TARGET_FILE_SIZE) sets the file
    // count, and the write creates or replaces the target. `plan` makes
    // the per-object rest of the decision from the dump's files.
    val copyable = operation == Operation.Import && s.transforms.isEmpty &&
      s.readerOptions.isEmpty && s.writerOptions.isEmpty &&
      targetFileBytes.isEmpty && !s.truncate &&
      (s.saveMode == SaveMode.Overwrite || s.saveMode == SaveMode.ErrorIfExists)
    val storageTarget = s.storageOf(effTarget)
    val asOf = s.snapshotPin
      .getOrElse(Util.formatJobDate(date)) // auto snapshot pin, job.py:261-269
    def outPathOf(srcSchema: String, table: String): String =
      s"$storageTarget/${s.schemaOf(srcSchema)}/${s.tableOf(table)}"

    // ---- per-object movement with error accumulation (tolerates
    //      partial failure → COMPLETED_WITH_ERRORS, status.py:38) ----
    // Registry gets a refreshed EXECUTING snapshot after every object —
    // what a concurrent STATUS/POLL request observes mid-job (the
    // reference's per-worker status rows, status.py:240-318). Within an
    // object, a LiveProgress listener (strategy 3, status.py:334-399)
    // folds task-level input metrics into the percent a live STATUS sees.
    val resultByIdx =
      new java.util.concurrent.ConcurrentHashMap[Int, ObjectStatus]()
    def orderedResults: Seq[ObjectStatus] =
      selected.indices.flatMap(i => Option(resultByIdx.get(i)))
    def publishProgress(): Unit = synchronized {
      JobRegistry.register(
        JobStatusInfo(name, jobOwner, operation.name, mode.name,
          JobState.Executing,
          percentDone =
            if (selected.isEmpty) 100.0
            else 100.0 * resultByIdx.size / selected.size,
          objects = orderedResults, logEntries = Nil,
          startedAt = started, finishedAt = None))
    }

    // each object's on-disk source bytes (driver-side FS metadata, no
    // scan): the live tier's expected input, TARGET_FILE_SIZE's measure
    // and the worker pool's start order
    val srcBytes: IndexedSeq[Long] = selected.toIndexedSeq.map { case (sch, t) =>
      if (s.estimateOnly) 0L
      else try pathBytes(spark, srcPathOf(sch, t)) catch { case NonFatal(_) => 0L }
    }

    // TRUNCATE preserves target schema; APPEND extends the existing
    // table in place — BOTH require the incoming schema to equal what's
    // on disk. An unchecked APPEND is the worse failure: Spark happily
    // lands mismatched part files next to the old ones, and every later
    // read resolves the union by footer merge — silently nulled columns
    // instead of an error (the reference's loader raises ORA-31693 per
    // object on structure mismatch; that is this guard, routed through
    // the per-object error accumulation). Scope: self-describing formats
    // only — a csv/json target's schema comes back through lossy
    // inference (alphabetized columns, widened ints), so "existing !=
    // incoming" there says nothing; those appends keep the historical
    // unchecked behavior. The reader options ride along so an ENCRYPTED
    // target's footer is readable.
    def guardInPlaceWrite(table: String, outP: String,
        incoming: => org.apache.spark.sql.types.StructType): Unit = {
      val existingFormat =
        if ((s.truncate || s.saveMode == SaveMode.Append) &&
          exists(spark, outP)) Some(detectFormat(spark, outP))
        else None
      if (existingFormat.exists(f => f == "parquet" || f == "orc")) {
        val action = if (s.truncate) "TRUNCATE" else "APPEND"
        val existing = readTable(spark, outP, s.readerOptions,
          existingFormat.get).schema
        require(existing == incoming,
          s"$action requires identical schema for $table at $outP: " +
            s"existing ${existing.simpleString} vs ${incoming.simpleString}")
      }
    }

    /** Land one of `table`'s targets: None when TABLE_EXISTS_ACTION=SKIP
      * finds it, else its rows and on-disk bytes. */
    def land(table: String, t: Target): Option[(Long, Long)] =
      if (s.saveMode == SaveMode.Ignore && exists(spark, t.out)) None
      else {
        guardInPlaceWrite(table, t.out, t.df.schema)
        // File count: PARALLEL (%U dump-set layout) unless
        // TARGET_FILE_SIZE bounds it by measured source bytes
        val n = targetFileBytes.fold(s.parallel)(partsFor(t.srcBytes, _))
        val rows = plan(spark, t.df, n, t.copyFrom) match {
          case CopyParts(files, footerRows) =>
            copyParts(spark, files, t.out, s.saveMode)
            footerRows
          case Write(shape) =>
            // Row count observed ON the write itself — a second full
            // scan of what was just written would double read I/O
            // (tens of redundant TB at the 100 TB design point).
            val obs = Observation()
            writeTable(shape(t.df.observe(obs, count(lit(1)).as("rows"))),
              t.out, s.saveMode, s.writerOptions, writeFormat)
            obs.get("rows").asInstanceOf[Long]
        }
        Some((rows, pathBytes(spark, t.out)))
      }

    def moveOne(i: Int): ObjectStatus = {
      val (srcSchema, table) = selected(i)
      val t0 = System.nanoTime()
      val outPath = outPathOf(srcSchema, table)
      val srcPath = srcPathOf(srcSchema, table)
      try {
        // STOP cancels the job group's running and future Spark jobs; an
        // object that would run none (a copy) stops here
        if (JobRegistry.stopRequested(name))
          throw new java.util.concurrent.CancellationException(
            s"job $name stopped by user request")
        val srcFormat = operation match {
          case Operation.Import => detectFormat(spark, srcPath)
          case _ => "parquet"
        }
        // built only by the paths that read rows: a copy reads footers
        lazy val df0 = readTable(spark, srcPath, s.readerOptions, srcFormat)
        lazy val df = s.transforms.foldLeft(df0)((d, f) => f(d))
        if (s.estimateOnly || operation == Operation.SqlFile) {
          // ESTIMATE_ONLY (directives.py:304-305): stats, no movement.
          val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
          if (operation == Operation.SqlFile)
            writeString(spark, s"$outPath.sql",
              s"CREATE TABLE ${s.schemaOf(srcSchema)}.${s.tableOf(table)} " +
                s"(${df.schema.toDDL});\n")
          ObjectStatus(table, "ESTIMATED", -1L,
            bytes.longValue, secsSince(t0), None, srcSchema)
        } else {
          val pcols = if (s.departition) partitionColumnsOf(df0) else Nil
          val targets =
            if (pcols.isEmpty) Seq(new Target(outPath, df, srcBytes(i),
              Option.when(copyable && srcFormat == "parquet")(srcPath)))
            else promoted(spark, df0.inputFiles.toSeq, df, pcols, outPath)
          val landed = targets.flatMap(land(table, _))
          ObjectStatus(table,
            if (targets.nonEmpty && landed.isEmpty) "SKIPPED" else "COMPLETED",
            landed.map(_._1).sum, landed.map(_._2).sum, secsSince(t0), None,
            srcSchema)
        }
      } catch {
        case NonFatal(e) =>
          ObjectStatus(table, "FAILED", 0, 0, secsSince(t0),
            Some(e.toString), srcSchema)
      }
    }

    // Live within-object progress: expected input volume is the sum of
    // the selected sources' on-disk bytes; the listener accumulates
    // task-level bytesRead for this job group only.
    val liveTier = new graft.status.LiveProgress(name, srcBytes.sum)
    spark.sparkContext.addSparkListener(liveTier)
    JobRegistry.attachLive(name, liveTier)
    try {
      // Tables move CONCURRENTLY on a bounded driver pool — the analog
      // of the reference's PARALLEL worker processes (directives.py:
      // 400-409): a schema export of many small tables must not
      // serialize one Spark write job per table. Spark schedules
      // concurrent actions from separate driver threads; parallelism
      // INSIDE each action is still the cluster scheduler's job.
      // Objects start largest first, so the longest one does not wait
      // for a worker to free up; results keep `selected` order.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(s.parallel, selected.size)))
      try {
        selected.indices.sortBy(i => -srcBytes(i)).map { i =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = { resultByIdx.put(i, moveOne(i)); publishProgress() }
          })
        }.foreach(_.get()) // moveOne never throws; .get re-raises bugs
      } finally pool.shutdown()
    } finally {
      JobRegistry.detachLive(name)
      spark.sparkContext.removeSparkListener(liveTier)
    }
    val results = orderedResults
    spark.sparkContext.clearJobGroup()
    // Completion is tracked per (schema, table) pair — two schemas may
    // contain the same table name, and only the successful copy's target
    // path belongs in dumpFiles.
    val completed = selected.zip(results).collect {
      case (pair, r) if r.state == "COMPLETED" => pair }

    // ---- metadata sidecar (commands.py:234-244) ----
    if (s.includeMetadata && !s.estimateOnly) {
      // Per-schema metadata entries — parity with the reference's
      // SchemaHandler assembly (job.py:142-158,235-250): each schema
      // lists its tables, its storage root (tablespace analog), and
      // the source's ledger version (migration-version analog,
      // job.py:246-250) so a dump consumer can tell which source
      // state it holds.
      val schemaMetas = selected.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (sch, ps) =>
          SchemaMeta(sch, ps.map(_._2), tablespace = storageTarget,
            version = sourceVersion) }
      val meta = JobMetaData(name, jobOwner, operation.name, mode.name,
        Util.formatJobDate(date), selected.map(_._2),
        directives.map(d => Map("name" -> d.name, "value" -> d.valueRepr)),
        completed.map((outPathOf _).tupled), Some(asOf), tag, schemaMetas)
      writeString(spark, s"$storageTarget/_metadata.json",
        mapper.writerWithDefaultPrettyPrinter().writeValueAsString(meta))
    }

    // ---- version ledger (snapshot-consistent export, job.py:261-269
    //      auto-pin parity: the committed version IS the snapshot) ----
    val anyCompleted = results.exists(r =>
      r.state == "COMPLETED" || r.state == "ESTIMATED")
    exportVersion.foreach { v =>
      if (anyCompleted)
        graft.sources.SnapshotStore.appendVersion(spark, targetDir, name, date)
    }

    val failed = results.count(_.state == "FAILED")
    val stopped = JobRegistry.stopRequested(name)
    if (stopped) JobRegistry.clearStop(name)
    val state =
      if (stopped) JobState.Stopped
      else if (failed == 0) JobState.Completed
      else if (failed < results.size) JobState.CompletedWithErrors
      else JobState.Stopped

    // ---- job logfile (get_logfile, job.py:322-329) ----
    // Written in the reference's dump-log line shapes, so the engine's
    // OWN LogParser (the strategy-2 status fallback) round-trips it:
    // finalState(readLines(log)) == this job's state.
    if (s.includeMetadata && !s.estimateOnly) {
      val verb = operation match {
        case Operation.Import => "imported"
        case _ => "exported"
      }
      val lines = results.map { r =>
        r.state match {
          case "COMPLETED" =>
            f""". . $verb "${r.objectSchema}"."${r.objectName}" ${r.rows} rows in ${r.elapsedSec}%.1f s"""
          case "FAILED" =>
            s"""ORA-31693: Table data object "${r.objectSchema}"."${r.objectName}" failed to load/unload: ${r.error.getOrElse("")}"""
          case "SKIPPED" =>
            s"""Table "${r.objectSchema}"."${r.objectName}" exists. skipping (TABLE_EXISTS_ACTION=SKIP)"""
          case other => s". . $other ${r.objectName}"
        }
      }
      val finalLine =
        if (stopped)
          s"""Job "$jobOwner"."$name" stopped by user request at ${Instant.now}"""
        else if (failed == 0)
          s"""Job "$jobOwner"."$name" successfully completed at ${Instant.now}"""
        else
          s"""Job "$jobOwner"."$name" completed with $failed error(s) at ${Instant.now}"""
      try writeString(spark, s"$storageTarget/_joblog.txt",
        (lines :+ finalLine).mkString("", "\n", "\n"))
      catch { case NonFatal(_) => () } // log write must not fail the job
    }

    // ---- DELETE_FILES (directives.py:556-587): an import consumes the
    //      dumps of the objects it moved, once their outcome is recorded ----
    if (s.deleteFiles && operation == Operation.Import)
      completed.foreach { case (sch, t) =>
        val p = new Path(s"$importSource/$sch/$t")
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      }

    JobStatusInfo(name, jobOwner, operation.name, mode.name, state,
      percentDone = if (results.isEmpty) 100.0
        else 100.0 * (results.size - failed) / results.size,
      objects = results.toSeq,
      logEntries = results.zipWithIndex.map { case (r, i) =>
        JobLogEntry(i + 1L, s"${r.state} ${r.objectName} rows=${r.rows}")
      }.toSeq,
      startedAt = started, finishedAt = Some(Instant.now()))
  }

  // ---- dump-set helpers ----

  /** Import-side dump enumeration: a real FS can list directories, so
    * the reference's brute-force `%U` probing (files.py:810-857)
    * becomes a listing of `dir/<schema>/<table>/` pairs.
    */
  private def listDumpTables(
      spark: SparkSession, dir: String): Seq[(String, String)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && isSchemaDirName(s.getPath.getName))
      .flatMap { schemaDir =>
        fs.listStatus(schemaDir.getPath)
          .filter(s => s.isDirectory && !FooterBridge.hidden(s.getPath.getName))
          .map(td => schemaDir.getPath.getName -> td.getPath.getName)
      }.sorted
  }

  /** Export-side enumeration across both source layouts: flat
    * `dir/<table>.parquet` (tables belong to the job's constructor
    * schema) and nested `dir/<schema>/<table>.parquet` (multi-schema
    * source).
    */
  private def listSourceTables(
      spark: SparkSession, dir: String): Seq[(String, String)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    val entries = fs.listStatus(p).toSeq
    // Flat layout is enumerated from the directory itself — the analog
    // of the reference's dictionary-view enumeration (database.py:93-115).
    // A static table list here would silently drop any table it doesn't
    // know about: data loss on the flagship EXPORT path.
    val flat = entries
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(f => schema -> f.getPath.getName.stripSuffix(".parquet"))
    val nested: Seq[(String, String)] = entries
      .filter(s => s.isDirectory && isSchemaDirName(s.getPath.getName))
      .flatMap { sd =>
        fs.listStatus(sd.getPath).toSeq
          .filter(_.getPath.getName.endsWith(".parquet"))
          .map(f => sd.getPath.getName ->
            f.getPath.getName.stripSuffix(".parquet"))
      }
    (flat ++ nested).distinct.sorted
  }

  /** Not a schema dir: parquet table dirs, hidden/meta dirs, and
    * `k=v` partition or version (`v=N`) dirs. */
  private def isSchemaDirName(n: String): Boolean =
    !n.endsWith(".parquet") && !n.startsWith(".") &&
      !n.startsWith("_") && !n.contains("=")

  private def sourceTablePath(spark: SparkSession, dir: String,
      srcSchema: String, table: String): String = {
    val flat = Tables.path(dir, table)
    if (srcSchema.equalsIgnoreCase(schema) && exists(spark, flat)) flat
    else s"$dir/$srcSchema/$table.parquet"
  }

  /** Sniff a dump dir's file format from its part files — keeps IMPORT
    * configuration-free across DUMP_FORMAT variants. */
  private def detectFormat(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part =
      if (!fs.exists(p)) None
      else fs.listStatus(p).map(_.getPath.getName).find(_.startsWith("part-"))
    part match {
      case Some(n) if n.contains(".csv") => "csv"
      case Some(n) if n.contains(".json") => "json"
      case Some(n) if n.contains(".orc") => "orc"
      case _ => "parquet"
    }
  }

  private def readTable(spark: SparkSession, path: String,
      readerOpts: Map[String, String], format: String): DataFrame = {
    val r = spark.read.options(readerOpts)
    format match {
      // csv re-infers types: lossy interchange, documented on DumpFormat
      case "csv" => r.option("header", "true")
        .option("inferSchema", "true").csv(path)
      case "json" => r.json(path)
      case "orc" => r.orc(path)
      // the schema comes from one footer read on the driver: inference
      // would launch a one-task Spark job per table for it
      case _ => graft.sources.ParquetSchema.of(spark, path, readerOpts)
        .fold(r)(r.schema).parquet(path)
    }
  }

  /** TARGET_FILE_SIZE part count: `bytes` in files of at most
    * `target` bytes, at least one file and at most 2²⁰. */
  private def partsFor(bytes: Long, target: Long): Int =
    math.min(1L << 20, math.max(1L, (bytes + target - 1) / target)).toInt

  /** The one copy-or-write decision. `copyFrom` is a parquet dump table
    * dir whose job allows a copy; it is copied when a rewrite of it
    * would write the same table: the dir is flat, holds exactly n data
    * files, and their footers say this session's writer would have
    * written them as they are (`ParquetSchema.sessionWritten`). Decided
    * on the driver, from the listing and the footers; `df` is built
    * only for a write. */
  private def plan(spark: SparkSession, df: => DataFrame, n: Int,
      copyFrom: Option[String]): Plan =
    copyFrom.flatMap { dir =>
      val p = new Path(dir)
      val listed = p.getFileSystem(spark.sessionState.newHadoopConf())
        .listStatus(p).toSeq.filterNot(s => FooterBridge.hidden(s.getPath.getName))
        .sortBy(_.getPath.toString)
      // a summary file (`_metadata`, which the listing keeps) is no data file
      if (listed.size != n ||
          listed.exists(s => !s.isFile || s.getPath.getName.startsWith("_"))) None
      else graft.sources.ParquetSchema.sessionWritten(spark, listed)
        .map(CopyParts(listed.map(_.getPath), _))
    }.getOrElse(Write(layout(df, n)))

  /** Land `files` byte for byte as the table at `path`, through a
    * `_`-prefixed staging dir beside it that no table listing sees,
    * renamed into place after the last file (with Spark's `_SUCCESS`
    * marker): a failure leaves neither a half-copied table nor the
    * staging dir. Overwrite replaces an existing table at the rename;
    * ErrorIfExists fails on one before copying. Each file's head magic
    * is checked on the way (its footer read checked the tail). */
  private def copyParts(spark: SparkSession, files: Seq[Path], path: String,
      mode: SaveMode): Unit = {
    import org.apache.hadoop.mapreduce.lib.output.FileOutputCommitter
    val conf = spark.sessionState.newHadoopConf()
    val out = new Path(path)
    val fs = out.getFileSystem(conf)
    def taken() = new org.apache.hadoop.fs.FileAlreadyExistsException(
      s"path $path already exists")
    if (mode == SaveMode.ErrorIfExists && fs.exists(out)) throw taken()
    val staging = new Path(out.getParent,
      s"_copying-${out.getName}-${java.util.UUID.randomUUID}")
    try {
      files.foreach { f =>
        val in = f.getFileSystem(conf).open(f)
        try {
          val magic = new Array[Byte](4)
          in.readFully(magic)
          if (new String(magic, "US-ASCII") != "PAR1")
            throw new java.io.IOException(s"$f has no parquet magic at its head")
          val o = fs.create(new Path(staging, f.getName), false)
          try {
            o.write(magic)
            org.apache.hadoop.io.IOUtils.copyBytes(in, o, 1 << 16)
          } finally o.close()
        } finally in.close()
      }
      if (conf.getBoolean(FileOutputCommitter.SUCCESSFUL_JOB_OUTPUT_DIR_MARKER, true))
        fs.create(new Path(staging, FileOutputCommitter.SUCCEEDED_FILE_NAME), false)
          .close()
      if (mode == SaveMode.Overwrite) fs.delete(out, true)
      else if (fs.exists(out)) throw taken()
      if (!fs.rename(staging, out))
        throw new java.io.IOException(s"could not rename $staging to $path")
    } catch {
      case NonFatal(e) => fs.delete(staging, true); throw e
    }
  }

  /** How a frame is laid out for a write of exactly n part files, as a
    * function applied to the (observed) frame. With k the partition
    * count of `df`'s planned scan: k == n writes the scan as it is;
    * k > n coalesces, when n ≥ defaultParallelism so that no core is
    * left idle; otherwise (k < n, an unknown k, or a small n that
    * coalesce would serialize) a round-robin repartition(n). `df` is the
    * frame before `.observe(...)`, so the observation sees only the
    * write. */
  private def layout(df: DataFrame, n: Int): DataFrame => DataFrame =
    scanPartitions(df) match {
      case Some(k) if k == n => identity
      case Some(k) if k > n &&
          n >= df.sparkSession.sparkContext.defaultParallelism => _.coalesce(n)
      case _ => _.repartition(n)
    }

  /** Partition count of `df`'s planned file scan when each partition
    * writes one file: the plan is a single file scan that keeps every
    * row (projections only; a filter could empty a partition, and
    * Spark writes no file for an empty one), and each partition holds a
    * whole file (a split holding no row group's midpoint reads empty).
    * Planning only: no Spark job runs. None for any other plan. */
  private def scanPartitions(df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.datasources.FileScanRDD
    val plan = df.queryExecution.executedPlan
    val rowPreserving = !plan.exists {
      case _: WholeStageCodegenExec | _: InputAdapter | _: ColumnarToRowExec |
          _: ProjectExec => false
      case s: FileSourceScanExec => s.dataFilters.nonEmpty
      case _ => true
    }
    if (!rowPreserving) None
    else plan.collectFirst { case s: FileSourceScanExec => s.inputRDD }.collect {
      case rdd: FileScanRDD if rdd.filePartitions.forall(_.files.exists(f =>
          f.start == 0 && f.length == f.fileSize)) => rdd.filePartitions.size
    }
  }

  private def writeTable(df: DataFrame, path: String, mode: SaveMode,
      writerOpts: Map[String, String], format: String): Unit = {
    val w = df.write.mode(mode).options(writerOpts)
    format match {
      case "csv" => w.option("header", "true").csv(path)
      case "json" => w.json(path)
      case "orc" => w.orc(path)
      case _ => w.parquet(path)
    }
  }

  /** DEPARTITION (directives.py:346-349): each source partition becomes
    * its own table `<out>_<col>_<value>`. Partition combos come from the
    * FILE INDEX (`files`, the `k=v` path segments Spark already
    * discovered) — no distinct().collect() scan — and each combo's frame
    * selects it by FILTERING `df` on the partition columns: Catalyst
    * partition pruning reduces each write to exactly that combo's
    * directory, so the source is scanned exactly once in total. Each
    * combo's source bytes (TARGET_FILE_SIZE's measure) are its files'
    * lengths, driver-side FileStatus, no scan. */
  private def promoted(spark: SparkSession, files: Seq[String], df: DataFrame,
      pcols: Seq[String], out: String): Seq[Target] = {
    import org.apache.spark.sql.functions.col
    val seg = "([A-Za-z_][A-Za-z0-9_]*)=(.+)".r
    // Combo values are unescaped to the ACTUAL partition values (path
    // segments are Hive/URL-escaped, %XX). inputFiles are URIs (their
    // own %-encoding on top of the Hive escaping): strip the URI layer
    // first, then Hive-decode.
    files
      .map { f =>
        (new java.net.URI(f).getPath.split('/').toSeq.collect {
          case seg(k, v) if pcols.contains(k) => (k, unescapePathValue(v))
        }, f)
      }
      .filter(_._1.nonEmpty)
      .groupBy(_._1).toSeq.sortBy(_._1.map(_._2).mkString("/"))
      .map { case (combo, byCombo) =>
        new Target(
          s"${out}_" + combo.map { case (k, v) => s"${k}_${sanitizeName(v)}" }.mkString("_"),
          combo.foldLeft(df) { case (d, (k, v)) =>
            d.filter(if (v == "__HIVE_DEFAULT_PARTITION__") col(k).isNull
              else col(k) === lit(v))
          }.drop(pcols: _*),
          byCombo.map { case (_, f) =>
            val p = new Path(f)
            p.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .getFileStatus(p).getLen
          }.sum)
      }
  }

  /** Reverse Hive path escaping (`%XX`) so DEPARTITION sees the actual
    * partition values, not the escaped path segments; the Hive null
    * sentinel stays verbatim.
    */
  private def unescapePathValue(v: String): String = {
    val sb = new StringBuilder(v.length)
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '%' && i + 2 < v.length &&
          Character.digit(v.charAt(i + 1), 16) >= 0 &&
          Character.digit(v.charAt(i + 2), 16) >= 0) {
        sb.append((Character.digit(v.charAt(i + 1), 16) * 16 +
          Character.digit(v.charAt(i + 2), 16)).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Neutralize path-hostile characters for use in an output table name. */
  private def sanitizeName(v: String): String = v.map(ch =>
    if (ch == '/' || ch == '\\' || Character.isISOControl(ch)) '_' else ch)

  /** Hive-style partition columns of a parquet-backed DataFrame,
    * discovered from its input paths (`k=v` segments). */
  private def partitionColumnsOf(df: DataFrame): Seq[String] = {
    val re = "/([A-Za-z_][A-Za-z0-9_]*)=[^/]+".r
    df.inputFiles.headOption.toSeq.flatMap(f =>
      re.findAllMatchIn(f).map(_.group(1)).toSeq).distinct
      .filter(c => df.columns.contains(c))
  }

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def pathBytes(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.getContentSummary(p).getLength
  }

  private def writeString(spark: SparkSession, path: String, s: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

object DataPumpJob {
  /** How one object lands as a table of n part files. */
  private sealed trait Plan
  /** Copy the dump's part files as they are; `rows` from their footers. */
  private final case class CopyParts(files: Seq[Path], rows: Long) extends Plan
  /** Write the (observed) frame in `shape` (see `layout`). */
  private final case class Write(shape: DataFrame => DataFrame) extends Plan

  /** One table an object lands as: the plain table, or one DEPARTITION
    * partition. Its frame is built at most once, and only by a step that
    * reads rows; its source bytes are measured only for
    * TARGET_FILE_SIZE; `copyFrom` is the dump dir a copy may take the
    * plain table's files from. */
  private final class Target(val out: String, frame: => DataFrame,
      bytes: => Long, val copyFrom: Option[String] = None) {
    lazy val df: DataFrame = frame
    lazy val srcBytes: Long = bytes
  }

  /** Read a dump dir's `_metadata.json` sidecar (the attach recovery
    * source and the consumer-facing provenance record: tables,
    * directives, per-schema tablespace + source version). */
  def readSidecar(spark: SparkSession, dir: String): Option[JobMetaData] = {
    val p = new Path(s"$dir/_metadata.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
      val in = fs.open(p)
      try Some(mapper.readValue(in: java.io.InputStream, classOf[JobMetaData]))
      finally in.close()
    }
  }

  /** Attach to a job by name (job.py:330-349): registry probe first,
    * then sidecar recovery from a dump dir.
    */
  def attach(
      spark: SparkSession,
      jobName: String,
      dumpDir: Option[String] = None): Option[JobStatusInfo] =
    JobRegistry.get(jobName).orElse {
      dumpDir.flatMap { dir =>
        readSidecar(spark, dir) match {
          case None =>
            // LOG-ONLY degrade (job.py:330-349: attach swallows
            // JobNotFound and falls back to a bare status handler):
            // registry AND sidecar both gone, but a surviving
            // _joblog.txt still yields the terminal state + owner —
            // a None here would read as "job never existed" to a
            // caller holding a dump dir that plainly finished
            getLogfile(spark, dir).flatMap { text =>
              graft.status.LogParser.finalJob(text.linesIterator.toSeq)
                .filter { case (_, name, _) => name == jobName }
                .map { case (owner, _, state) =>
                  JobStatusInfo(jobName, owner, "UNKNOWN", "UNKNOWN",
                    state, 100.0, Nil, Nil,
                    Instant.now(), Some(Instant.now()))
                }
            }
          case Some(meta) if meta.jobName != jobName => None
          case Some(meta) => {
            // strategy-2 state recovery: the logfile's completion line
            // distinguishes COMPLETED from COMPLETED_WITH_ERRORS
            val state = getLogfile(spark, dir)
              .map(l => graft.status.LogParser
                .finalState(l.linesIterator.toSeq))
              .filter(_ != JobState.Unknown)
              .getOrElse(JobState.Completed)
            Some(JobStatusInfo(meta.jobName, meta.jobOwner, meta.operation,
              meta.mode, state, 100.0, Nil, Nil,
              Instant.now(), Some(Instant.now())))
          }
        }
      }
    }

  /** STOP_JOB analog (DBMS_DATAPUMP.STOP_JOB; states STOP_PENDING →
    * STOPPING → STOPPED, status.py:32-47): flag the registry and cancel
    * the job group — active Spark actions abort, queued ones fail fast
    * — and the finishing job records STOPPED. Returns false when the
    * job is unknown or already terminal. */
  def stop(spark: SparkSession, jobName: String,
      reason: String = "stop requested"): Boolean =
    JobRegistry.get(jobName).filter(!_.state.isTerminal).exists { _ =>
      JobRegistry.requestStop(jobName)
      spark.sparkContext.cancelJobGroupAndFutureJobs(jobName, reason)
      true
    }

  /** Retrieve a finished job's logfile text from its dump dir
    * (get_logfile, job.py:322-329); None when no log was written. */
  def getLogfile(spark: SparkSession, dumpDir: String): Option[String] = {
    val p = new Path(s"$dumpDir/_joblog.txt")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(graft.sources.RemoteFile.readAllText(spark, p.toString))
  }

  /** Sleep-loop completion poll (job.py:317-320,390-409). */
  def pollForCompletion(
      jobName: String,
      pollIntervalMs: Long = 1000,
      timeoutMs: Long = 120000): JobState = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline) {
      JobRegistry.get(jobName) match {
        case Some(info) if info.state.isTerminal => return info.state
        case _ => Thread.sleep(pollIntervalMs)
      }
    }
    JobState.Unknown
  }
}
