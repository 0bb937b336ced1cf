package graft.job

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.Tables
import graft.directives.{Directive, DirectiveCompiler, Effect}
import graft.model._
import graft.status.{JobRegistry, JobStatusInfo, ObjectStatus}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import java.time.Instant
import scala.util.control.NonFatal

/** Execution-time context handed to POST-stage directives
  * (reference Stage.POST application, job.py:288-295).
  */
case class JobContext(
    spark: SparkSession,
    jobName: String,
    sourceDir: String,
    targetDir: String,
    sourceFiles: Seq[String]) {
  /** DELETE_FILES post-action (directives.py:556-587): remove the
    * consumed dump set — "move" semantics for import. */
  def deleteSourceFiles(): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    sourceFiles.foreach { f =>
      val p = new Path(f)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.delete(p, true)
    }
  }
}

/** A Data-Pump-style bulk ETL job, re-expressed as a Spark read→write
  * pipeline. Mirrors the reference lifecycle (job.py:195-308):
  * validate → name synthesis → open (registry entry) → metadata
  * assembly → file resolution → snapshot pin → staged directive
  * application → start (Spark action) → status → post actions.
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
  * (see `layout`).
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

  private val mapper =
    new ObjectMapper().registerModule(DefaultScalaModule)

  def jobDate: Instant = Instant.now()

  /** Synchronous run. `wait=false` launches the action on a daemon
    * thread and returns an EXECUTING snapshot immediately
    * (job.py:297-304); attach via JobRegistry/sidecar later.
    */
  def run(spark: SparkSession, wait: Boolean = true): JobStatusInfo = {
    val date = jobDate
    val remap = directives.collectFirst { case graft.directives.RemapSchema(f, t) => (f, t) }
    val included = directives.collect {
      case graft.directives.IncludeSchema(s) => s.toUpperCase }
    val name = explicitJobName.getOrElse(Util.jobName(
      operation, date,
      schemas =
        if (operation != Operation.Export) Nil
        else if (included.nonEmpty) included
        else Seq(schema.toUpperCase),
      remapSchema = remap.map { case (f, t) => (f.toUpperCase, t.toUpperCase) },
      jobOwner = Some(jobOwner), tag = tag))

    def execute(): JobStatusInfo = {
      val started = Instant.now()
      val info =
        try runStages(spark, name, date, started)
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
      name: String,
      date: Instant,
      started: Instant): JobStatusInfo = {
    val effects = directives.flatMap(DirectiveCompiler.compile)
    if (effects.contains(Effect.RetainMaster)) JobRegistry.retain(name)
    spark.sparkContext.setJobGroup(name, s"${operation.name} ${mode.name}")
    // events.parquet carries nanosecond timestamps (Spark 4 refuses
    // them natively); read as long nanos so FULL jobs can move them
    graft.Sessions.ensureEventTimestampCompat(spark)

    // ---- snapshot resolution (FLASHBACK_SCN/TIME -> version dir) ----
    val explicitPin = effects.collectFirst { case Effect.SnapshotPin(v) => v }
    val (importSource: String, sourceVersion: Long) = operation match {
      case Operation.Import
          if graft.sources.SnapshotStore.isVersioned(spark, sourceDir) =>
        val v = graft.sources.SnapshotStore
          .resolvePin(spark, sourceDir, explicitPin).get
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

    // ---- object enumeration (mode scoping + metadata filters) ----
    // (schema, table) pairs. Source layouts: flat `dir/<table>.parquet`
    // under the job's constructor schema, nested `dir/<schema>/<table>
    // .parquet` for multi-schema sources, and import dump sets
    // `dir/<schema>/<table>/part-*`.
    val available: Seq[(String, String)] = operation match {
      case Operation.Import => listDumpTables(spark, importSource)
      case _ => listSourceTables(spark, sourceDir)
    }
    // SCHEMA-mode scoping (job.py:142-158; INCLUDE_SCHEMA restricts the
    // job to the named schemas, directives.py:148-164). An explicit
    // INCLUDE_SCHEMA scopes any mode; bare SCHEMA mode scopes to the
    // job's own schema.
    val includedSchemas = directives.collect {
      case graft.directives.IncludeSchema(s) => s.toLowerCase }.toSet
    val schemaScoped =
      if (includedSchemas.nonEmpty)
        available.filter(p => includedSchemas(p._1.toLowerCase))
      else mode match {
        case JobMode.Schema => available.filter(_._1.equalsIgnoreCase(schema))
        case _ => available
      }
    val modeScoped = mode match {
      case JobMode.Table =>
        val wanted = directives.collect {
          case graft.directives.IncludeTable(ts) => ts.map(_.toLowerCase)
        }.flatten.toSet
        if (wanted.isEmpty) schemaScoped
        else schemaScoped.filter(p => wanted(p._2.toLowerCase))
      case JobMode.Tablespace | JobMode.Transportable =>
        // Path-prefix selection (SURVEY §1.1): a tablespace on a file
        // store is a storage root, so the mode keeps the tables whose
        // resolved source path sits under one of the INCLUDE_TABLESPACE
        // prefixes (absolute, or relative to the source dir).
        val prefixes = directives.collect {
          case graft.directives.IncludeTablespace(ps) => ps }.flatten
        if (prefixes.isEmpty) schemaScoped
        else {
          val srcRoot = operation match {
            case Operation.Import => importSource
            case _ => sourceDir
          }
          def pathOf(s: String, t: String): String = operation match {
            case Operation.Import => s"$importSource/$s/$t"
            case _ => sourceTablePath(spark, sourceDir, s, t)
          }
          def under(path: String, prefix: String): Boolean = {
            val abs = if (prefix.startsWith("/")) prefix
              else s"$srcRoot/$prefix"
            path == abs || path.startsWith(abs + "/") ||
              path.startsWith(abs + ".") // flat `<prefix>.parquet`
          }
          schemaScoped.filter { case (s, t) =>
            prefixes.exists(p => under(pathOf(s, t), p)) }
        }
      case _ => schemaScoped
    }
    val selected = effects.foldLeft(modeScoped) {
      case (pairs, Effect.ObjectSelection(f)) =>
        val keep = f(pairs.map(_._2)).toSet
        pairs.filter(p => keep(p._2))
      case (pairs, _) => pairs
    }

    // ---- effect resolution ----
    val parallel = effects.collectFirst { case Effect.SetParallel(n) => n }.getOrElse(1)
    // TARGET_FILE_SIZE (engine extension): on IMPORT, part-file count
    // per table derives from measured source bytes / target instead of
    // PARALLEL — the write-time layout bound that needs no second
    // (compaction) pass. Export keeps the PARALLEL/%U coupling: the
    // dump-set contract names exactly `parallel` files.
    val targetFileBytes: Option[Long] =
      if (operation == Operation.Import)
        effects.collectFirst { case Effect.TargetFileBytes(b) => b }
      else None
    // DUMP_FORMAT governs the dump-set side: what an EXPORT writes.
    // IMPORT always lands in the engine's native parquet store and
    // SNIFFS the dump's format from its part files, so any-format dump
    // roots import without configuration.
    val dumpFormat = effects.collectFirst {
      case Effect.SetFormat(f) => f }.getOrElse("parquet")
    val writeFormat =
      if (operation == Operation.Import) "parquet" else dumpFormat
    val (saveMode, truncate) = effects.collectFirst {
      case Effect.SetSaveMode(m, t) => (m, t)
    }.getOrElse((SaveMode.ErrorIfExists, false))
    val writerOpts = effects.collect { case Effect.WriterOption(k, v) => k -> v }.toMap
    // ENCRYPTION is Parquet Modular Encryption: its writer options are
    // parquet.crypto.*/parquet.encryption.* keys that every OTHER
    // format writer silently IGNORES — combined with DUMP_FORMAT=csv/
    // json/orc the dump would land cleartext while the job reports
    // COMPLETED. A silently-unencrypted "encrypted" export is the one
    // failure mode a security directive must not have: fail the job up
    // front instead.
    if (writeFormat != "parquet" && writerOpts.keys.exists(k =>
        k.startsWith("parquet.crypto") || k.startsWith("parquet.encryption")))
      throw new graft.model.Exceptions.BadRequest(
        s"ENCRYPTION requires the parquet dump format; DUMP_FORMAT=" +
          s"$writeFormat would silently write a cleartext dump")
    val readerOpts = effects.collect { case Effect.ReaderOption(k, v) => k -> v }.toMap
    val transforms = effects.collect { case Effect.PlanTransform(f) => f }
    val estimateOnly = effects.contains(Effect.EstimateOnly)
    val departition = effects.contains(Effect.Departition)
    val schemaRemaps = effects.collect {
      case Effect.IdentityRemap("SCHEMA", f, t) => f.toLowerCase -> t
    }.toMap
    val tableRemaps = effects.collect {
      case Effect.IdentityRemap("TABLE", f, t) => f.toLowerCase -> t.toLowerCase
    }.toMap
    // REMAP_TABLESPACE (directives.py:453-454): a tablespace is physical
    // placement; on a file store that's the output root, so the remap
    // rewrites matching path SEGMENTS of the target root. REMAP_DATAFILE
    // (directives.py:457-458) rewrites a full path PREFIX (a datafile is
    // a concrete file path). Exercised like tests/test_import.py:48-51.
    val tablespaceRemaps = effects.collect {
      case Effect.IdentityRemap("TABLESPACE", f, t) => f -> t }.toMap
    val datafileRemaps = effects.collect {
      case Effect.IdentityRemap("DATAFILE", f, t) => (f, t) }
    def remapStorage(root: String): String = {
      val bySegment =
        if (tablespaceRemaps.isEmpty) root
        else root.split('/')
          .map(s => tablespaceRemaps.getOrElse(s, s)).mkString("/")
      datafileRemaps.foldLeft(bySegment) { case (r, (f, t)) =>
        if (r == f || r.startsWith(f + "/")) t + r.drop(f.length) else r
      }
    }
    val storageTarget = remapStorage(effTarget)
    val asOf = effects.collectFirst { case Effect.SnapshotPin(v) => v }
      .getOrElse(Util.formatJobDate(date)) // auto snapshot pin, job.py:261-269
    val includeMetadata = effects.collectFirst {
      case Effect.ContentSelection(_, md) => md
    }.getOrElse(true)

    // REMAP_SCHEMA applies per source schema, exact-match semantics
    // (directives.py:449-450): only objects OF the remapped schema move.
    def targetSchemaOf(srcSchema: String): String =
      schemaRemaps.getOrElse(srcSchema.toLowerCase, srcSchema)

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

    def srcPathOf(srcSchema: String, table: String): String = operation match {
      case Operation.Import => s"$importSource/$srcSchema/$table"
      case _ => sourceTablePath(spark, sourceDir, srcSchema, table)
    }

    def moveOne(srcSchema: String, table: String): ObjectStatus = {
      val t0 = System.nanoTime()
      val targetTable = tableRemaps.getOrElse(table, table)
      val targetSchema = targetSchemaOf(srcSchema)
      val outPath = s"$storageTarget/$targetSchema/$targetTable"
      val srcPath = srcPathOf(srcSchema, table)
      try {
        val srcFormat = operation match {
          case Operation.Import => detectFormat(spark, srcPath)
          case _ => "parquet"
        }
        val df0 = readTable(spark, srcPath, readerOpts, srcFormat)
        val df = transforms.foldLeft(df0)((d, f) => f(d))
        if (estimateOnly || operation == Operation.SqlFile) {
          // ESTIMATE_ONLY (directives.py:304-305): stats, no movement.
          val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
          if (operation == Operation.SqlFile)
            writeString(spark, s"$storageTarget/$targetSchema/$targetTable.sql",
              s"CREATE TABLE $targetSchema.$targetTable (${df.schema.toDDL});\n")
          ObjectStatus(table, "ESTIMATED", -1L,
            bytes.longValue, secsSince(t0), None, srcSchema)
        } else {
          // TRUNCATE preserves target schema; APPEND extends the
          // existing table in place — BOTH require the incoming schema
          // to equal what's on disk. An unchecked APPEND is the worse
          // failure: Spark happily lands mismatched part files next to
          // the old ones, and every later read resolves the union by
          // footer merge — silently nulled columns instead of an error
          // (the reference's loader raises ORA-31693 per object on
          // structure mismatch; that is this guard, routed through the
          // per-object error accumulation). Scope: self-describing
          // formats only — a csv/json target's schema comes back
          // through lossy inference (alphabetized columns, widened
          // ints), so "existing != incoming" there says nothing; those
          // appends keep the historical unchecked behavior. readerOpts
          // ride along so an ENCRYPTED target's footer is readable.
          // ONE definition, called on BOTH write paths — the
          // DEPARTITION combo writes append onto previously promoted
          // tables through the very same hole otherwise.
          def guardInPlaceWrite(outP: String,
              incoming: org.apache.spark.sql.types.StructType): Unit = {
            val existingFormat =
              if ((truncate || saveMode == SaveMode.Append) &&
                exists(spark, outP)) Some(detectFormat(spark, outP))
              else None
            if (existingFormat.exists(f => f == "parquet" || f == "orc")) {
              val action = if (truncate) "TRUNCATE" else "APPEND"
              val existing = readTable(spark, outP, readerOpts,
                existingFormat.get).schema
              require(existing == incoming,
                s"$action requires identical schema for $table at $outP: " +
                  s"existing ${existing.simpleString} vs ${incoming.simpleString}")
            }
          }
          if (departition && partitionColumnsOf(df0).nonEmpty) {
            // DEPARTITION (directives.py:346-349): each source partition
            // becomes its own table `<table>_<col>_<value>`. Partition
            // combos come from the FILE INDEX (the `k=v` path segments
            // Spark already discovered) — no distinct().collect() scan —
            // and each combo is read from its own partition directory,
            // so the source is scanned exactly once in total. Row counts
            // ride the writes via Observation (no re-scan).
            val pcols = partitionColumnsOf(df0)
            val seg = "([A-Za-z_][A-Za-z0-9_]*)=(.+)".r
            // Combo values are unescaped to the ACTUAL partition values
            // (path segments are Hive/URL-escaped, %XX).
            // inputFiles are URIs (their own %-encoding on top of the
            // Hive escaping): strip the URI layer first, then Hive-decode.
            val filesByCombo: Map[Seq[(String, String)], Seq[String]] =
              df0.inputFiles.toSeq
                .map { f =>
                  (new java.net.URI(f).getPath.split('/').toSeq.collect {
                    case seg(k, v) if pcols.contains(k) =>
                      (k, unescapePathValue(v))
                  }, f)
                }
                .filter(_._1.nonEmpty)
                .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
            val combos: Seq[Seq[(String, String)]] =
              filesByCombo.keys.toSeq.sortBy(_.map(_._2).mkString("/"))
            // TARGET_FILE_SIZE per combo: each promoted table's byte
            // share IS knowable from the file index (driver-side
            // FileStatus per part file, no scan) — unlike the earlier
            // caveat, which predated keeping the combo→files map.
            def comboParts(combo: Seq[(String, String)]): Int =
              targetFileBytes match {
                case Some(b) =>
                  val conf = spark.sparkContext.hadoopConfiguration
                  val sz = filesByCombo(combo).map { f =>
                    val p = new Path(f)
                    p.getFileSystem(conf).getFileStatus(p).getLen
                  }.sum
                  math.min(1L << 20, math.max(1L, (sz + b - 1) / b)).toInt
                case None => parallel
              }
            var rows = 0L; var bytes = 0L
            combos.foreach { combo =>
              // Select the combo by FILTERING on the partition columns:
              // Catalyst partition pruning reduces each job to exactly
              // that combo's directory, so the source is still read
              // exactly once in total — and no escaped-path juggling.
              val part0 = combo.foldLeft(df) { case (d, (k, v)) =>
                d.filter(
                  if (v == "__HIVE_DEFAULT_PARTITION__")
                    org.apache.spark.sql.functions.col(k).isNull
                  else org.apache.spark.sql.functions.col(k) === lit(v))
              }
              val part = part0.drop(pcols: _*)
              val suffix = combo.map { case (k, v) =>
                s"${k}_${sanitizeName(v)}" }.mkString("_")
              val obs = Observation()
              val comboOut = s"$storageTarget/$targetSchema/${targetTable}_$suffix"
              guardInPlaceWrite(comboOut, part.schema)
              val shape = layout(part, comboParts(combo))
              writeTable(shape(part.observe(obs, count(lit(1)).as("rows"))),
                comboOut, saveMode, writerOpts, writeFormat)
              rows += obs.get("rows").asInstanceOf[Long]
              bytes += pathBytes(spark, comboOut)
            }
            ObjectStatus(table, "COMPLETED", rows, bytes,
              secsSince(t0), None, srcSchema)
          } else if (saveMode == SaveMode.Ignore && exists(spark, outPath)) {
            ObjectStatus(table, "SKIPPED", 0, 0, secsSince(t0), None, srcSchema)
          } else {
            guardInPlaceWrite(outPath, df.schema)
            // Row count observed ON the write itself — a second full
            // scan of what was just written would double read I/O
            // (tens of redundant TB at the 100 TB design point).
            val obs = Observation()
            // File count: PARALLEL (%U dump-set layout) unless
            // TARGET_FILE_SIZE bounds it by measured source bytes —
            // driver-side FS metadata, no scan. (DEPARTITION combos
            // above size per promoted table from the combo's own file
            // index share.)
            val nParts = targetFileBytes match {
              case Some(b) =>
                val srcBytes = pathBytes(spark, srcPath)
                math.min(1L << 20, math.max(1L, (srcBytes + b - 1) / b)).toInt
              case None => parallel
            }
            val shape = layout(df, nParts)
            writeTable(shape(df.observe(obs, count(lit(1)).as("rows"))),
              outPath, saveMode, writerOpts, writeFormat)
            ObjectStatus(table, "COMPLETED",
              obs.get("rows").asInstanceOf[Long],
              pathBytes(spark, outPath), secsSince(t0), None, srcSchema)
          }
        }
      } catch {
        case NonFatal(e) =>
          ObjectStatus(table, "FAILED", 0, 0, secsSince(t0),
            Some(e.toString), srcSchema)
      }
    }

    // Live within-object progress: expected input volume is the sum of
    // the selected sources' on-disk bytes (driver-side FS metadata, no
    // scan); the listener accumulates task-level bytesRead for this
    // job group only.
    val expectedBytes =
      if (estimateOnly) 0L
      else selected.map { case (s, t) =>
        try pathBytes(spark, srcPathOf(s, t)) catch { case NonFatal(_) => 0L }
      }.sum
    val liveTier = new graft.status.LiveProgress(name, expectedBytes)
    spark.sparkContext.addSparkListener(liveTier)
    JobRegistry.attachLive(name, liveTier)
    try {
      // Tables move CONCURRENTLY on a bounded driver pool — the analog
      // of the reference's PARALLEL worker processes (directives.py:
      // 400-409): a schema export of many small tables must not
      // serialize one Spark write job per table. Spark schedules
      // concurrent actions from separate driver threads; parallelism
      // INSIDE each action is still the cluster scheduler's job.
      val workers = math.max(1, math.min(parallel, math.max(1, selected.size)))
      if (workers <= 1 || selected.size <= 1) {
        selected.zipWithIndex.foreach { case ((s, t), i) =>
          resultByIdx.put(i, moveOne(s, t)); publishProgress()
        }
      } else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(workers)
        try {
          val futures = selected.zipWithIndex.map { case ((s, t), i) =>
            pool.submit(new java.util.concurrent.Callable[Unit] {
              def call(): Unit = {
                resultByIdx.put(i, moveOne(s, t)); publishProgress()
              }
            })
          }
          futures.foreach(_.get()) // moveOne never throws; .get re-raises bugs
        } finally pool.shutdown()
      }
    } finally {
      JobRegistry.detachLive(name)
      spark.sparkContext.removeSparkListener(liveTier)
    }
    val results = orderedResults
    spark.sparkContext.clearJobGroup()

    // ---- metadata sidecar (commands.py:234-244) ----
    // Completion is tracked per (schema, table) pair — two schemas may
    // contain the same table name, and only the successful copy's target
    // path belongs in dumpFiles.
    val pairOutcomes: Seq[((String, String), ObjectStatus)] =
      selected.zip(results)
    val dumpFiles = pairOutcomes.collect {
      case ((s, t), r) if r.state == "COMPLETED" =>
        s"$storageTarget/${targetSchemaOf(s)}/${tableRemaps.getOrElse(t, t)}"
    }
    if (includeMetadata && !estimateOnly) {
      // Per-schema metadata entries — parity with the reference's
      // SchemaHandler assembly (job.py:142-158,235-250): each schema
      // lists its tables, its storage root (tablespace analog), and
      // the source's ledger version (migration-version analog,
      // job.py:246-250) so a dump consumer can tell which source
      // state it holds.
      val schemaMetas = selected.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (s, ps) =>
          SchemaMeta(s, ps.map(_._2), tablespace = storageTarget,
            version = sourceVersion) }
      val meta = JobMetaData(name, jobOwner, operation.name, mode.name,
        Util.formatJobDate(date), selected.map(_._2),
        directives.map(d => Map("name" -> d.name, "value" -> d.valueRepr)),
        dumpFiles, Some(asOf), tag, schemaMetas)
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

    // ---- POST-stage directives ----
    val ctx = JobContext(spark, name, importSource, storageTarget,
      sourceFiles = if (operation == Operation.Import)
        selected.map { case (s, t) => s"$importSource/$s/$t" } else Nil)
    effects.foreach {
      case Effect.PostAction(runPost) => runPost(ctx)
      case _ => ()
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
    if (includeMetadata && !estimateOnly) {
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
        fs.listStatus(schemaDir.getPath).filter(_.isDirectory).map { td =>
          schemaDir.getPath.getName -> td.getPath.getName
        }
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
