package graft

import graft.directives._
import graft.job.DataPumpJob
import graft.model.{JobMode, JobState, Operation}
import graft.status.{JobRegistry, LogParser}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class JobSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf

  private def tmp(p: String) = graft.TempDirs.create(p)

  /** Task metrics scoped to ONE job group: suites share the session
    * and run concurrently, so a global recordsRead counter picks up
    * other suites' tasks — the source of rare exact-count flakes.
    * Jobs under test run with an explicitJobName (= the group Spark
    * stamps on every job it submits) and only matching stages count.
    */
  private class GroupMetrics(group: String)
      extends org.apache.spark.scheduler.SparkListener {
    private val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    private val jobIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val recordsRead = new java.util.concurrent.atomic.AtomicLong()
    val scanTasks = new java.util.concurrent.atomic.AtomicInteger()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val jobsEnded = new java.util.concurrent.atomic.AtomicInteger()
    val shuffleWriteBytes = new java.util.concurrent.atomic.AtomicLong()
    override def onJobStart(
        js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      if (js.properties != null &&
          group == js.properties.getProperty("spark.jobGroup.id")) {
        js.stageIds.foreach(id => stages.add(id))
        jobIds.add(js.jobId)
        jobs.incrementAndGet()
      }
    override def onJobEnd(
        je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
      if (jobIds.contains(je.jobId)) jobsEnded.incrementAndGet()
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      if (stages.contains(te.stageId) && te.taskMetrics != null) {
        recordsRead.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
        if (te.taskMetrics.inputMetrics.recordsRead > 0)
          scanTasks.incrementAndGet()
        shuffleWriteBytes.addAndGet(
          te.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
    /** Block until the bus has delivered the end of every job the group
      * started (task ends precede their job's end on the bus). */
    def settle(): Unit = {
      val deadline = System.currentTimeMillis() + 10000
      while ((jobs.get() == 0 || jobsEnded.get() < jobs.get()) &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(50)
    }
  }

  /** Order-insensitive content digest: the sum of xxhash64 over all
    * columns of every row. */
  private def digest(path: String, opts: Map[String, String] = Map.empty): Long = {
    val df = spark.read.options(opts).parquet(path)
    df.select(org.apache.spark.sql.functions.xxhash64(
      df.columns.map(org.apache.spark.sql.functions.col): _*))
      .collect().map(_.getLong(0)).sum
  }

  private def partFiles(dir: String): Int =
    new java.io.File(dir).listFiles().count(_.getName.startsWith("part-"))

  /** Run a job under its own job group with a GroupMetrics attached. */
  private def metered(group: String)(job: Option[String] => DataPumpJob)
      : (graft.status.JobStatusInfo, GroupMetrics) = {
    val m = new GroupMetrics(group)
    spark.sparkContext.addSparkListener(m)
    try {
      val info = job(Some(group)).run(spark)
      m.settle()
      (info, m)
    } finally spark.sparkContext.removeSparkListener(m)
  }

  test("export writes a parallel dump set + metadata sidecar") {
    val out = tmp("jobspec-exp")
    val info = DataPumpJob(Operation.Export, JobMode.Table,
      sourceDir = sf, targetDir = out,
      directives = Seq(IncludeTable(Seq("nation", "region")), Parallel(3)))
      .run(spark)
    assert(info.state == JobState.Completed)
    assert(info.objects.map(_.objectName).toSet == Set("nation", "region"))
    assert(info.totalRows == 25 + 5)
    // %U layout: PARALLEL=3 ⇒ 3 part files per table
    val parts = new java.io.File(s"$out/main/nation").listFiles()
      .count(_.getName.startsWith("part-"))
    assert(parts == 3)
    assert(new java.io.File(s"$out/_metadata.json").exists())
    assert(info.jobName.startsWith("EXP-MAIN-"))
  }

  test("import applies REMAP_SCHEMA and DELETE_FILES post-action") {
    val dump = tmp("jobspec-dump"); val tgt = tmp("jobspec-tgt")
    DataPumpJob(Operation.Export, JobMode.Table, sf, dump,
      directives = Seq(IncludeTable(Seq("region")))).run(spark)
    val imp = DataPumpJob(Operation.Import, JobMode.Full, dump, tgt,
      directives = Seq(RemapSchema("main", "warehouse"), DeleteFiles()))
      .run(spark)
    assert(imp.state == JobState.Completed)
    assert(spark.read.parquet(s"$tgt/warehouse/region").count() == 5)
    // DELETE_FILES removed the consumed dump set
    assert(!new java.io.File(s"$dump/main/region").exists())
  }

  test("APPEND validates on-disk schema: a mismatched append fails per-object") {
    val dump1 = tmp("jobspec-app-r"); val dump2 = tmp("jobspec-app-n")
    val tgt = tmp("jobspec-app-tgt")
    DataPumpJob(Operation.Export, JobMode.Table, sf, dump1,
      directives = Seq(IncludeTable(Seq("region")))).run(spark)
    // nation remapped to the TABLE NAME region — same name, different
    // structure: the unchecked-append disaster shape (supplier rides
    // along cleanly so the job is PARTIAL — all-failed maps to
    // Stopped by the 12-state machine, which isn't what's under test)
    DataPumpJob(Operation.Export, JobMode.Table, sf, dump2,
      directives = Seq(IncludeTable(Seq("nation", "supplier")))).run(spark)
    DataPumpJob(Operation.Import, JobMode.Full, dump1, tgt).run(spark)
    assert(spark.read.parquet(s"$tgt/main/region").count() == 5)
    val bad = DataPumpJob(Operation.Import, JobMode.Full, dump2, tgt,
      directives = Seq(RemapTable("nation", "region"),
        TableExistsAction("APPEND"))).run(spark)
    assert(bad.state == JobState.CompletedWithErrors, bad.state)
    assert(bad.objects.exists(o => o.state == "FAILED" &&
      o.error.exists(_.contains("APPEND requires identical schema"))))
    // the target table is untouched — still 5 region rows, readable
    assert(spark.read.parquet(s"$tgt/main/region").count() == 5)
  }

  test("TARGET_FILE_SIZE sizes import part files from measured source bytes") {
    val dump = tmp("jobspec-tfs-dump")
    DataPumpJob(Operation.Export, JobMode.Table, sf, dump,
      directives = Seq(IncludeTable(Seq("orders")), Parallel(4))).run(spark)
    def partFiles(dir: String): Array[java.io.File] =
      new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
    val dumpBytes = partFiles(s"$dump/main/orders").map(_.length).sum
    assert(partFiles(s"$dump/main/orders").length == 4) // PARALLEL layout
    // huge target → ONE file, PARALLEL=4 notwithstanding
    val tgt1 = tmp("jobspec-tfs-one")
    val one = DataPumpJob(Operation.Import, JobMode.Full, dump, tgt1,
      directives = Seq(Parallel(4), TargetFileSize.parse("1GB"))).run(spark)
    assert(one.state == JobState.Completed)
    assert(partFiles(s"$tgt1/main/orders").length == 1)
    assert(spark.read.parquet(s"$tgt1/main/orders").count() ==
      spark.read.parquet(graft.Tables.path(sf, "orders")).count())
    // target = ceil(dumpBytes/3) → exactly 3 files
    val tgt3 = tmp("jobspec-tfs-three")
    DataPumpJob(Operation.Import, JobMode.Full, dump, tgt3,
      directives = Seq(TargetFileSize((dumpBytes + 2) / 3))).run(spark)
    assert(partFiles(s"$tgt3/main/orders").length == 3)
  }

  test("TARGET_FILE_SIZE sizes each DEPARTITION table from its combo's file share") {
    // a partitioned dump: the import promotes each event_type to its
    // own table, and the byte bound must apply per PROMOTED table
    // (sized from that combo's files), not per source table
    val dump = tmp("jobspec-tfs-dp")
    graft.operators.Events.load(spark, sf)
      .write.partitionBy("event_type").parquet(s"$dump/main/events")
    val tgt = tmp("jobspec-tfs-dp-tgt")
    val info = DataPumpJob(Operation.Import, JobMode.Full, dump, tgt,
      directives = Seq(PartitionOptions("DEPARTITION"), Parallel(3),
        TargetFileSize.parse("1GB"))).run(spark)
    assert(info.state == JobState.Completed, info.errors)
    val tables = new java.io.File(s"$tgt/main").listFiles()
      .filter(_.isDirectory)
    assert(tables.length == 5, tables.map(_.getName).toSeq)
    tables.foreach { d =>
      val parts = d.listFiles().count(_.getName.startsWith("part-"))
      assert(parts == 1, s"${d.getName}: $parts files under a 1GB target")
    }
    assert(info.totalRows == 1000)
  }

  test("TRUNCATE validates schema equality before overwrite") {
    val out = tmp("jobspec-trunc")
    val j1 = DataPumpJob(Operation.Export, JobMode.Table, sf, out,
      directives = Seq(IncludeTable(Seq("region")), TableExistsAction("TRUNCATE")))
    assert(j1.run(spark).state == JobState.Completed)
    // same schema: truncate-overwrite succeeds
    assert(j1.run(spark).state == JobState.Completed)
    assert(spark.read.parquet(s"$out/main/region").count() == 5)
  }

  test("failed object yields COMPLETED_WITH_ERRORS, not total failure") {
    val out = tmp("jobspec-err")
    val info = DataPumpJob(Operation.Export, JobMode.Table, sf, out,
      directives = Seq(IncludeTable(Seq("region", "nation")),
        TableExistsAction("TRUNCATE"))).run(spark)
    assert(info.state == JobState.Completed)
    // poison the nation target with a different schema, then re-run:
    spark.read.parquet(s"$out/main/region")
      .write.mode("overwrite").parquet(s"$out/main/nation")
    val second = DataPumpJob(Operation.Export, JobMode.Table, sf, out,
      directives = Seq(IncludeTable(Seq("region", "nation")),
        TableExistsAction("TRUNCATE"))).run(spark)
    assert(second.state == JobState.CompletedWithErrors)
    assert(second.objects.count(_.state == "FAILED") == 1)
    assert(second.errors.head.contains("TRUNCATE"))
  }

  test("resume semantics: SKIP re-run completes only the missing objects") {
    // the reference's restart story (ATTACH + START_JOB after a failure)
    // maps to re-submitting with TABLE_EXISTS_ACTION=SKIP: finished
    // objects are skipped, missing ones move — an idempotent resume.
    val dump = tmp("jobspec-resume-dump")
    val out = tmp("jobspec-resume-out")
    assert(DataPumpJob(Operation.Export, JobMode.Table, sf, dump,
      directives = Seq(IncludeTable(Seq("region", "nation", "supplier"))))
      .run(spark).state == JobState.Completed)
    // simulate a partial first import: two tables landed, one didn't
    assert(DataPumpJob(Operation.Import, JobMode.Table, dump, out,
      directives = Seq(IncludeTable(Seq("region", "nation"))))
      .run(spark).state == JobState.Completed)
    val resume = DataPumpJob(Operation.Import, JobMode.Full, dump, out,
      directives = Seq(TableExistsAction("SKIP"))).run(spark)
    assert(resume.state == JobState.Completed)
    val byName = resume.objects.map(o => o.objectName -> o.state).toMap
    assert(byName("region") == "SKIPPED" && byName("nation") == "SKIPPED")
    assert(byName("supplier") == "COMPLETED")
    assert(spark.read.parquet(s"$out/main/supplier").count() ==
      spark.read.parquet(graft.Tables.path(sf, "supplier")).count())
    // a second resume is a no-op: everything skips
    val again = DataPumpJob(Operation.Import, JobMode.Full, dump, out,
      directives = Seq(TableExistsAction("SKIP"))).run(spark)
    assert(again.objects.forall(_.state == "SKIPPED"))
  }

  test("directive interactions: parallel+compressed export, remapped+filtered double-append import") {
    import org.apache.spark.sql.functions.col
    val dump = tmp("jobspec-interact-dump")
    val out = tmp("jobspec-interact-out")
    // export: 2 tables, PARALLEL=2, zstd compression
    val exp = DataPumpJob(Operation.Export, JobMode.Table, sf, dump,
      directives = Seq(IncludeTable(Seq("region", "nation")),
        Parallel(2), Compression("ALL"), CompressionAlgorithm("HIGH")))
      .run(spark)
    assert(exp.state == JobState.Completed)
    // %U coupling: 2 part files per table; codec actually applied
    val parts = new java.io.File(s"$dump/main/nation").listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(parts.length == 2, parts.mkString(","))
    assert(parts.forall(_.getName.contains(".zstd")), parts.mkString(","))
    // import: REMAP_SCHEMA + REMAP_TABLE + row-level QUERY, run TWICE
    // with APPEND — remaps and filter compose and appends stack on
    // nation; region (no n_regionkey column) FAILS per-object, exactly
    // Oracle's ORA-00904 behavior for an unscoped QUERY — the job
    // continues and reports COMPLETED_WITH_ERRORS
    val dirs = Seq(RemapSchema("main", "warehouse"),
      RemapTable("nation", "nations"),
      Query("n_regionkey < 2"),
      TableExistsAction("APPEND"))
    (1 to 2).foreach { _ =>
      val imp = DataPumpJob(Operation.Import, JobMode.Full, dump, out,
        directives = dirs).run(spark)
      assert(imp.state == JobState.CompletedWithErrors)
      val byName = imp.objects.map(o => o.objectName -> o.state).toMap
      assert(byName("nation") == "COMPLETED" && byName("region") == "FAILED")
    }
    val nations = spark.read.parquet(s"$out/warehouse/nations")
    val srcMatching = spark.read.parquet(graft.Tables.path(sf, "nation"))
      .filter(col("n_regionkey") < 2).count()
    assert(srcMatching > 0 && nations.count() == 2 * srcMatching)
    assert(nations.select("n_regionkey").distinct().collect()
      .forall(_.getAs[Number](0).longValue < 2))
    assert(!new java.io.File(s"$out/warehouse/region").exists())
    assert(!new java.io.File(s"$out/main").exists())
  }

  test("SAMPLE exports a deterministic content-hash subset") {
    val out1 = tmp("jobspec-sample1"); val out2 = tmp("jobspec-sample2")
    def run(out: String) = DataPumpJob(Operation.Export, JobMode.Table, sf, out,
      directives = Seq(IncludeTable(Seq("orders")), Sample(25.0))).run(spark)
    assert(run(out1).state == JobState.Completed)
    assert(run(out2).state == JobState.Completed)
    val a = spark.read.parquet(s"$out1/main/orders")
    val b = spark.read.parquet(s"$out2/main/orders")
    val total = spark.read.parquet(graft.Tables.path(sf, "orders")).count()
    val n = a.count()
    // roughly a quarter (binomial bounds, wide), exactly reproducible
    assert(n > total / 5 && n < total / 3, s"$n of $total")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("ESTIMATE_ONLY moves nothing but reports stats") {
    val out = tmp("jobspec-est")
    val info = DataPumpJob(Operation.Export, JobMode.Table, sf, out,
      directives = Seq(IncludeTable(Seq("lineitem")), EstimateOnly(true)))
      .run(spark)
    assert(info.state == JobState.Completed)
    assert(info.objects.head.state == "ESTIMATED")
    assert(info.objects.head.bytes > 0)
    assert(!new java.io.File(s"$out/main/lineitem").exists())
  }

  test("SQL_FILE emits CREATE TABLE DDL instead of data") {
    val out = tmp("jobspec-sql")
    val info = DataPumpJob(Operation.SqlFile, JobMode.Table, sf, out,
      directives = Seq(IncludeTable(Seq("nation")))).run(spark)
    assert(info.state == JobState.Completed)
    val ddl = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/main/nation.sql")), "UTF-8")
    assert(ddl.startsWith("CREATE TABLE main.nation"))
    assert(ddl.contains("n_nationkey"))
  }

  test("attach recovers a finished job from registry and sidecar") {
    val out = tmp("jobspec-attach")
    val info = DataPumpJob(Operation.Export, JobMode.Table, sf, out,
      directives = Seq(IncludeTable(Seq("region")))).run(spark)
    assert(DataPumpJob.attach(spark, info.jobName).exists(
      _.state == JobState.Completed))
    // simulate a fresh process: registry cleared, sidecar survives
    JobRegistry.clear()
    assert(DataPumpJob.attach(spark, info.jobName, Some(out)).exists(
      _.state == JobState.Completed))
    assert(DataPumpJob.attach(spark, "NO-SUCH-JOB", Some(out)).isEmpty)
  }

  test("async run + pollForCompletion reaches a terminal state") {
    val out = tmp("jobspec-async")
    val pending = DataPumpJob(Operation.Export, JobMode.Table, sf, out,
      directives = Seq(IncludeTable(Seq("region")))).run(spark, wait = false)
    val state = DataPumpJob.pollForCompletion(pending.jobName,
      pollIntervalMs = 100, timeoutMs = 60000)
    assert(state == JobState.Completed)
  }

  test("STOP_JOB cancels a running job: STOP_PENDING then STOPPED") {
    spark.udf.register("graft_sleep",
      (ms: Int) => { Thread.sleep(ms.toLong); ms })
    val out = tmp("jobspec-stop")
    val pending = DataPumpJob(Operation.Export, JobMode.Table, sf, out,
      directives = Seq(IncludeTable(Seq("lineitem")),
        Query("graft_sleep(5) >= 0"))) // ~6k rows ⇒ ~30s unstopped
      .run(spark, wait = false)
    // wait until it is visibly executing, then stop it
    Thread.sleep(300)
    assert(DataPumpJob.stop(spark, pending.jobName))
    val seen = graft.status.JobRegistry.get(pending.jobName).get.state
    assert(seen == JobState.StopPending || seen == JobState.Stopped, seen)
    val fin = DataPumpJob.pollForCompletion(pending.jobName,
      pollIntervalMs = 100, timeoutMs = 60000)
    assert(fin == JobState.Stopped)
    // stopping a terminal job is a no-op returning false
    assert(!DataPumpJob.stop(spark, pending.jobName))
    // and the protocol exposes it
    val resp = graft.request.Protocol.handle(spark,
      s"""{"connection": {"source_dir": "$sf"}, "request": "STOP",
           "payload": {"job_name": "${pending.jobName}"}}""")
    assert(resp.state == "STOPPED")
  }

  test("job logfile round-trips through the engine's own log parser") {
    // clean job → "successfully completed"
    val out = tmp("jobspec-log")
    val info = DataPumpJob(Operation.Export, JobMode.Table, sf, out,
      directives = Seq(IncludeTable(Seq("region", "nation")))).run(spark)
    assert(info.state == JobState.Completed)
    val log = DataPumpJob.getLogfile(spark, out).get
    val lines = log.linesIterator.toSeq
    assert(LogParser.finalState(lines) == JobState.Completed)
    assert(lines.exists(_.contains("\"main\".\"region\" 5 rows")))
    assert(LogParser.errorCodes(lines).isEmpty)
    // failing object → ORA code + "completed with N error(s)"
    spark.read.parquet(s"$out/main/region")
      .write.mode("overwrite").parquet(s"$out/main/nation")
    val out2 = tmp("jobspec-log2")
    DataPumpJob(Operation.Export, JobMode.Table, out, out2,
      directives = Seq(IncludeTable(Seq("nation")))).run(spark) // seed target
    val second = DataPumpJob(Operation.Export, JobMode.Table, sf, out,
      directives = Seq(IncludeTable(Seq("region", "nation")),
        TableExistsAction("TRUNCATE"))).run(spark)
    assert(second.state == JobState.CompletedWithErrors)
    val log2 = DataPumpJob.getLogfile(spark, out).get.linesIterator.toSeq
    assert(LogParser.finalState(log2) == JobState.CompletedWithErrors)
    assert(LogParser.errorCodes(log2) == Seq("ORA-31693"))
    // no log for a dir that never ran a job
    assert(DataPumpJob.getLogfile(spark, tmp("jobspec-log-none")).isEmpty)
    // cross-process attach recovers the errored state from the logfile
    JobRegistry.clear()
    assert(DataPumpJob.attach(spark, second.jobName, Some(out)).exists(
      _.state == JobState.CompletedWithErrors))
  }

  test("log parser extracts ORA codes and final state (status.py:458-521)") {
    val lines = Seq(
      "Processing object type TABLE_DATA",
      "ORA-31693: Table data object failed to load",
      "ORA-00001: unique constraint violated",
      """Job "HR"."EXP-1" successfully completed at 10:00""")
    assert(LogParser.errorCodes(lines) == Seq("ORA-31693", "ORA-00001"))
    assert(LogParser.finalState(lines) == JobState.Completed)
    assert(LogParser.finalState(Seq(
      """Job "HR"."IMP-1" completed with 2 error(s) at 11:00""")) ==
      JobState.CompletedWithErrors)
  }

  test("versioned exports build a ledger; FLASHBACK pins time-travel imports") {
    val store = tmp("jobspec-ver"); val tgt = tmp("jobspec-ver-tgt")
    // v1: region only
    val j1 = DataPumpJob(Operation.Export, JobMode.Table, sf, store,
      directives = Seq(IncludeTable(Seq("region"))), versioned = true)
    assert(j1.run(spark).state == JobState.Completed)
    val ledger1 = graft.sources.SnapshotStore.readLedger(spark, store)
    assert(ledger1.map(_.version) == Seq(1L))
    Thread.sleep(5)
    val betweenVersions = java.time.Instant.now()
    Thread.sleep(5)
    // v2: region AND nation
    val j2 = DataPumpJob(Operation.Export, JobMode.Table, sf, store,
      directives = Seq(IncludeTable(Seq("region", "nation"))), versioned = true)
    assert(j2.run(spark).state == JobState.Completed)
    assert(graft.sources.SnapshotStore.readLedger(spark, store)
      .map(_.version) == Seq(1L, 2L))

    // FLASHBACK_SCN=1 sees only v1's object set
    val imp1 = DataPumpJob(Operation.Import, JobMode.Full, store, s"$tgt/a",
      directives = Seq(FlashbackScn(1))).run(spark)
    assert(imp1.state == JobState.Completed)
    assert(imp1.objects.map(_.objectName) == Seq("region"))

    // FLASHBACK_TIME between v1 and v2 resolves to v1 (dt_to_scn analog)
    val isoBetween = betweenVersions.toString
    val imp2 = DataPumpJob(Operation.Import, JobMode.Full, store, s"$tgt/b",
      directives = Seq(FlashbackTime(isoBetween))).run(spark)
    assert(imp2.objects.map(_.objectName) == Seq("region"), imp2.objects)

    // no pin: latest version (both tables)
    val imp3 = DataPumpJob(Operation.Import, JobMode.Full, store, s"$tgt/c")
      .run(spark)
    assert(imp3.objects.map(_.objectName).toSet == Set("region", "nation"))

    // pinning a nonexistent version fails loudly
    val imp4 = DataPumpJob(Operation.Import, JobMode.Full, store, s"$tgt/d",
      directives = Seq(FlashbackScn(9))).run(spark)
    assert(imp4.state == JobState.Stopped)
  }

  test("concurrent ledger appends serialize: every version unique and dense") {
    // the appendVersion contract: read-modify-write is serialized on
    // the store's monitor, so N racing writers must produce versions
    // 1..N with no duplicates and no gaps — the claim a concurrent
    // export scheduler relies on
    val store = tmp("jobspec-ledger-race")
    val n = 16
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val got = Await.result(
      Future.sequence((1 to n).map(i => Future {
        graft.sources.SnapshotStore.appendVersion(
          spark, store, s"JOB-$i", java.time.Instant.now())
      })), 60.seconds)
    assert(got.sorted == (1L to n.toLong))
    assert(graft.sources.SnapshotStore.readLedger(spark, store)
      .map(_.version).sorted == (1L to n.toLong))
  }

  test("vacuum retires old versions: pins fail loudly, latest survives, numbering stays monotone") {
    val store = tmp("jobspec-vacuum"); val tgt = tmp("jobspec-vacuum-tgt")
    // three versioned exports: v1 region, v2 region+nation, v3 region
    for (tabs <- Seq(Seq("region"), Seq("region", "nation"), Seq("region")))
      assert(DataPumpJob(Operation.Export, JobMode.Table, sf, store,
        directives = Seq(IncludeTable(tabs)), versioned = true)
        .run(spark).state == JobState.Completed)
    // keep the newest 2 → v1 retires; its dir is physically gone
    val dropped = graft.sources.SnapshotStore.vacuum(spark, store, keepLast = 2)
    assert(dropped == Seq(1L))
    assert(graft.sources.SnapshotStore.readLedger(spark, store)
      .map(_.version) == Seq(2L, 3L))
    val v1dir = new org.apache.hadoop.fs.Path(
      graft.sources.SnapshotStore.versionDir(store, 1L))
    assert(!v1dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(v1dir))
    // a FLASHBACK pin to the vacuumed version fails loudly, not silently
    assert(DataPumpJob(Operation.Import, JobMode.Full, store, s"$tgt/a",
      directives = Seq(FlashbackScn(1))).run(spark).state == JobState.Stopped)
    // retained versions still import: v2 carries both tables
    val imp2 = DataPumpJob(Operation.Import, JobMode.Full, store, s"$tgt/b",
      directives = Seq(FlashbackScn(2))).run(spark)
    assert(imp2.state == JobState.Completed)
    assert(imp2.objects.map(_.objectName).toSet == Set("region", "nation"))
    // numbering continues past the vacuumed range — never reused
    assert(graft.sources.SnapshotStore.appendVersion(
      spark, store, "JOB-NEXT", java.time.Instant.now()) == 4L)
    // vacuum with nothing to drop is a no-op
    assert(graft.sources.SnapshotStore.vacuum(spark, store, 10).isEmpty)
  }

  test("dump audit: intact export passes, a truncated data file is flagged, a deleted table dir reads missing") {
    val store = tmp("jobspec-audit")
    assert(DataPumpJob(Operation.Export, JobMode.Table, sf, store,
      directives = Seq(IncludeTable(Seq("region", "nation"))))
      .run(spark).state == JobState.Completed)
    val clean = graft.sources.DumpAudit.verify(spark, store).collect()
    assert(clean.length == 2 && clean.forall(_.getBoolean(5)), clean.toSeq)
    assert(clean.forall(r => r.getLong(1) > 0 && r.getLong(2) > 0))
    // corrupt: truncate one data file mid-body (simulated partial
    // upload) — the tail magic is gone, the audit must flag it
    val fs = new org.apache.hadoop.fs.Path(store)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val regionDir = clean.map(_.getString(0)).find(_.endsWith("/region")).get
    val victim = fs.listStatus(new org.apache.hadoop.fs.Path(regionDir))
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    val bytes = {
      val in = fs.open(victim)
      try { val b = new Array[Byte](fs.getFileStatus(victim).getLen.toInt / 2)
        in.readFully(0L, b); b } finally in.close()
    }
    val out = fs.create(victim, true)
    try out.write(bytes) finally out.close()
    val after = graft.sources.DumpAudit.verify(spark, store).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(!after(regionDir).getBoolean(5) &&
      after(regionDir).getLong(3) >= 1L, after(regionDir))
    // the untouched table still audits clean
    assert(after.filterKeys(_ != regionDir).values.forall(_.getBoolean(5)))
    // a RELOCATED dump audits at its new home, not against the
    // (intact) originals the sidecar still names: copy the corrupted
    // store elsewhere and audit the copy — the flag must follow
    // a fresh non-existent target: FileUtil.copy would nest the
    // source INSIDE an existing directory
    val moved = s"${tmp("jobspec-audit-moved")}/store"
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(store), fs,
      new org.apache.hadoop.fs.Path(moved), false, true,
      spark.sparkContext.hadoopConfiguration)
    val movedRows = graft.sources.DumpAudit.verify(spark, moved).collect()
    assert(movedRows.forall(_.getString(0).startsWith(moved)), movedRows.toSeq)
    assert(movedRows.exists(r => r.getString(0).endsWith("/region")
      && !r.getBoolean(5) && r.getLong(3) >= 1L), movedRows.toSeq)
    // deleted table dir → missing, not ok
    fs.delete(new org.apache.hadoop.fs.Path(regionDir), true)
    val gone = graft.sources.DumpAudit.verify(spark, store).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(gone(regionDir).getBoolean(4) && !gone(regionDir).getBoolean(5))
  }

  test("sidecar schema entries carry the source version through attach") {
    // reference parity: SchemaHandler.get_version surfaces each
    // schema's migration version into job metadata (database.py:128-
    // 138, job.py:246-250); here the SnapshotStore ledger version is
    // the schema-state stamp.
    val store = tmp("jobspec-sv"); val tgt = tmp("jobspec-sv-tgt")
    // unversioned source → version 0
    val plain = DataPumpJob(Operation.Export, JobMode.Table, sf,
      s"$tgt/plain", directives = Seq(IncludeTable(Seq("region")))).run(spark)
    assert(plain.state == JobState.Completed)
    val m0 = DataPumpJob.readSidecar(spark, s"$tgt/plain").get
    assert(m0.schemas.nonEmpty && m0.schemas.forall(_.version == 0L))

    // build a two-version store, then import from it: the import's
    // sidecar must stamp the RESOLVED source version
    (1 to 2).foreach { _ =>
      assert(DataPumpJob(Operation.Export, JobMode.Table, sf, store,
        directives = Seq(IncludeTable(Seq("region"))),
        versioned = true).run(spark).state == JobState.Completed)
    }
    val latest = DataPumpJob(Operation.Import, JobMode.Full, store,
      s"$tgt/latest").run(spark)
    assert(latest.state == JobState.Completed)
    assert(DataPumpJob.readSidecar(spark, s"$tgt/latest").get
      .schemas.forall(_.version == 2L))
    val pinned = DataPumpJob(Operation.Import, JobMode.Full, store,
      s"$tgt/pinned", directives = Seq(FlashbackScn(1))).run(spark)
    assert(pinned.state == JobState.Completed)
    assert(DataPumpJob.readSidecar(spark, s"$tgt/pinned").get
      .schemas.forall(_.version == 1L))

    // the version survives the attach path's sidecar read (fresh
    // process: registry cleared, sidecar is the only source)
    JobRegistry.clear()
    assert(DataPumpJob.attach(spark, latest.jobName, Some(s"$tgt/latest"))
      .exists(_.state == JobState.Completed))
    assert(DataPumpJob.readSidecar(spark, s"$tgt/latest").get
      .schemas.map(_.version).distinct == Seq(2L))
  }

  test("FULL export/import round-trips every table incl. arrays and ns timestamps") {
    val dump = tmp("jobspec-full"); val tgt = tmp("jobspec-full-tgt")
    val exp = DataPumpJob(Operation.Export, JobMode.Full, sf, dump,
      directives = Seq(Parallel(2))).run(spark)
    assert(exp.state == JobState.Completed, exp.errors)
    assert(exp.objects.size == 10)
    val imp = DataPumpJob(Operation.Import, JobMode.Full, dump, tgt)
      .run(spark)
    assert(imp.state == JobState.Completed, imp.errors)
    // data-level assertion the reference lacks: counts and a content
    // probe per table
    graft.Tables.all.foreach { t =>
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val orig = spark.read.parquet(graft.Tables.path(sf, t)).count()
      val back = spark.read.parquet(s"$tgt/main/$t").count()
      assert(orig == back, s"$t: $orig != $back")
    }
    // arrays survive the trip
    val emb = spark.read.parquet(s"$tgt/main/embeddings")
    assert(emb.selectExpr("size(embedding)").distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(64))
  }

  test("SCHEMA mode + INCLUDE_SCHEMA scope a multi-schema source") {
    val srcRoot = tmp("jobspec-ms")
    // nested multi-schema layout: <schema>/<table>.parquet
    spark.read.parquet(graft.Tables.path(sf, "region"))
      .write.parquet(s"$srcRoot/hr/staff.parquet")
    spark.read.parquet(graft.Tables.path(sf, "nation"))
      .write.parquet(s"$srcRoot/fin/accounts.parquet")

    // INCLUDE_SCHEMA restricts the job to the named schema
    val out = tmp("jobspec-ms-out")
    val info = DataPumpJob(Operation.Export, JobMode.Schema, srcRoot, out,
      directives = Seq(IncludeSchema("hr"))).run(spark)
    assert(info.state == JobState.Completed, info.errors)
    assert(info.objects.map(_.objectName) == Seq("staff"))
    assert(new java.io.File(s"$out/hr/staff").exists())
    assert(!new java.io.File(s"$out/fin").exists())
    // sidecar carries per-schema entries (job.py:235-250 parity)
    val metaJson = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/_metadata.json")), "UTF-8")
    assert(metaJson.contains("\"schemas\""))
    assert(metaJson.contains("\"hr\""))

    // bare SCHEMA mode scopes to the job's own schema field
    val out2 = tmp("jobspec-ms-out2")
    val info2 = DataPumpJob(Operation.Export, JobMode.Schema, srcRoot, out2,
      schema = "fin").run(spark)
    assert(info2.objects.map(_.objectName) == Seq("accounts"))

    // FULL mode moves both schemas
    val out3 = tmp("jobspec-ms-out3")
    val info3 = DataPumpJob(Operation.Export, JobMode.Full, srcRoot, out3)
      .run(spark)
    assert(info3.objects.map(_.objectName).toSet == Set("accounts", "staff"))

    // multi-schema import: REMAP_SCHEMA remaps only its exact schema
    val tgt = tmp("jobspec-ms-tgt")
    val imp = DataPumpJob(Operation.Import, JobMode.Full, out3, tgt,
      directives = Seq(RemapSchema("hr", "people"))).run(spark)
    assert(imp.state == JobState.Completed, imp.errors)
    assert(new java.io.File(s"$tgt/people/staff").exists())
    assert(new java.io.File(s"$tgt/fin/accounts").exists())
    assert(!new java.io.File(s"$tgt/hr").exists())
    assert(spark.read.parquet(s"$tgt/people/staff").count() == 5)
  }

  test("REMAP_TABLESPACE rewrites the storage-root segment; REMAP_DATAFILE the path prefix") {
    val dump = tmp("jobspec-ts-dump")
    DataPumpJob(Operation.Export, JobMode.Table, sf, dump,
      directives = Seq(IncludeTable(Seq("region")))).run(spark)
    // tablespace = path segment of the storage root (users -> users2),
    // reference semantics tests/test_import.py:48-51
    val root = tmp("jobspec-ts-root")
    val imp = DataPumpJob(Operation.Import, JobMode.Full, dump, s"$root/users",
      directives = Seq(RemapTablespace("users", "users2"))).run(spark)
    assert(imp.state == JobState.Completed, imp.errors)
    assert(new java.io.File(s"$root/users2/main/region").exists())
    assert(!new java.io.File(s"$root/users/main/region").exists())
    // datafile = concrete path: full-prefix rewrite
    val dfA = tmp("jobspec-df-a"); val dfB = tmp("jobspec-df-b")
    val imp2 = DataPumpJob(Operation.Import, JobMode.Full, dump, dfA,
      directives = Seq(RemapDatafile(dfA, dfB))).run(spark)
    assert(imp2.state == JobState.Completed, imp2.errors)
    assert(new java.io.File(s"$dfB/main/region").exists())
    assert(!new java.io.File(s"$dfA/main/region").exists())
  }

  test("row counts ride the write: export reads each source row exactly once") {
    val out = tmp("jobspec-once")
    val listener = new GroupMetrics("JOBSPEC-ONCE")
    spark.sparkContext.addSparkListener(listener)
    try {
      val info = DataPumpJob(Operation.Export, JobMode.Table, sf, out,
        directives = Seq(IncludeTable(Seq("nation", "region"))),
        explicitJobName = Some("JOBSPEC-ONCE")).run(spark)
      assert(info.state == JobState.Completed)
      assert(info.totalRows == 30) // counts observed on the write itself
      // listener events drain asynchronously; poll until stable
      val deadline = System.currentTimeMillis() + 10000
      while (listener.recordsRead.get() < 30 &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      Thread.sleep(300)
      // a post-write verification re-read would double this to 60
      assert(listener.recordsRead.get() == 30,
        s"expected exactly 30 source rows read, saw ${listener.recordsRead.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("PARALLEL n: n part files, one Spark job and no shuffle where the scan has the layout") {
    // n ≥ defaultParallelism, so a scan of k > n partitions coalesces
    val n = spark.sparkContext.defaultParallelism
    val src = tmp("jobspec-layout-src")
    val orders = Tables.load(spark, sf, "orders")
    orders.coalesce(1).write.parquet(s"$src/fewer.parquet")
    orders.repartition(n).write.parquet(s"$src/equal.parquet")
    // incompressible text, `files` files of `rows` rows (one row group each)
    def hashes(t: String, files: Int, rows: Long): Unit =
      spark.range(0, rows * files, 1, files)
        .selectExpr("id", "sha2(cast(id as string), 256) as h")
        .write.parquet(s"$src/$t.parquet")
    // n + 1 files of ~3 MB: too big to share a scan partition, too
    // small to be split
    hashes("more", n + 1, 40000L)
    // 2 files of ~8 MB, each split in two: n partitions, half of them
    // a tail split holding no row group, which reads no rows
    hashes("split", 2, 110000L)
    def scanK(t: String) =
      spark.read.parquet(s"$src/$t.parquet").rdd.getNumPartitions
    val tables = Seq("fewer", "equal", "more", "split")
    assert(scanK("fewer") < n && scanK("equal") == n && scanK("more") > n &&
      scanK("split") == n, tables.map(scanK))

    val dump = tmp("jobspec-layout-dump")
    Seq("fewer" -> true, "equal" -> false, "more" -> false,
        "split" -> true).foreach {
      case (t, shuffles) =>
        val (info, m) = metered(s"JOBSPEC-LAYOUT-$t") { group =>
          DataPumpJob(Operation.Export, JobMode.Table, src, dump,
            directives = Seq(IncludeTable(Seq(t)), Parallel(n)),
            explicitJobName = group)
        }
        assert(info.state == JobState.Completed, info.errors)
        assert(partFiles(s"$dump/main/$t") == n, t)
        assert(digest(s"$dump/main/$t") == digest(s"$src/$t.parquet"), t)
        assert((m.shuffleWriteBytes.get() > 0) == shuffles,
          s"$t: ${m.shuffleWriteBytes.get()} shuffle bytes")
        if (!shuffles) assert(m.jobs.get() == 1, s"$t: ${m.jobs.get()} jobs")
    }
    // a filter can empty scan partitions (here every kept row sits in
    // the first file), so a filtered export still repartitions
    val filtered = tmp("jobspec-layout-query")
    val q = DataPumpJob(Operation.Export, JobMode.Table, src, filtered,
      directives = Seq(IncludeTable(Seq("more")), Parallel(n),
        Query("id < 40000"))).run(spark)
    assert(q.state == JobState.Completed, q.errors)
    assert(q.totalRows == 40000)
    assert(partFiles(s"$filtered/main/more") == n)

    // the n-file dump imports with PARALLEL n: one job per table, no
    // shuffle, and still n files
    val tgt = tmp("jobspec-layout-tgt")
    val (imp, m) = metered("JOBSPEC-LAYOUT-IMP") { group =>
      DataPumpJob(Operation.Import, JobMode.Full, dump, tgt,
        directives = Seq(Parallel(n)), explicitJobName = group)
    }
    assert(imp.state == JobState.Completed, imp.errors)
    assert(m.jobs.get() == tables.size,
      s"${m.jobs.get()} Spark jobs for ${tables.size} tables")
    assert(m.shuffleWriteBytes.get() == 0)
    tables.foreach { t =>
      assert(partFiles(s"$tgt/main/$t") == n, t)
      assert(digest(s"$tgt/main/$t") == digest(s"$src/$t.parquet"), t)
    }
  }

  test("driver-side parquet schema equals Spark's inferred schema") {
    import graft.sources.{ParquetCrypto, ParquetSchema}
    assert(spark.conf.get(Sessions.NanosAsLongKey) == "true")
    def same(path: String, opts: Map[String, String] = Map.empty,
        partitioned: Boolean = false): Unit = {
      val inferred = spark.read.options(opts).parquet(path).schema
      val driver = ParquetSchema.of(spark, path, opts)
      assert(driver.nonEmpty, path)
      // StructField equality covers nullability and field metadata
      if (!partitioned) assert(driver.get == inferred, path)
      assert(spark.read.options(opts).schema(driver.get).parquet(path)
        .schema == inferred, path)
    }
    // every sf0.01 fixture table, events' ns timestamps as long
    val sf01 = new java.io.File(sf).toPath.resolveSibling("sf0.01").toString
    Tables.all.foreach(t => same(Tables.path(sf01, t)))
    // a Spark-written dump (row-metadata key, _SUCCESS marker)
    val dump = tmp("jobspec-schema-dump")
    DataPumpJob(Operation.Export, JobMode.Table, sf, dump,
      directives = Seq(IncludeTable(Seq("events")), Parallel(2))).run(spark)
    same(s"$dump/main/events")
    // an ENCRYPTION=ALL dump, read with its keys
    val enc = tmp("jobspec-schema-enc")
    val exp = DataPumpJob(Operation.Export, JobMode.Table, sf, enc,
      directives = Seq(IncludeTable(Seq("nation")), Encryption("ALL"),
        EncryptionPassword("s3cret-pw"))).run(spark)
    assert(exp.state == JobState.Completed, exp.errors)
    same(s"$enc/main/nation", Map(
      ParquetCrypto.FactoryClassKey -> ParquetCrypto.FactoryClass,
      ParquetCrypto.KmsClassKey -> classOf[graft.sources.GraftKms].getName,
      ParquetCrypto.PasswordConf -> "s3cret-pw"))
    // a k=v partitioned source, as MERGE and DEPARTITION read it
    val parted = tmp("jobspec-schema-kv")
    graft.operators.Events.load(spark, sf)
      .write.partitionBy("event_type").parquet(s"$parted/events")
    same(s"$parted/events", partitioned = true)
    // a missing path and schema merging are left to Spark
    assert(ParquetSchema.of(spark, s"$parted/absent").isEmpty)
    assert(ParquetSchema.of(spark, s"$parted/events",
      Map("mergeSchema" -> "true")).isEmpty)
  }

  test("flat FULL export enumerates the directory, not a static table list") {
    // A flat source with a table name the engine has never heard of:
    // enumeration must come from the filesystem (the reference's
    // dictionary views, database.py:93-115), or the table is silently
    // lost — the worst failure mode for a backup tool.
    val src = tmp("jobspec-flatfull-src")
    spark.read.parquet(graft.Tables.path(sf, "region"))
      .write.parquet(s"$src/region.parquet")
    spark.read.parquet(graft.Tables.path(sf, "nation"))
      .write.parquet(s"$src/mystery_ledger.parquet")
    val out = tmp("jobspec-flatfull-out")
    val info = DataPumpJob(Operation.Export, JobMode.Full, src, out).run(spark)
    assert(info.state == JobState.Completed, info.errors)
    assert(info.objects.map(_.objectName).toSet ==
      Set("region", "mystery_ledger"))
    assert(spark.read.parquet(s"$out/main/mystery_ledger").count() == 25)
  }

  test("PARTITION_OPTIONS=MERGE folds partitions into one table without a single-task scan") {
    val srcRoot = tmp("jobspec-merge-src")
    graft.operators.Events.load(spark, sf)
      .write.partitionBy("event_type").parquet(s"$srcRoot/events.parquet")
    val out = tmp("jobspec-merge-out")
    val listener = new GroupMetrics("JOBSPEC-MERGE")
    spark.sparkContext.addSparkListener(listener)
    val info =
      try DataPumpJob(Operation.Export, JobMode.Table, srcRoot, out,
        directives = Seq(IncludeTable(Seq("events")),
          PartitionOptions("MERGE"), Parallel(3)),
        explicitJobName = Some("JOBSPEC-MERGE")).run(spark)
      finally {
        Thread.sleep(500) // drain listener bus
        spark.sparkContext.removeSparkListener(listener)
      }
    assert(info.state == JobState.Completed, info.errors)
    assert(info.totalRows == 1000)
    // one merged table, partition column materialized as a data column
    val merged = spark.read.parquet(s"$out/main/events")
    assert(merged.count() == 1000)
    assert(merged.columns.contains("event_type"))
    // %U layout still honored: PARALLEL=3 part files
    val parts = new java.io.File(s"$out/main/events").listFiles()
      .count(_.getName.startsWith("part-"))
    assert(parts == 3)
    // the merge must NOT serialize the scan into one task (coalesce(1)
    // would): the 5 partition dirs scan with multiple tasks
    assert(listener.scanTasks.get() > 1,
      s"scan ran in ${listener.scanTasks.get()} task(s)")
  }

  test("QUERY directive subsets rows and pushes the predicate to the scan") {
    val out = tmp("jobspec-query")
    val info = DataPumpJob(Operation.Export, JobMode.Table, sf, out,
      directives = Seq(IncludeTable(Seq("region")),
        Query("r_regionkey < 2"))).run(spark)
    assert(info.state == JobState.Completed, info.errors)
    assert(info.totalRows == 2)
    assert(spark.read.parquet(s"$out/main/region").count() == 2)
  }

  test("live status tier: percentDone advances WITHIN a single-object write") {
    // Source: one table, several parquet files of increasing row count.
    // A per-row sleep makes scan tasks finish staggered, so a STATUS
    // poller must observe intermediate percent — the reference's
    // expensive-but-live strategy (status.py:334-350,391-399).
    val src = tmp("jobspec-live-src")
    (1 to 6).foreach { i =>
      spark.range(i * 2L).selectExpr("id", "repeat('x', 64) as pad")
        .coalesce(1).write.mode("append").parquet(s"$src/big.parquet")
    }
    spark.udf.register("graft_sleep",
      (ms: Int) => { Thread.sleep(ms.toLong); ms })
    val out = tmp("jobspec-live-out")
    val pending = DataPumpJob(Operation.Export, JobMode.Table, src, out,
      directives = Seq(IncludeTable(Seq("big")),
        Query("graft_sleep(120) >= 0"))) // ≥120ms per row, per task
      .run(spark, wait = false)
    val samples = scala.collection.mutable.ArrayBuffer.empty[Double]
    val deadline = System.currentTimeMillis() + 60000
    var terminal = false
    while (!terminal && System.currentTimeMillis() < deadline) {
      graft.status.JobRegistry.get(pending.jobName).foreach { s =>
        if (s.state == JobState.Executing) samples += s.percentDone
        terminal = s.state.isTerminal
      }
      Thread.sleep(5)
    }
    assert(terminal, "job did not finish")
    val fin = graft.status.JobRegistry.get(pending.jobName).get
    assert(fin.state == JobState.Completed, fin.errors)
    // monotone non-decreasing…
    samples.toSeq.sliding(2).foreach { w =>
      if (w.size == 2)
        assert(w(0) <= w(1), s"progress went backwards: ${w(0)} -> ${w(1)}")
    }
    // …with at least one live sample strictly inside (0, 100)
    assert(samples.exists(p => p > 0.0 && p < 100.0),
      s"no intermediate progress observed: ${samples.distinct}")
  }

  test("PARALLEL moves tables concurrently on a bounded pool") {
    spark.udf.register("graft_sleep",
      (ms: Int) => { Thread.sleep(ms.toLong); ms })
    val cur = new java.util.concurrent.atomic.AtomicInteger()
    val max = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val c = cur.incrementAndGet()
        max.getAndUpdate(m => math.max(m, c))
      }
      override def onJobEnd(
          je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        cur.decrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val out = tmp("jobspec-conc")
    val info =
      try DataPumpJob(Operation.Export, JobMode.Table, sf, out,
        directives = Seq(IncludeTable(Seq("region", "nation")), Parallel(2),
          Query("graft_sleep(40) >= 0"))) // region ≈200ms, nation ≈1s
        .run(spark)
      finally {
        Thread.sleep(500)
        spark.sparkContext.removeSparkListener(listener)
      }
    assert(info.state == JobState.Completed, info.errors)
    assert(info.objects.map(_.objectName).toSet == Set("nation", "region"))
    assert(info.totalRows == 30)
    // the two tables' Spark write jobs overlapped in time
    assert(max.get() >= 2, s"max concurrent jobs = ${max.get()}")
  }

  test("multi-schema completion is tracked per (schema, table) pair") {
    // two schemas with the SAME table name; one copy is poisoned so it
    // fails — the sidecar must list exactly the successful copy's path.
    val src = tmp("jobspec-pair-src")
    spark.read.parquet(graft.Tables.path(sf, "region"))
      .write.parquet(s"$src/hr/t.parquet")
    spark.read.parquet(graft.Tables.path(sf, "nation"))
      .write.parquet(s"$src/fin/t.parquet")
    val out = tmp("jobspec-pair-out")
    // poison fin/t's target with a conflicting schema + TRUNCATE guard
    spark.read.parquet(graft.Tables.path(sf, "orders"))
      .write.parquet(s"$out/fin/t")
    val info = DataPumpJob(Operation.Export, JobMode.Full, src, out,
      directives = Seq(TableExistsAction("TRUNCATE"))).run(spark)
    assert(info.state == JobState.CompletedWithErrors, info.errors)
    val byPair = info.objects.map(o => (o.objectSchema, o.objectName) -> o.state).toMap
    assert(byPair(("hr", "t")) == "COMPLETED")
    assert(byPair(("fin", "t")) == "FAILED")
    val metaJson = new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/_metadata.json")), "UTF-8")
    // dumpFiles lists hr/t (completed) and not fin/t (failed)
    assert(metaJson.contains("hr/t"))
    assert(!metaJson.contains("fin/t"))
  }

  test("DEPARTITION promotes each source partition to its own table") {
    // build a partitioned source: events partitioned by event_type
    val srcRoot = tmp("jobspec-departition-src")
    graft.operators.Events.load(spark, sf)
      .write.partitionBy("event_type").parquet(s"$srcRoot/events.parquet")
    val out = tmp("jobspec-departition-out")
    val listener = new GroupMetrics("JOBSPEC-DEPART")
    spark.sparkContext.addSparkListener(listener)
    val info =
      try DataPumpJob(Operation.Export, JobMode.Table, srcRoot, out,
        directives = Seq(IncludeTable(Seq("events")),
          PartitionOptions("DEPARTITION"), TableExistsAction("REPLACE")),
        explicitJobName = Some("JOBSPEC-DEPART"))
        .run(spark)
      finally {
        val deadline = System.currentTimeMillis() + 10000
        while (listener.recordsRead.get() < 1000 &&
            System.currentTimeMillis() < deadline)
          Thread.sleep(100)
        Thread.sleep(300)
        spark.sparkContext.removeSparkListener(listener)
      }
    assert(info.state == JobState.Completed, info.errors)
    assert(info.totalRows == 1000)
    // single source scan in total: partition combos come from the file
    // index and row counts from Observations, never a second pass
    assert(listener.recordsRead.get() == 1000,
      s"expected exactly 1000 source rows read, saw ${listener.recordsRead.get()}")
    val tables = new java.io.File(s"$out/main").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(tables.length == 5, tables.toSeq) // one per event_type
    assert(tables.forall(_.startsWith("events_event_type_")))
    val total = tables.map(t =>
      spark.read.parquet(s"$out/main/$t").count()).sum
    assert(total == 1000)
    // departitioned tables no longer carry the partition column
    val cols = spark.read.parquet(s"$out/main/${tables.head}").columns
    assert(!cols.contains("event_type"))
  }

  test("DEPARTITION APPEND runs the same on-disk schema guard per promoted table") {
    val srcRoot = tmp("jobspec-depapp-src")
    graft.operators.Events.load(spark, sf)
      .write.partitionBy("event_type").parquet(s"$srcRoot/events.parquet")
    val out = tmp("jobspec-depapp-out")
    val first = DataPumpJob(Operation.Export, JobMode.Table, srcRoot, out,
      directives = Seq(IncludeTable(Seq("events")),
        PartitionOptions("DEPARTITION"))).run(spark)
    assert(first.state == JobState.Completed, first.errors)
    val tables = new java.io.File(s"$out/main").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    val before = spark.read.parquet(s"$out/main/${tables.head}").count()
    // same promoted table names, DIFFERENT schema (a column dropped):
    // the unchecked-append disaster shape, now on the combo path
    val srcRoot2 = tmp("jobspec-depapp-src2")
    graft.operators.Events.load(spark, sf).drop("props")
      .write.partitionBy("event_type").parquet(s"$srcRoot2/events.parquet")
    val bad = DataPumpJob(Operation.Export, JobMode.Table, srcRoot2, out,
      directives = Seq(IncludeTable(Seq("events")),
        PartitionOptions("DEPARTITION"),
        TableExistsAction("APPEND"))).run(spark)
    assert(bad.objects.exists(o => o.state == "FAILED" &&
      o.error.exists(_.contains("APPEND requires identical schema"))),
      bad.objects.map(o => (o.state, o.error)).toString)
    // the promoted tables are untouched — no mismatched part files
    assert(spark.read.parquet(s"$out/main/${tables.head}").count() == before)
  }

  test("wrapped keys are self-describing: a fresh reader needs only the password") {
    import graft.sources.{GraftKms, ParquetCrypto}
    val wConf = new org.apache.hadoop.conf.Configuration(false)
    wConf.set(ParquetCrypto.PasswordConf, "pw-xyz")
    wConf.setInt(ParquetCrypto.KeyBitsConf, 256)
    val writer = new GraftKms
    writer.initialize(wConf, "g", null, null)
    val dek = new Array[Byte](16)
    new java.util.Random(7).nextBytes(dek)
    val wrapped = writer.wrapKey(dek, "k0")
    // fresh-process analog: a reader conf with ONLY the password — no
    // KeyBitsConf, no process-local KEK caches to lean on
    val rConf = new org.apache.hadoop.conf.Configuration(false)
    rConf.set(ParquetCrypto.PasswordConf, "pw-xyz")
    val reader = new GraftKms
    reader.initialize(rConf, "g", null, null)
    assert(java.util.Arrays.equals(reader.unwrapKey(wrapped, "k0"), dek))
    // wrong password still dies on the GCM tag
    val bConf = new org.apache.hadoop.conf.Configuration(false)
    bConf.set(ParquetCrypto.PasswordConf, "wrong")
    val bad = new GraftKms
    bad.initialize(bConf, "g", null, null)
    intercept[Throwable] { bad.unwrapKey(wrapped, "k0") }
  }

  test("legacy [IV][ct] wrapped-key blobs still unwrap (pre-length-byte dumps)") {
    import graft.sources.{GraftKms, ParquetCrypto}
    val dek = new Array[Byte](16)
    new java.util.Random(11).nextBytes(dek)
    def legacyWrap(bits: Int, iv0: Byte): String = {
      val mk = ParquetCrypto.deriveKey("pw-legacy", "k0", bits)
      val iv = new Array[Byte](12)
      new java.util.Random(13).nextBytes(iv)
      iv(0) = iv0
      val c = javax.crypto.Cipher.getInstance("AES/GCM/NoPadding")
      c.init(javax.crypto.Cipher.ENCRYPT_MODE,
        new javax.crypto.spec.SecretKeySpec(mk, "AES"),
        new javax.crypto.spec.GCMParameterSpec(128, iv))
      java.util.Base64.getEncoder.encodeToString(iv ++ c.doFinal(dek))
    }
    val rConf = new org.apache.hadoop.conf.Configuration(false)
    rConf.set(ParquetCrypto.PasswordConf, "pw-legacy")
    rConf.setInt(ParquetCrypto.KeyBitsConf, 256)
    val reader = new GraftKms
    reader.initialize(rConf, "g", null, null)
    // plain legacy blob (first byte is not a plausible length byte)
    assert(java.util.Arrays.equals(
      reader.unwrapKey(legacyWrap(256, 0x7f.toByte), "k0"), dek))
    // adversarial legacy blob: the first IV byte LOOKS like a length
    // byte (16) — the self-describing parse must fail its GCM tag and
    // fall back to the legacy parse, not reject the dump as corrupt
    assert(java.util.Arrays.equals(
      reader.unwrapKey(legacyWrap(256, 16.toByte), "k0"), dek))
    // legacy blob under a DIFFERENT key size than the reader's conf →
    // the actionable KeyBitsConf error, not a bare tag failure
    val mConf = new org.apache.hadoop.conf.Configuration(false)
    mConf.set(ParquetCrypto.PasswordConf, "pw-legacy")
    val mis = new GraftKms
    mis.initialize(mConf, "g", null, null) // defaults to 128 bits
    val e = intercept[Throwable] { mis.unwrapKey(legacyWrap(256, 0x7f.toByte), "k0") }
    assert(e.getMessage.contains(ParquetCrypto.KeyBitsConf))
  }

  test("DUMP_FORMAT exports orc/json/csv dump sets; import sniffs the format") {
    // ORC: lossless columnar alternative — exact round trip
    val orcDump = tmp("jobspec-fmt-orc"); val orcTgt = tmp("jobspec-fmt-orc-t")
    val exp = DataPumpJob(Operation.Export, JobMode.Table, sf, orcDump,
      directives = Seq(IncludeTable(Seq("nation")), DumpFormat("orc"),
        Parallel(2))).run(spark)
    assert(exp.state == JobState.Completed, exp.errors)
    val orcParts = new java.io.File(s"$orcDump/main/nation").listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getName)
    assert(orcParts.length == 2 && orcParts.forall(_.contains(".orc")),
      orcParts.toSeq)
    val imp = DataPumpJob(Operation.Import, JobMode.Full, orcDump, orcTgt)
      .run(spark)
    assert(imp.state == JobState.Completed, imp.errors)
    val back = spark.read.parquet(s"$orcTgt/main/nation")
    val orig = spark.read.parquet(graft.Tables.path(sf, "nation"))
    assert(back.schema == orig.schema)
    assert(back.count() == 25)

    // CSV: lossy interchange — counts and values survive, types re-infer
    val csvDump = tmp("jobspec-fmt-csv"); val csvTgt = tmp("jobspec-fmt-csv-t")
    DataPumpJob(Operation.Export, JobMode.Table, sf, csvDump,
      directives = Seq(IncludeTable(Seq("region")), DumpFormat("csv")))
      .run(spark)
    assert(new java.io.File(s"$csvDump/main/region").listFiles()
      .exists(_.getName.contains(".csv")))
    val impCsv = DataPumpJob(Operation.Import, JobMode.Full, csvDump, csvTgt)
      .run(spark)
    assert(impCsv.state == JobState.Completed, impCsv.errors)
    val csvBack = spark.read.parquet(s"$csvTgt/main/region")
    assert(csvBack.count() == 5)
    assert(csvBack.filter("r_regionkey = 0").select("r_name")
      .collect().head.getString(0) == "AFRICA")

    // JSON import sniffs too
    val jsonDump = tmp("jobspec-fmt-json")
    DataPumpJob(Operation.Export, JobMode.Table, sf, jsonDump,
      directives = Seq(IncludeTable(Seq("region")), DumpFormat("json")))
      .run(spark)
    val jTgt = tmp("jobspec-fmt-json-t")
    val impJ = DataPumpJob(Operation.Import, JobMode.Full, jsonDump, jTgt)
      .run(spark)
    assert(impJ.state == JobState.Completed, impJ.errors)
    assert(spark.read.parquet(s"$jTgt/main/region").count() == 5)
  }

  test("TABLESPACE mode selects by path prefix (SURVEY §1.1 mapping)") {
    val src = tmp("jobspec-ts-mode")
    // two "tablespaces" = two storage roots holding schema trees
    spark.read.parquet(graft.Tables.path(sf, "region"))
      .write.parquet(s"$src/hr/staff.parquet")
    spark.read.parquet(graft.Tables.path(sf, "nation"))
      .write.parquet(s"$src/fin/accounts.parquet")
    val out = tmp("jobspec-ts-mode-out")
    val info = DataPumpJob(Operation.Export, JobMode.Tablespace, src, out,
      directives = Seq(IncludeTablespace(Seq("hr")))).run(spark)
    assert(info.state == JobState.Completed, info.errors)
    assert(info.objects.map(_.objectName) == Seq("staff"))
    assert(new java.io.File(s"$out/hr/staff").exists())
    assert(!new java.io.File(s"$out/fin").exists())
    // absolute prefixes work too, and TRANSPORTABLE shares the path
    val out2 = tmp("jobspec-ts-mode-out2")
    val info2 = DataPumpJob(Operation.Export, JobMode.Transportable, src, out2,
      directives = Seq(IncludeTablespace(Seq(s"$src/fin")))).run(spark)
    assert(info2.objects.map(_.objectName) == Seq("accounts"))
  }

  test("DEPARTITION names use actual partition values, not Hive-escaped segments") {
    val src = tmp("jobspec-unesc-src")
    spark.range(10)
      .selectExpr("id", "case when id < 5 then 'a:1' else 'b c' end as grp")
      .write.partitionBy("grp").parquet(s"$src/t.parquet")
    val out = tmp("jobspec-unesc-out")
    val info = DataPumpJob(Operation.Export, JobMode.Table, src, out,
      directives = Seq(IncludeTable(Seq("t")),
        PartitionOptions("DEPARTITION"))).run(spark)
    assert(info.state == JobState.Completed, info.errors)
    val tables = new java.io.File(s"$out/main").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    // ':' is Hive-escaped to %3A in the path; the output name must carry
    // the real value (space is not escaped and passes through)
    assert(tables.toSeq == Seq("t_grp_a:1", "t_grp_b c"), tables.toSeq)
  }

  test("APPEND round-trips non-parquet dumps and encrypted targets") {
    // json dump appended twice: inference-lossy formats skip the
    // schema guard (alphabetized columns + widened ints would fail a
    // schema-identical append), so this is the pre-guard behavior pin
    val jd = tmp("jobspec-app-json")
    val mk = () => DataPumpJob(Operation.Export, JobMode.Table, sf, jd,
      directives = Seq(IncludeTable(Seq("nation")), DumpFormat("json"),
        TableExistsAction("APPEND"))).run(spark)
    assert(mk().state == JobState.Completed)
    assert(mk().state == JobState.Completed)
    assert(spark.read.json(s"$jd/main/nation").count() == 50)
    // encrypted target appended with identical schema: the guard must
    // read the existing footer WITH the job's key material
    val ed = tmp("jobspec-app-enc-d"); val et = tmp("jobspec-app-enc-t")
    val enc = Seq(Encryption("ALL"), EncryptionMode("PASSWORD"),
      EncryptionPassword("app-pw"))
    DataPumpJob(Operation.Export, JobMode.Table, sf, ed,
      directives = IncludeTable(Seq("region")) +: enc).run(spark)
    val i1 = DataPumpJob(Operation.Import, JobMode.Full, ed, et,
      directives = enc).run(spark)
    assert(i1.state == JobState.Completed, i1.errors)
    val i2 = DataPumpJob(Operation.Import, JobMode.Full, ed, et,
      directives = TableExistsAction("APPEND") +: enc).run(spark)
    assert(i2.state == JobState.Completed, i2.errors)
    import graft.sources.ParquetCrypto
    val keyed = Map(
      ParquetCrypto.FactoryClassKey -> ParquetCrypto.FactoryClass,
      ParquetCrypto.KmsClassKey -> classOf[graft.sources.GraftKms].getName,
      ParquetCrypto.PasswordConf -> "app-pw")
    assert(spark.read.options(keyed).parquet(s"$et/main/region").count() == 10)
  }

  test("ENCRYPTION with a non-parquet DUMP_FORMAT fails instead of writing cleartext") {
    val out = tmp("jobspec-enc-csv")
    val info = DataPumpJob(Operation.Export, JobMode.Table, sf, out,
      directives = Seq(IncludeTable(Seq("region")), DumpFormat("csv"),
        Encryption("ALL"), EncryptionMode("PASSWORD"),
        EncryptionPassword("pw"))).run(spark)
    assert(info.state != JobState.Completed, info.state)
    assert(info.objects.exists(_.error.exists(_.contains("cleartext"))),
      info.objects.flatMap(_.error).mkString("; "))
    // nothing cleartext landed
    assert(!new java.io.File(s"$out/main/region").exists())
  }

  test("ENCRYPTION=ALL encrypts the dump set; the password round-trips it") {
    val dump = tmp("jobspec-enc-dump")
    val tgt = tmp("jobspec-enc-import")
    val enc = Seq(Encryption("ALL"), EncryptionAlgorithm("AES256"),
      EncryptionMode("PASSWORD"), EncryptionPassword("s3cret-pw"))
    val exp = DataPumpJob(Operation.Export, JobMode.Table, sf, dump,
      directives = IncludeTable(Seq("nation")) +: enc).run(spark)
    assert(exp.state == JobState.Completed, exp.errors)
    // encrypted-footer parquet announces itself: magic bytes PARE
    val part = new java.io.File(s"$dump/main/nation").listFiles()
      .filter(_.getName.startsWith("part-")).head
    val magic = new Array[Byte](4)
    val in = new java.io.FileInputStream(part)
    try in.read(magic) finally in.close()
    assert(new String(magic, "US-ASCII") == "PARE", s"not encrypted: $part")
    // without key material the dump is unreadable
    intercept[Throwable] {
      spark.read.parquet(s"$dump/main/nation").collect()
    }
    // an import presenting the same password round-trips the rows —
    // and RE-ENCRYPTS its own output (the directives ride the import
    // writer too), so reading the target back also needs the keys
    val imp = DataPumpJob(Operation.Import, JobMode.Full, dump, tgt,
      directives = enc).run(spark)
    assert(imp.state == JobState.Completed, imp.errors)
    import graft.sources.ParquetCrypto
    val keyed = Map(
      ParquetCrypto.FactoryClassKey -> ParquetCrypto.FactoryClass,
      ParquetCrypto.KmsClassKey -> classOf[graft.sources.GraftKms].getName,
      ParquetCrypto.PasswordConf -> "s3cret-pw")
    intercept[Throwable] { // still protected at rest after import
      spark.read.parquet(s"$tgt/main/nation").collect()
    }
    val got = spark.read.options(keyed).parquet(s"$tgt/main/nation")
      .orderBy("n_nationkey").collect()
    val want = Tables.load(spark, sf, "nation").orderBy("n_nationkey").collect()
    assert(got.sameElements(want))
    // DATA_ONLY: plaintext (signed) footer — PAR1 magic, schema
    // readable without keys, data still protected
    val dump2 = tmp("jobspec-enc-dataonly")
    val exp2 = DataPumpJob(Operation.Export, JobMode.Table, sf, dump2,
      directives = Seq(IncludeTable(Seq("nation")), Encryption("DATA_ONLY"),
        EncryptionPassword("s3cret-pw"))).run(spark)
    assert(exp2.state == JobState.Completed, exp2.errors)
    val part2 = new java.io.File(s"$dump2/main/nation").listFiles()
      .filter(_.getName.startsWith("part-")).head
    val in2 = new java.io.FileInputStream(part2)
    try in2.read(magic) finally in2.close()
    assert(new String(magic, "US-ASCII") == "PAR1", s"footer not plaintext")
    assert(spark.read.parquet(s"$dump2/main/nation").schema.nonEmpty)
    intercept[Throwable] {
      spark.read.parquet(s"$dump2/main/nation").collect()
    }
  }
}
