package graft.operators

import graft.{QueryRow, Tables}
import graft.directives._
import graft.job.DataPumpJob
import graft.model.{JobState, Operation, JobMode}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Queries that exercise the Data-Pump-style job engine end-to-end —
  * the export→import round-trip chain the reference's tests build
  * (tests/test_export.py → tests/test_import.py via pytest cache), but
  * with data-level assertions: each query returns the *imported* data,
  * which must hash-match the original table per the DuckDB oracle.
  *
  * Scratch dirs: the returned DataFrames read the import target
  * LAZILY, so the dirs can't be deleted here — [[graft.TempDirs]]
  * registers each one for deletion at JVM exit, keeping bench/verify
  * sweeps /tmp-net-zero.
  */
object JobQueries {

  private def tmpDir(prefix: String): String =
    graft.TempDirs.create(prefix)

  /** EXPORT(lineitem) → dump set → IMPORT with REMAP_SCHEMA main→stage
    * and TABLE_EXISTS_ACTION=REPLACE → read back. Exercises: job
    * naming, %U parallel layout, sidecar, remap, save modes.
    */
  def roundtrip(spark: SparkSession, sf: String): DataFrame = {
    val dump = tmpDir("graft-dump")
    val tgt = tmpDir("graft-import")
    val exp = DataPumpJob(Operation.Export, JobMode.Table,
      sourceDir = sf, targetDir = dump,
      directives = Seq(IncludeTable(Seq("lineitem")), Parallel(4),
        CompressionAlgorithm("HIGH")))
      .run(spark)
    require(exp.state == JobState.Completed, s"export failed: ${exp.errors}")
    val imp = DataPumpJob(Operation.Import, JobMode.Full,
      sourceDir = dump, targetDir = tgt,
      directives = Seq(RemapSchema("main", "stage"),
        TableExistsAction("REPLACE"), Parallel(2), DeleteFiles()))
      .run(spark)
    require(imp.state == JobState.Completed, s"import failed: ${imp.errors}")
    spark.read.parquet(s"$tgt/stage/lineitem")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
  }

  /** TABLE_EXISTS_ACTION=APPEND: two export passes into one target ⇒
    * doubled rows (oracle: lineitem UNION ALL lineitem). */
  def appendSemantics(spark: SparkSession, sf: String): DataFrame = {
    val tgt = tmpDir("graft-append")
    val dirs = Seq(IncludeTable(Seq("nation")), TableExistsAction("APPEND"))
    val job = DataPumpJob(Operation.Export, JobMode.Table,
      sourceDir = sf, targetDir = tgt, directives = dirs)
    require(job.run(spark).state == JobState.Completed)
    require(job.run(spark).state == JobState.Completed)
    spark.read.parquet(s"$tgt/main/nation").orderBy(col("n_nationkey"))
  }

  /** TABLE_EXISTS_ACTION=SKIP (SaveMode.Ignore): second pass is a
    * no-op ⇒ single copy survives. */
  def skipSemantics(spark: SparkSession, sf: String): DataFrame = {
    val tgt = tmpDir("graft-skip")
    val job = DataPumpJob(Operation.Export, JobMode.Table,
      sourceDir = sf, targetDir = tgt,
      directives = Seq(IncludeTable(Seq("nation")), TableExistsAction("SKIP")))
    require(job.run(spark).state == JobState.Completed)
    val second = job.run(spark)
    require(second.objects.forall(_.state == "SKIPPED"),
      s"expected SKIPPED, got ${second.objects}")
    spark.read.parquet(s"$tgt/main/nation").orderBy(col("n_nationkey"))
  }

  /** ESTIMATE_ONLY (directives.py:304-305): move nothing, report
    * size — surfaced as the row-count estimate the planner's stats
    * feed. The oracle is a plain COUNT(*). */
  def estimateOnly(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "lineitem")
      .agg(count(lit(1)).as("n_rows"))

  /** REMAP_SCHEMA as a standalone driver row (SURVEY.md §2.3 "same
    * rows, new table identity"): export region, import it under a
    * remapped schema, and return the rows WITH the new identity read
    * back from the physical layout (`input_file_name`), not a
    * literal — if the remap didn't rewrite the namespace, the
    * schema_name column reads the source schema and the oracle hash
    * fails. */
  def remapSchema(spark: SparkSession, sf: String): DataFrame = {
    val dump = tmpDir("graft-remap-dump")
    val tgt = tmpDir("graft-remap-import")
    val exp = DataPumpJob(Operation.Export, JobMode.Table,
      sourceDir = sf, targetDir = dump,
      directives = Seq(IncludeTable(Seq("region"))))
      .run(spark)
    require(exp.state == JobState.Completed, s"export failed: ${exp.errors}")
    val imp = DataPumpJob(Operation.Import, JobMode.Full,
      sourceDir = dump, targetDir = tgt,
      directives = Seq(RemapSchema("main", "archive")))
      .run(spark)
    require(imp.state == JobState.Completed, s"import failed: ${imp.errors}")
    spark.read.parquet(s"$tgt/archive/region")
      .withColumn("schema_name",
        regexp_extract(input_file_name(), "/([^/]+)/region/", 1))
      .select(col("schema_name"), col("r_regionkey"), col("r_name"))
      .orderBy(col("r_regionkey"))
  }

  /** Snapshot DIFF across two ledger versions — the time-travel op the
    * version store exists for (what changed between SCN 1 and SCN 2),
    * driven END-TO-END through the engine: two versioned exports land
    * `v=1` (orders with `o_orderkey % 3 != 0`, via the pushdown QUERY
    * directive) and `v=2` (`% 5 != 0`) under ONE ledgered root
    * (job.py:261-269 auto-pin parity), two FLASHBACK_SCN imports pin
    * each snapshot back out (database.py:177-181 dt→SCN analog), and a
    * full-outer join on the key emits the added/removed key set. The
    * oracle replays only the two slice predicates + the diff join — so
    * a broken ledger append, a mis-resolved pin, or an import reading
    * the wrong `v=` dir all surface as a row diff at the driver gate,
    * which JobSpec's unit cases alone cannot claim.
    *
    * Scale: the diff is one full-outer shuffle join on the snapshot
    * key — at 100 TB both sides arrive partitioned by the same key
    * from the scan, and the `change` classification is a map-side
    * null test; nothing wider than (key, side-marker) moves. */
  /** The two snapshot slice predicates — interpolated into BOTH the
    * engine's QUERY directives below and the q_snapshot_diff oracle
    * SQL (the one-constant contract: retuning a slice retunes the
    * oracle in the same commit). ANSI SQL on purpose — both engines
    * parse the identical text. */
  val SnapV1Pred = "o_orderkey % 3 != 0"
  val SnapV2Pred = "o_orderkey % 5 != 0"

  def snapshotDiff(spark: SparkSession, sf: String): DataFrame = {
    val store = tmpDir("graft-snapstore")
    val t1 = tmpDir("graft-snap-asof1")
    val t2 = tmpDir("graft-snap-asof2")
    def export(pred: String) = DataPumpJob(Operation.Export, JobMode.Table,
      sourceDir = sf, targetDir = store,
      directives = Seq(IncludeTable(Seq("orders")), Query(pred)),
      versioned = true).run(spark)
    val e1 = export(SnapV1Pred)
    require(e1.state == JobState.Completed, s"v1 export failed: ${e1.errors}")
    val e2 = export(SnapV2Pred)
    require(e2.state == JobState.Completed, s"v2 export failed: ${e2.errors}")
    val versions = graft.sources.SnapshotStore.readLedger(spark, store)
      .map(_.version)
    require(versions == Seq(1L, 2L), s"ledger recorded $versions")
    def importAsOf(v: Long, tgt: String) = DataPumpJob(Operation.Import,
      JobMode.Full, sourceDir = store, targetDir = tgt,
      directives = Seq(FlashbackScn(v))).run(spark)
    require(importAsOf(1L, t1).state == JobState.Completed)
    require(importAsOf(2L, t2).state == JobState.Completed)
    val v1 = spark.read.parquet(s"$t1/main/orders")
      .select(col("o_orderkey").as("k1"))
    val v2 = spark.read.parquet(s"$t2/main/orders")
      .select(col("o_orderkey").as("k2"))
    v1.join(v2, col("k1") === col("k2"), "full_outer")
      .filter(col("k1").isNull || col("k2").isNull)
      .select(coalesce(col("k1"), col("k2")).as("o_orderkey"),
        when(col("k2").isNull, lit("removed"))
          .otherwise(lit("added")).as("change"))
      .orderBy(col("o_orderkey"))
  }

  /** REMAP_DATA analog (column-level rewrite on the way in —
    * SURVEY.md §2.3 "Column remap"): anonymize customer names keyed by
    * the row identity. */
  def remapData(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "customer")
      .select(col("c_custkey"),
        concat(lit("ANON-"), col("c_custkey").cast("string")).as("c_name"),
        col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  /** This family's rows, each beside its DuckDB oracle. */
  val rows: Seq[QueryRow] = Seq(
    // --- job engine end-to-end (SURVEY §2.1, §2.3, §2.4)
    QueryRow("q_roundtrip", roundtrip)(
      "SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate"),
    QueryRow("q_table_exists_append", appendSemantics)(
      "SELECT * FROM nation UNION ALL SELECT * FROM nation ORDER BY n_nationkey"),
    QueryRow("q_table_exists_skip", skipSemantics)("SELECT * FROM nation ORDER BY n_nationkey"),
    QueryRow("q_estimate_only", estimateOnly)("SELECT COUNT(*) AS n_rows FROM lineitem"),
    // Snapshot diff: the oracle replays only the two slice predicates
    // and the key diff — the ledger append, SCN pin resolution, and
    // per-version import on the Spark side must reproduce exactly
    // these key sets or the hash fails.
    QueryRow("q_snapshot_diff", snapshotDiff)(
      s"""WITH v1 AS (SELECT o_orderkey FROM orders
           WHERE ${SnapV1Pred}),
         v2 AS (SELECT o_orderkey FROM orders
           WHERE ${SnapV2Pred})
         SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN b.o_orderkey IS NULL THEN 'removed'
                ELSE 'added' END AS change
         FROM v1 a FULL JOIN v2 b ON a.o_orderkey = b.o_orderkey
         WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
         ORDER BY o_orderkey"""),
    QueryRow("q_remap_data", remapData)(
      """SELECT c_custkey,
         'ANON-' || CAST(c_custkey AS VARCHAR) AS c_name, c_mktsegment
         FROM customer
         ORDER BY c_custkey"""),
    // REMAP_SCHEMA: same rows, new identity — the Spark side derives
    // schema_name from the imported files' physical path, so a remap
    // that didn't rewrite the namespace hashes as 'main', not
    // 'archive', and fails here
    QueryRow("q_remap_schema", remapSchema)(
      """SELECT 'archive' AS schema_name, r_regionkey, r_name
         FROM region
         ORDER BY r_regionkey""")
  )
}
