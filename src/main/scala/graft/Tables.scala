package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Central access to the driver-generated TPC-H-ish testdata tables.
  *
  * In production these reads would target JDBC/object-store sources (the
  * reference streams Oracle segments via DBMS_DATAPUMP; see
  * /root/reference/src/oracledb_datapump/commands.py:41-119); the harness
  * reads the snapshot parquet dirs. All readers go through here so
  * source-level concerns (schema pinning, column pruning, future format
  * swaps) live in one place.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Path of a table's parquet inside a scale-factor dir. */
  def path(sfDir: String, name: String): String = {
    val dir = if (sfDir.endsWith("/")) sfDir.dropRight(1) else sfDir
    s"$dir/$name.parquet"
  }

  /** Read one table, resolved once per session: every
    * `spark.read.parquet(path)` pays a driver-side listing plus a
    * footer read for schema inference, pure per-query overhead when
    * hundreds of queries scan the same fixture table (the file-index
    * caching any production metastore provides). The resolved relation is a
    * [[CachePool]] entry keyed by the table path, so a table rewritten
    * in place re-resolves instead of serving a file list that no longer
    * exists. Nothing but the relation (file listing + schema) is
    * cached: each query still plans its own pruned, pushed-down scan.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val p = path(sfDir, name)
    CachePool.memo(s"relation:$p", spark, p)(
      CachePool.Held(spark.read.parquet(p)))
  }
}
