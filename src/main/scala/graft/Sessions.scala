package graft

import org.apache.spark.sql.SparkSession

/** Session-level compatibility settings the engine depends on.
  *
  * `spark.sql.legacy.parquet.nanosAsLong` has NO per-read datasource
  * option (ParquetOptions exposes only rebase/compression/mergeSchema),
  * so reading the nanosecond-timestamp `events` table requires a
  * session conf. Mutating a shared session from inside an operator is a
  * global side effect; every such set is therefore routed through this
  * single idempotent choke point, and the engine's own entry points
  * (the mains through [[build]], and the tests) apply it at session
  * BUILD so the operators' calls are no-ops there.
  */
object Sessions {
  val NanosAsLongKey = "spark.sql.legacy.parquet.nanosAsLong"
  val TimeZoneKey = "spark.sql.session.timeZone"

  /** The one session the mains (Main, Verify, Explain, Bench) run on:
    * master `SPARK_MASTER`, else `local[SPARK_GRAFT_CPUS]` (default
    * 4), with `SPARK_GRAFT_CPUS` shuffle partitions, the UTC zone,
    * long-nanos parquet reads, no UI and WARN logging. */
  def build(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config(TimeZoneKey, "UTC")
      .config(NanosAsLongKey, "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Idempotently enable long-nanos parquet reads AND pin the session
    * zone to UTC. The zone pin lives here, not only in the entry
    * points: `Events.normalizeTs`'s non-nanos branch casts
    * TIMESTAMP_NTZ to session-zone TimestampType, and value parity
    * with the DuckDB oracle's naive reading holds only under UTC — a
    * session built elsewhere (a user app embedding the library in a
    * non-UTC JVM) would otherwise silently shift every event
    * timestamp. Every event reader passes through this choke point,
    * so the invariant is enforced exactly where the cast happens. */
  def ensureEventTimestampCompat(spark: SparkSession): Unit = {
    if (!spark.conf.getOption(NanosAsLongKey).contains("true"))
      spark.conf.set(NanosAsLongKey, "true")
    if (!spark.conf.getOption(TimeZoneKey).contains("UTC"))
      spark.conf.set(TimeZoneKey, "UTC")
  }
}
