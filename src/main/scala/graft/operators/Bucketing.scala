package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Write-side bucketing: pay the fact-fact join's shuffle ONCE at
  * write time, then every subsequent join/aggregation on the bucket
  * key runs exchange-free — the layout decision that matters most at
  * 100 TB, where a lineitem ⋈ orders shuffle is tens of TB of network
  * per query and the same key is joined by every downstream pipeline.
  *
  * Mechanics: both tables are written `bucketBy(n, key)` with the
  * writer pre-partitioned on the same hash (Spark's bucket hash and
  * shuffle hash are both Murmur3-pmod, so `repartition(n, key)` puts
  * exactly one bucket's rows in each task → exactly one file per
  * bucket), plus `sortBy(key)` — giving the reader
  * `HashPartitioning(key, n)` AND per-bucket sort order for free. The
  * subsequent SortMergeJoin then needs no Exchange and no Sort on
  * either side, and the post-join groupBy(key) reuses the same
  * partitioning (asserted in BucketingSpec from the executed plan).
  *
  * At scale: bucket count is sized to the TABLE (total bytes /
  * target partition bytes, like TARGET_FILE_SIZE sizes files), not
  * hardcoded; both tables must agree on (hash, count) — the catalog
  * carries that contract. Joining a non-bucketed probe against a
  * bucketed build still saves the build-side shuffle (one-sided
  * exchange elimination).
  */
object Bucketing {

  private def dec(c: org.apache.spark.sql.Column) = Relational.dec(c)

  /** One-time bucketed write of the two fact tables into a scratch
    * external location, a [[graft.CachePool]] entry per (source,
    * bucket count, session): the whole point of write-side bucketing
    * is write-once — re-writing per call would both misstate the
    * economics and accrete a full table copy in /tmp per invocation.
    * Returns the (lineitem, orders) table names, suffixed per key so
    * distinct sources/counts never alias in the session catalog. A
    * DROP TABLE behind the memo leaves the source's fingerprint
    * unchanged, so a served pair whose tables left the catalog is
    * written again under the same names instead of failing every
    * later call with TABLE_OR_VIEW_NOT_FOUND. */
  private[graft] def writeBucketed(spark: SparkSession, sf: String,
      buckets: Int): (String, String) = {
    val names = graft.CachePool.memo(s"bucketed:$buckets", spark, sf)(
      graft.CachePool.Held(writeBucketedUncached(spark, sf, buckets)))
    if (spark.catalog.tableExists(names._1) &&
        spark.catalog.tableExists(names._2)) names
    else writeBucketedUncached(spark, sf, buckets)
  }

  private def writeBucketedUncached(spark: SparkSession, sf: String,
      buckets: Int): (String, String) = {
    val wh = graft.TempDirs.create("graft-bucketed")
    // suffix spells out the key (sanitized) — a 32-bit hashCode could
    // collide two distinct (sf, buckets) keys onto one table name and
    // silently overwrite the other's layout
    val suffix =
      s"${sf.replaceAll("[^a-zA-Z0-9]", "_")}_$buckets"
    val liName = s"graft_lineitem_bucketed_$suffix"
    val oName = s"graft_orders_bucketed_$suffix"
    Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .repartition(buckets, col("l_orderkey"))
      .write.format("parquet").option("path", s"$wh/lineitem")
      .bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable(liName)
    Tables.load(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
      .repartition(buckets, col("o_orderkey"))
      .write.format("parquet").option("path", s"$wh/orders")
      .bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable(oName)
    (liName, oName)
  }

  /** Discounted revenue per order priority off the bucketed layout —
    * numerically identical to the plain parquet join (the oracle runs
    * that), but the physical plan carries zero Exchange operators:
    * both scan sides come out hash-partitioned and sorted on the join
    * key, and the final aggregation's shuffle on o_orderpriority (9
    * groups) is the only data movement. */
  def bucketedRevenue(spark: SparkSession, sf: String,
      buckets: Int = 8): DataFrame = {
    val (liName, oName) = writeBucketed(spark, sf, buckets)
    val joined = spark.table(liName)
      .join(spark.table(oName), col("l_orderkey") === col("o_orderkey"))
    joined
      .groupBy(col("o_orderpriority"))
      .agg(sum(dec(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("o_orderpriority"))
  }

  /** The join subplan only (pre-aggregation) — what BucketingSpec
    * inspects for the no-Exchange/no-Sort property. */
  private[graft] def bucketedJoinPlan(spark: SparkSession, sf: String,
      buckets: Int = 8): DataFrame = {
    val (liName, oName) = writeBucketed(spark, sf, buckets)
    spark.table(liName)
      .join(spark.table(oName), col("l_orderkey") === col("o_orderkey"))
  }
}
