package graft.operators

import graft.QueryRow
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Dynamic partition pruning (DPP) over a date-partitioned fact
  * layout — with [[Bucketing]], the second half of the at-scale layout
  * story: bucketing kills the JOIN shuffle, partitioning kills the
  * SCAN. A fact table partitioned on the join date and probed through
  * a filtered dimension only reads the partitions the dimension
  * selects — at 100 TB, a one-week dimension slice over a three-year
  * fact table is a 150× scan reduction the STATIC planner cannot see
  * (the qualifying dates are only known once the dim side is
  * evaluated), which is exactly what Spark's runtime DPP subquery
  * provides.
  *
  * DppSpec asserts the mechanism from the executed plan: the fact
  * scan's PartitionFilters must carry a `dynamicpruning` subquery and
  * the partitions-read metric must show the pruned count (7 of 30),
  * while the values are pinned by the plain WHERE-filter oracle —
  * pruning is an access-path optimization and must never change
  * results.
  */
object PartitionPruning {

  /** One-time date-partitioned write of the events fact into a
    * scratch location (the write-side layout decision; ~30 daily
    * partitions at fixture scale), a [[graft.CachePool]] entry per
    * (source, session): the layout is write-once by definition, and
    * re-writing per call would accrete a full fact copy in /tmp per
    * invocation. */
  private[graft] def writePartitionedEvents(spark: SparkSession,
      sf: String): String =
    graft.CachePool.memo("dpp-events", spark, sf) {
      val dir = graft.TempDirs.create("graft-dpp")
      Events.load(spark, sf)
        .withColumn("event_date", to_date(col("ts")))
        .write.partitionBy("event_date").mode("overwrite")
        .parquet(s"$dir/events")
      graft.CachePool.Held(s"$dir/events")
    }

  /** The dim side: the first week of the calendar, derived from the
    * partitioned layout's OWN partition values (a file-listing read,
    * no data scan) and its min date — no fixture-coupled literals, a
    * testdata regen that shifts the epoch shifts the week with it. */
  private[graft] def firstWeekDim(fact: DataFrame): DataFrame = {
    val dates = fact.select(col("event_date").as("d")).distinct()
    val minRow = dates.agg(min(col("d"))).head()
    // empty fact (or all-null dates) → empty dim, not an NPE on the
    // min aggregate's null row
    if (minRow.isNullAt(0)) dates.limit(0)
    else {
      val cutoff = minRow.getDate(0).toLocalDate.plusDays(7)
      dates.filter(col("d") < lit(java.sql.Date.valueOf(cutoff)))
    }
  }

  /** Per-type event stats for the dimension-selected week, computed
    * through the date-partitioned layout: the broadcast dim join
    * plants a runtime `dynamicpruning` predicate on the fact scan's
    * partition column, so only 7 of the 30 date partitions are read.
    * Values are identical to the plain WHERE filter (the oracle). */
  def dppWeekStats(spark: SparkSession, sf: String): DataFrame = {
    val fact = spark.read.parquet(writePartitionedEvents(spark, sf))
    fact.join(broadcast(firstWeekDim(fact)),
        fact("event_date") === col("d"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double")
          .as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** This family's rows, each beside its DuckDB oracle. */
  val rows: Seq[QueryRow] = Seq(
    // Dynamic partition pruning: values must equal the plain WHERE
    // filter (this oracle); the ACCESS-PATH claim — a dynamicpruning
    // subquery on the fact scan reading 7 of 30 date partitions — is
    // asserted from the executed plan + scan metrics in DppSpec.
    QueryRow("q_dpp_join", dppWeekStats)(
      """SELECT event_type, COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events
         WHERE CAST(ts AS DATE) <
           (SELECT MIN(CAST(ts AS DATE)) FROM events) + 7
         GROUP BY event_type
         ORDER BY event_type""")
  )
}
