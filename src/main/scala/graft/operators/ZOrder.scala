package graft.operators

import graft.{QueryRow, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton curve) layout assignment — the multi-dimensional
  * file-clustering step a 100 TB table needs for data skipping on MORE
  * THAN ONE predicate column. Sorting by a single column gives tight
  * parquet row-group min/max stats on that column and useless stats on
  * every other; interleaving the bits of two (or more) key columns
  * produces a 1-D sort key under which rows close in z are close in
  * EVERY interleaved dimension, so each file's footer covers a small
  * rectangle of the key space and scans prune on either predicate.
  *
  * Everything is integer shift/mask algebra (32 unrolled codegen'd
  * terms, no loops, no UDFs) — bit-identical in any engine, which is
  * what lets DuckDB pin the exact z-values. Group assignment takes the
  * TOP `groupBits` bits of z: a narrow map with zero shuffle at any
  * scale (the writer pairs it with `repartition($"zgroup")` +
  * `sortWithinPartitions($"z")` to lay files out; the assignment
  * itself never moves data). Top-bit ranges are equal-width in z — on
  * a skewed distribution a production writer would range-bucket z by
  * sampled quantiles instead, same algebra, data-dependent cuts.
  */
object ZOrder {

  /** Unrolled 16-bit × 2 Morton interleave over pre-masked columns
    * `a` (even bit positions) and `b` (odd): the same expression text
    * doubles as the DuckDB oracle arithmetic. */
  private[graft] def mortonExpr(a: String, b: String): String =
    (0 until 16).map(i =>
      s"((($a >> $i) & 1) << ${2 * i}) + ((($b >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")

  /** Z-layout of `orders` over (o_custkey, order day): per order its
    * 32-bit z-value and the file group from the top `groupBits` bits.
    *
    * Each dimension is first min-max scaled into the full 16-bit range
    * with integer arithmetic (`(v-min)·65535 div span`) — interleaving
    * RAW values would waste curve resolution (a column spanning 2¹¹
    * contributes constant-zero high bits and the "interleave"
    * degenerates to a single-column sort). The min/max pass is one
    * tiny broadcast aggregate. Min-max cuts are skew-sensitive; a
    * production writer on skewed keys swaps in sampled-quantile range
    * ids per dimension — same interleave, data-dependent cuts.
    */
  def zorderLayout(spark: SparkSession, sf: String,
      groupBits: Int = 4): DataFrame = {
    require(groupBits >= 1 && groupBits <= 16, s"groupBits: $groupBits")
    zAssigned(Tables.load(spark, sf, "orders"))
      .select(col("o_orderkey"), col("ck"), col("dy"), col("z"),
        expr(s"z >> ${32 - groupBits}").cast("long").as("zgroup"))
      .orderBy(col("o_orderkey"))
  }

  /** Append the scaled dimensions (`ck`, `dy`) and the 32-bit Morton
    * key `z` to a full `orders` row set — the shared front half of the
    * key-only [[zorderLayout]] and the file-writing
    * [[Maintenance.writeZOrderedOrders]]. Narrow maps plus one tiny
    * broadcast extent aggregate; never shuffles the fact rows. */
  private[operators] def zAssigned(orders: DataFrame): DataFrame = {
    val raw = orders
      .withColumn("ck_raw", col("o_custkey").cast("long"))
      .withColumn("dy_raw",
        expr("unix_date(cast(o_orderdate as date))").cast("long"))
    val ext = raw.agg(
      min(col("ck_raw")).as("ck_min"), max(col("ck_raw")).as("ck_max"),
      min(col("dy_raw")).as("dy_min"), max(col("dy_raw")).as("dy_max"))
    raw.crossJoin(broadcast(ext))
      .withColumn("ck",
        expr("((ck_raw - ck_min) * 65535) div greatest(1L, ck_max - ck_min)"))
      .withColumn("dy",
        expr("((dy_raw - dy_min) * 65535) div greatest(1L, dy_max - dy_min)"))
      .withColumn("z", expr(mortonExpr("ck", "dy")).cast("long"))
      .drop("ck_raw", "dy_raw", "ck_min", "ck_max", "dy_min", "dy_max")
  }

  /** This family's rows, each beside its DuckDB oracle. */
  val rows: Seq[QueryRow] = Seq(
    // Z-order layout: the SAME unrolled shift/mask interleave text is
    // the oracle arithmetic (mortonExpr) — bit-identical by
    // construction, so the whole curve is hash-pinned
    QueryRow("q_zorder", zorderLayout(_, _))(
      s"""WITH raw AS (SELECT o_orderkey,
             CAST(o_custkey AS BIGINT) AS ck_raw,
             CAST(date_diff('day', DATE '1970-01-01',
               CAST(o_orderdate AS DATE)) AS BIGINT) AS dy_raw
           FROM orders),
         ext AS (SELECT min(ck_raw) AS ck_min, max(ck_raw) AS ck_max,
             min(dy_raw) AS dy_min, max(dy_raw) AS dy_max FROM raw),
         k AS (SELECT o_orderkey,
             ((ck_raw - ck_min) * 65535) // greatest(1, ck_max - ck_min) AS ck,
             ((dy_raw - dy_min) * 65535) // greatest(1, dy_max - dy_min) AS dy
           FROM raw, ext),
         z AS (SELECT o_orderkey, ck, dy,
             CAST(${mortonExpr("ck", "dy")} AS BIGINT) AS z
           FROM k)
         SELECT o_orderkey, CAST(ck AS BIGINT) AS ck, CAST(dy AS BIGINT) AS dy,
           z, CAST(z >> 28 AS BIGINT) AS zgroup
         FROM z ORDER BY o_orderkey""")
  )
}
