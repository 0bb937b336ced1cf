package graft.operators

import graft.{QueryRow, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Keyless range join (point-in-interval) via interval bucketing.
  *
  * Spark has no native band/interval join: a plain
  * `points.join(intervals, p >= s && p < e)` has no equality
  * conjunct, so the planner falls back to BroadcastNestedLoopJoin —
  * O(|points| × |intervals|) comparisons, a non-starter when both
  * sides are large. The classic distributed answer is to discretize:
  * each interval is exploded into the fixed-width buckets it
  * overlaps, each point maps to exactly one bucket, and the join
  * becomes a hash-partitioned EQUALITY join on the bucket id with the
  * exact range predicate left as a residual filter.
  *
  * Cost model: an interval of length L produces ⌈L/W⌉+1 bucket rows
  * for bucket width W, and a bucket pairs a point only with the
  * intervals overlapping its W-window — so work is
  * O(|points| + |intervals|·L/W + true_matches·slack) instead of the
  * nested-loop product, shuffles partition evenly on bucket id, and
  * AQE's skew split handles a hot bucket. Choosing W ≈ the typical
  * interval length keeps both the explode factor and the residual
  * false-positive rate near 1.
  */
object RangeJoin {

  /** Join `points` to every row of `intervals` whose half-open range
    * `[startCol, endCol)` contains `pointCol`. All three columns must
    * be NON-NEGATIVE integral values in the same unit (epoch days,
    * epoch seconds, positions): bucket ids use integral `div`, whose
    * truncation-toward-zero only equals floor division on the
    * non-negative domain. Output columns are the union of both
    * inputs' columns.
    */
  def rangeJoin(points: DataFrame, intervals: DataFrame,
      pointCol: String, startCol: String, endCol: String,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    // uniquified join column: a caller-supplied frame already carrying
    // a column of the same name would be silently overwritten by
    // withColumn, corrupting the join
    val bc = s"__graft_bucket_${java.util.concurrent.ThreadLocalRandom
      .current().nextLong().toHexString}"
    // runtime guard for the documented non-negative-domain
    // precondition: integral `div` truncates toward zero, which only
    // equals floor division for v ≥ 0 — a negative point/start would
    // otherwise silently miss matches instead of failing loudly. The
    // guard is one codegen'd branch per row, on par with the residual.
    def nonNeg(c: String): String =
      s"""CASE WHEN `$c` < 0 THEN raise_error(concat(
            'rangeJoin: `$c` must be non-negative, got ', `$c`))
          ELSE `$c` END"""
    val p = points.withColumn(bc,
      expr(s"(${nonNeg(pointCol)}) div $bucketWidth"))
    // empty intervals (end <= start) produce an empty sequence → no rows
    val iv = intervals.withColumn(bc, explode(expr(
      s"""CASE WHEN `$endCol` > `$startCol`
            THEN sequence((${nonNeg(startCol)}) div $bucketWidth,
                          (`$endCol` - 1) div $bucketWidth)
            ELSE array() END""")))
    p.join(iv, Seq(bc))
      .where(col(pointCol) >= col(startCol) && col(pointCol) < col(endCol))
      .drop(bc)
  }

  /** Temporal demand probe: for every order, how many lineitems —
    * ANY order's lineitems, there is deliberately no key equality —
    * shipped inside the `windowDays`-day window starting at its order
    * date. The join condition is purely `ship ∈ [orderdate,
    * orderdate+W)`: the workload shape of "events within each alert
    * window", "trades within each quote's validity interval" — the
    * range-join case Spark's planner turns into a nested loop and
    * [[rangeJoin]] turns into a bucketed hash join. Zero-match
    * intervals are kept with count 0 (left-join semantics restored
    * after the inner bucket join).
    */
  def intervalJoin(spark: SparkSession, sf: String,
      windowDays: Int = 7): DataFrame = {
    val orders = Tables.load(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        expr("unix_date(cast(o_orderdate as date))").as("start_day"))
      .withColumn("end_day", col("start_day") + windowDays)
    val ships = Tables.load(spark, sf, "lineitem")
      .select(expr("unix_date(cast(l_shipdate as date))").as("ship_day"))
    val counts = rangeJoin(ships, orders,
        "ship_day", "start_day", "end_day", windowDays.toLong)
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n"))
    orders.join(counts, Seq("o_orderkey"), "left")
      .select(col("o_orderkey"), col("o_orderpriority"),
        coalesce(col("n"), lit(0L)).cast("long").as("n_shipped"))
      .orderBy(col("o_orderkey"))
  }

  /** This family's rows, each beside its DuckDB oracle. */
  val rows: Seq[QueryRow] = Seq(
    // Keyless range join: the oracle states the predicate directly
    // (DuckDB plans inequality joins natively via IEJoin); the Spark
    // side must reach the same pair set through the bucketed
    // equality-join rewrite
    QueryRow("q_interval_join", intervalJoin(_, _))(
      """SELECT o_orderkey, o_orderpriority,
         CAST(count(l.l_shipdate) AS BIGINT) AS n_shipped
         FROM orders o LEFT JOIN lineitem l
           ON l.l_shipdate >= o.o_orderdate
          AND l.l_shipdate < o.o_orderdate + INTERVAL 7 DAY
         GROUP BY o_orderkey, o_orderpriority
         ORDER BY o_orderkey""")
  )
}
