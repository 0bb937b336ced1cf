package graft.operators

import graft.{QueryRow, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Relational analytics surface — the SQL patterns the reference leans on
  * for its dictionary queries (SURVEY.md §2.5-2.7; reference sql.py:7-90,
  * files.py:922-968, status.py:265) promoted to first-class, scale-ready
  * operators.
  *
  * Determinism/oracle-parity conventions:
  *  - Double measures are cast to fixed-scale decimals *before*
  *    arithmetic, summed exactly, and cast back to double at the end —
  *    bit-identical across Spark and DuckDB regardless of partial-agg
  *    order (shuffle-safe at any scale).
  *  - Top-k queries always break ties on a unique key.
  *
  * Scale notes: every aggregation here is a hash partial-agg + final agg
  * (map-side combine); joins against the small dimension tables
  * (region/nation/supplier) are explicitly broadcast; the fact-fact join
  * (lineitem ⋈ orders) shuffles on the join key, which is the partition
  * key a real deployment would bucket both tables by.
  */
object Relational {

  /** Exact-decimal view of a 2-decimal double column — shared across
    * the operator package so the cross-engine decimal-exactness
    * convention has exactly one definition. */
  private[operators] def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  // ---- scans / projections / filters -------------------------------

  /** Column pruning — a 2-col projection must read 2 columns
    * (SURVEY.md §2.2 "Projection"). */
  def project(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_extendedprice"))

  /** IN-list row predicate — Data Pump filter-expression semantics
    * (`IN ('A','N')`, directives.py:140-143) applied to rows; pushed to
    * the parquet scan. */
  def filterIn(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "lineitem")
      .filter(col("l_returnflag").isin("A", "N") && col("l_quantity") > 30)
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_returnflag"), col("l_quantity"))
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data:
      // totalize the ordering over every output column
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity"))

  // ---- aggregations ------------------------------------------------

  /** Flagship pricing-summary aggregation (TPC-H Q1 shape): the
    * hash-agg capability the status engine's percent-done math implies
    * (status.py:265). Partial aggregation happens map-side; one shuffle
    * on the 2-col group key. */
  def aggPricing(spark: SparkSession, sf: String): DataFrame = {
    val li = Tables.load(spark, sf, "lineitem")
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** DISTINCT projection (sql.py:7-11: distinct tablespaces per owner). */
  def distinctSeg(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "customer")
      .select(col("c_mktsegment")).distinct().orderBy(col("c_mktsegment"))

  /** Most-frequent-value (mode) aggregation — Counter.most_common(1)
    * over directories (files.py:922-968). Tie-broken on the value. */
  def modeAgg(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "orders")
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("o_orderpriority")).limit(1)

  /** Multi-stat aggregation with exact measures: min/max/counts. */
  def statsAgg(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** ROLLUP hierarchy totals — subtotal/grand-total in one pass. */
  def rollupAgg(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Time-bucketed aggregation: orders per month (epoch-aligned
    * date_trunc matches DuckDB time_bucket). */
  def monthlyOrders(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("revenue"))
      .orderBy(col("month"))

  // ---- joins -------------------------------------------------------

  /** Multi-way star join: revenue by region. The FIXED-cardinality
    * dimensions (nation: 25 rows, region: 5) are broadcast — no
    * shuffle for them even at 100 TB of fact data. Customer is NOT
    * hinted: it scales with SF (≈ fact/40 — multi-TB at the 100 TB
    * posture), so a forced broadcast would die loudly at scale; AQE
    * picks broadcast at fixture scale from its own statistics and a
    * shuffle join at scale. The lineitem⋈orders fact join shuffles
    * on orderkey. */
  def joinRevenueByRegion(spark: SparkSession, sf: String): DataFrame = {
    val li = Tables.load(spark, sf, "lineitem")
    val o = Tables.load(spark, sf, "orders")
    val c = Tables.load(spark, sf, "customer")
    val n = Tables.load(spark, sf, "nation")
    val r = Tables.load(spark, sf, "region")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(sum(dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - dec(col("l_discount"))))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("r_name"))
  }

  /** Left-semi join — the EXISTS probe pattern (sql.py:51-60). */
  def semiJoin(spark: SparkSession, sf: String): DataFrame = {
    val c = Tables.load(spark, sf, "customer")
    val o = Tables.load(spark, sf, "orders")
      .filter(col("o_totalprice") > 100000)
    c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name")).orderBy(col("c_custkey"))
  }

  /** Left-anti join — NOT EXISTS. */
  def antiJoin(spark: SparkSession, sf: String): DataFrame = {
    val c = Tables.load(spark, sf, "customer")
    val o = Tables.load(spark, sf, "orders")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name")).orderBy(col("c_custkey"))
  }

  // ---- set operations ---------------------------------------------

  /** UNION + filter + order — the 4-way dictionary-view union shape
    * (sql.py:19-37). */
  def unionOrder(spark: SparkSession, sf: String): DataFrame = {
    val c = Tables.load(spark, sf, "customer")
      .select(col("c_name").as("name"), lit("CUSTOMER").as("kind"))
    val s = Tables.load(spark, sf, "supplier")
      .select(col("s_name").as("name"), lit("SUPPLIER").as("kind"))
    c.union(s).filter(col("name").isNotNull)
      .orderBy(col("kind"), col("name"))
  }

  /** INTERSECT: nations present among both customers and suppliers. */
  def intersectNations(spark: SparkSession, sf: String): DataFrame = {
    val c = Tables.load(spark, sf, "customer").select(col("c_nationkey").as("nationkey"))
    val s = Tables.load(spark, sf, "supplier").select(col("s_nationkey").as("nationkey"))
    c.intersect(s).orderBy(col("nationkey"))
  }

  /** EXCEPT: nations with customers but no suppliers. */
  def exceptNations(spark: SparkSession, sf: String): DataFrame = {
    val c = Tables.load(spark, sf, "customer").select(col("c_nationkey").as("nationkey"))
    val s = Tables.load(spark, sf, "supplier").select(col("s_nationkey").as("nationkey"))
    c.except(s).orderBy(col("nationkey"))
  }

  // ---- sorts / limits ---------------------------------------------

  /** Top-k with unique tie-break — `order by 1 desc fetch first 1 rows
    * only` (sql.py:81-86) generalized. Spark's takeOrdered path makes
    * this a per-partition top-k + driver merge: no full sort at scale.
    */
  def topK(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .limit(10)

  // ---- window functions -------------------------------------------

  /** Ranking window: each customer's 3 biggest orders. */
  def windowRank(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.load(spark, sf, "orders")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rk"))
      .orderBy(col("o_custkey"), col("rk"))
  }

  /** Percent-of-total window — the percent-done computation
    * (status.py:265,238): bytes_processed/total_bytes per job ⇒ line
    * revenue share per order. Exact decimal ratio, final double. */
  def pctShare(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("l_orderkey"))
    Tables.load(spark, sf, "lineitem")
      .withColumn("order_total",
        sum(dec(col("l_extendedprice"))).over(w))
      // exact decimal numerator/denominator, one double division at the
      // end — decimal-division scale rules differ across engines, double
      // division does not
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        (dec(col("l_extendedprice")).cast("double") /
          col("order_total").cast("double")).as("price_share"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("price_share"))
  }

  /** Running-sum window: cumulative quantity per supplier over time. */
  def runningSum(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.load(spark, sf, "lineitem")
      .select(col("l_suppkey"), col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        sum(dec(col("l_quantity"))).over(w).cast("double").as("running_qty"))
      .orderBy(col("l_suppkey"), col("running_qty"), col("l_orderkey"),
        col("l_linenumber"))
  }

  /** Lag/lead window: per-customer gap in days between consecutive
    * orders. */
  def orderGaps(spark: SparkSession, sf: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.load(spark, sf, "orders")
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(col("o_orderdate"),
          lag(col("o_orderdate"), 1).over(w)).cast("long").as("days_since_prev"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  // ---- generators / nested data -----------------------------------

  /** Explode/unnest — worker_status_list decode (status.py:272,
    * util.py:40-57): split document text and unnest words with
    * position. */
  def explodeWords(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "documents")
      .filter(col("doc_id") < 10)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("word"))
      .orderBy(col("doc_id"), col("pos"))

  /** Scalar-subquery/aggregate-probe: orders above the global average
    * price. Average as exact decimal against every row. */
  def aboveAvgOrders(spark: SparkSession, sf: String): DataFrame = {
    val o = Tables.load(spark, sf, "orders")
    val stats = o.agg(
      (sum(dec(col("o_totalprice"))).cast("double") / count(lit(1)))
        .as("avg_price"))
    o.crossJoin(broadcast(stats))
      .filter(dec(col("o_totalprice")).cast("double") > col("avg_price"))
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** CUBE: all grouping-set combinations in one pass. */
  def cubeAgg(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Exact interpolated percentiles (Spark `percentile` ==
    * DuckDB `quantile_cont`: sort + linear interpolation — identical
    * arithmetic on identical sorted inputs). */
  def percentiles(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("percentile(l_quantity, 0.5)").as("p50"),
        expr("percentile(l_quantity, 0.25)").as("p25"),
        expr("percentile(l_quantity, 0.75)").as("p75"),
        expr("percentile(l_extendedprice, 0.9)").as("price_p90"))
      .orderBy(col("l_returnflag"))

  /** Robust per-group location estimates: the TRIMMED mean (drop the
    * lowest and highest trimPct% by rank, average the rest) and the
    * WINSORIZED mean (clamp those tails to the kept boundary values
    * instead of dropping them) — the outlier-resistant statistics a
    * feature pipeline uses where q_outliers' 3-sigma rule would be
    * dragged by the very tails it is trying to flag.
    *
    * Integer-exact: values are cents on DECIMAL(38,0) (HUGEINT in the
    * oracle), the trim boundary is an integer rank cut (ties at the
    * boundary are interchangeable — equal values, so the trimmed
    * MULTISET and both sums are order-independent), and each mean is
    * ONE fixed-shape IEEE expression over exact integer operands.
    *
    * Scale: exact trimming needs a per-group rank — a sort within each
    * group, the honest cost of an exact order statistic (same contract
    * as [[percentiles]]). At 100 TB the scale path is the GK sketch
    * ([[approxPercentiles]]) supplying approximate cut values and a
    * single filtered pass — this exact form is its oracle. */
  /** Tail fraction (percent, each side) trimmed/winsorized — shared
    * with the oracle SQL so retuning cannot desynchronize the two. */
  val TrimPct = 5

  def trimmedStats(spark: SparkSession, sf: String,
      trimPct: Int = TrimPct): DataFrame = {
    val byFlag = Window.partitionBy(col("l_returnflag"))
    val ranked = Tables.load(spark, sf, "lineitem")
      .select(col("l_returnflag"),
        cents38(col("l_extendedprice")).cast("long").as("v"))
      .withColumn("rk", row_number().over(byFlag.orderBy(col("v"))))
      .withColumn("n", count(lit(1)).over(byFlag))
    ranked
      .filter(col("rk") > expr(s"n * $trimPct div 100") &&
        col("rk") <= col("n") - expr(s"n * $trimPct div 100"))
      .groupBy(col("l_returnflag"))
      .agg(max(col("n")).cast("long").as("n"),
        count(lit(1)).as("n_kept"),
        sum(col("v").cast(DecimalType(38, 0))).as("s"),
        min(col("v")).as("lo_v"), max(col("v")).as("hi_v"))
      .select(col("l_returnflag"), col("n"), col("n_kept"),
        (col("s").cast("double") / col("n_kept").cast("double") /
          lit(100.0)).as("trimmed_mean"),
        (expr("""cast(s + ((n - n_kept) div 2) * cast(lo_v as decimal(38,0))
                        + ((n - n_kept) div 2) * cast(hi_v as decimal(38,0))
                 as double)""") /
          col("n").cast("double") / lit(100.0)).as("winsorized_mean"))
      .orderBy(col("l_returnflag"))
  }

  /** Per-group CDF normalization (the probability integral transform)
    * — map every value to its empirical within-group percentile in
    * integer basis points: (rank·10⁴) div n with RANK (not
    * row_number), so tied values share one deterministic percentile
    * and the output is a pure function of the data. The rank-based
    * feature scaler (quantile normalization) that model pipelines
    * apply to heavy-tailed columns where z-scores are meaningless.
    *
    * Scale: same honest-sort contract as [[trimmedStats]] — the rank
    * window sorts within each group; the 100 TB path replaces exact
    * rank with GK-sketch interpolation ([[approxPercentiles]]) probed
    * per row, this exact form again being its oracle. */
  def cdfNorm(spark: SparkSession, sf: String): DataFrame = {
    val byFlag = Window.partitionBy(col("l_returnflag"))
    Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_returnflag"),
        cents38(col("l_extendedprice")).cast("long").as("v"))
      .withColumn("rk", rank().over(byFlag.orderBy(col("v"))).cast("long"))
      .withColumn("n", count(lit(1)).over(byFlag))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("v"), expr("(rk * 10000) div n").as("cdf_bp"))
      // (l_orderkey, l_linenumber) is NOT unique in the fixtures —
      // order by every output column so the sort is total and the
      // strict row-order compare can't see engine-dependent tie order
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("v"))
  }

  /** GROUPING SETS — the non-hierarchical multi-grouping rollup/cube
    * can't express: one pass over the fact table computing BOTH the
    * by-returnflag and the by-linestatus totals (each row lands in two
    * grouping sets, Spark expands then hash-aggregates — a single scan
    * instead of a scan per breakdown, the whole point at 100 TB).
    * Sum is decimal-exact (convention above). */
  def groupingSetsAgg(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** Exact-integer cents view of a 2-decimal double column, widened to
    * DECIMAL(38,0) so every product/sum below stays exact (the DuckDB
    * twin rides HUGEINT). */
  private def cents38(c: Column): Column =
    (c * lit(100)).cast(DecimalType(18, 0)).cast(DecimalType(38, 0))

  /** Least-squares regression + correlation per group, integer-exact:
    * the five co-moment sums (n, Σx, Σy, Σxy, Σx², Σy²) are computed as
    * DECIMAL(38,0) over cents-scaled inputs — exact under any partial-
    * agg merge order — and the classic closed forms
    * (slope = (nΣxy−ΣxΣy)/(nΣx²−(Σx)²), etc.) are evaluated as ONE
    * fixed-shape IEEE expression over exact operands, so Spark and the
    * DuckDB twin produce bit-identical doubles. The built-in
    * regr_slope/corr aggregates are deliberately NOT used for the
    * oracle row: their streaming co-moment updates are merge-order-
    * dependent in the low bits, which a distributed engine cannot pin
    * against a single-threaded oracle.
    *
    * Scale: one map-side-combinable hash agg; DECIMAL(38,0) holds to
    * ~1e38 — at 1e12 rows of 1e7-cent prices, nΣy² ≈ 1e38 is the
    * documented ceiling (rescale the cents unit past that). */
  def regressionAgg(spark: SparkSession, sf: String): DataFrame = {
    val x = cents38(col("l_quantity"))
    val y = cents38(col("l_extendedprice"))
    val moments = Tables.load(spark, sf, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).cast(DecimalType(38, 0)).as("sxy"),
        sum(x * x).cast(DecimalType(38, 0)).as("sxx"),
        sum(y * y).cast(DecimalType(38, 0)).as("syy"))
    val num = (col("n") * col("sxy") - col("sx") * col("sy"))
      .cast(DecimalType(38, 0)).cast("double")
    val denx = (col("n") * col("sxx") - col("sx") * col("sx"))
      .cast(DecimalType(38, 0)).cast("double")
    val deny = (col("n") * col("syy") - col("sy") * col("sy"))
      .cast(DecimalType(38, 0)).cast("double")
    val slope = num / denx
    moments.select(
        col("l_returnflag"),
        col("n").cast("long").as("n"),
        slope.as("slope"),
        ((col("sy").cast("double") - slope * col("sx").cast("double")) /
          col("n").cast("double")).as("intercept"),
        (slope * (num / deny)).as("r2"),
        (num / (sqrt(denx) * sqrt(deny))).as("corr_xy"))
      .orderBy(col("l_returnflag"))
  }

  /** Approximate per-group quantiles via Spark's Greenwald-Khanna
    * sketch (`percentile_approx`, accuracy = 10000 → rank error ≤
    * n/10000 per group) — the mergeable-sketch path for the exact-
    * percentile query above when a full sort per group is off the
    * table at 100 TB — surfaced as a DRIVER-CHECKABLE VERDICT ROW.
    * GK internals are engine-specific (the estimate itself has no
    * DuckDB twin), but its documented rank guarantee does: each flag
    * records whether the sketch's value occupies a rank within
    * tol = ⌊n/10000⌋+1 of the target rank ⌈p·n⌉, verified against the
    * group's own cumulative rank windows. The oracle pins every flag
    * to 1, so a sketch whose error ever exceeds its contract goes red
    * at the driver gate — the same twin-pinning the recall gates use,
    * made driver-visible (exact quantile VALUES are q_percentiles').
    *
    * Plan shape: the sketch agg is one partial-aggregated pass; the
    * rank windows are per-(group, value) counts (≤ distinct values,
    * ≪ rows) with a keyed window; the verdict joins are 3-row
    * broadcasts. Nothing global, nothing driver-side. */
  def approxPercentiles(spark: SparkSession, sf: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.load(spark, sf, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
    // 3 rows, referenced five times (headline + four verdicts):
    // persisted so the GK sketch pass over the fact table runs ONCE —
    // unpersisted, every verdict branch re-ran the full sketch scan
    val approx = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        expr("percentile_approx(l_quantity, 0.25, 10000)").as("v25"),
        expr("percentile_approx(l_quantity, 0.5, 10000)").as("v50"),
        expr("percentile_approx(l_quantity, 0.75, 10000)").as("v75"),
        expr("percentile_approx(l_extendedprice, 0.9, 10000)").as("v90"))
    val approxC = graft.CachePool.swapOne("pct-approx", approx)
    // value v occupies ranks (cum_lt, cum_le] within its group
    def ranks(valueCol: String): DataFrame = {
      val w = Window.partitionBy(col("f")).orderBy(col("v"))
      li.groupBy(col("l_returnflag").as("f"), col(valueCol).as("v"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("cum_le", sum(col("cnt")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("cum_lt", col("cum_le") - col("cnt"))
        .select(col("f"), col("v"), col("cum_lt"), col("cum_le"))
    }
    // ≤ distinct-values rows per group — persisted because the three
    // quantity verdicts share one rank table
    val qtyRanks = graft.CachePool.swapOne("pct-qty-ranks",
      ranks("l_quantity"))
    val priceRanks = ranks("l_extendedprice")
    // the GK contract: some rank of the returned value lies within
    // tol of the target rank ⌈p·n⌉. LEFT join from approx: a sketch
    // value absent from the group's rank table (a broken sketch
    // inventing a value) must surface as an explicit 0 verdict row,
    // not silently drop the group from the output
    def verdict(rk: DataFrame, vcol: String, p: Double,
        outName: String): DataFrame = {
      val target = ceil(col("n") * p)
      val tol = floor(col("n") / 10000) + 1
      approxC.select(col("l_returnflag").as("f"), col("n"),
          col(vcol).as("av"))
        .join(rk.withColumnRenamed("v", "av"), Seq("f", "av"), "left")
        .select(col("f"),
          coalesce(((col("cum_lt") + 1 <= target + tol) &&
            (col("cum_le") >= target - tol)).cast("long"), lit(0L))
            .as(outName))
    }
    approxC.select(col("l_returnflag").as("f"), col("n"),
        (floor(col("n") / 10000) + 1).cast("long").as("tol"))
      .join(verdict(qtyRanks, "v25", 0.25, "p25_ok"), Seq("f"))
      .join(verdict(qtyRanks, "v50", 0.5, "p50_ok"), Seq("f"))
      .join(verdict(qtyRanks, "v75", 0.75, "p75_ok"), Seq("f"))
      .join(verdict(priceRanks, "v90", 0.9, "price_p90_ok"), Seq("f"))
      .select(col("f").as("l_returnflag"), col("n"), col("tol"),
        col("p25_ok"), col("p50_ok"), col("p75_ok"), col("price_p90_ok"))
      .orderBy(col("l_returnflag"))
  }

  /** Salted join: prepends a deterministic salt to the build-side key
    * to spread a skewed probe key across `buckets` reducers, then
    * aggregates the partials. Result is identical to the unsalted
    * join — only the shuffle distribution changes (the manual fallback
    * when AQE skew-join can't see the skew, e.g. pre-agg). Salt is
    * hash-derived, not random: replans are stable. */
  def saltedRevenuePerOrder(spark: SparkSession, sf: String,
      buckets: Int = 8): DataFrame = {
    val li = Tables.load(spark, sf, "lineitem")
      .withColumn("l_salt", pmod(xxhash64(col("l_linenumber")), lit(buckets)))
    val o = Tables.load(spark, sf, "orders")
      .withColumn("o_salt", explode(sequence(lit(0), lit(buckets - 1))))
    li.join(o,
        col("l_orderkey") === col("o_orderkey") &&
          col("l_salt") === col("o_salt"))
      .groupBy(col("l_orderkey"), col("l_salt"))
      .agg(sum(dec(col("l_extendedprice"))).as("partial"))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("partial")).cast("double").as("revenue"))
      .orderBy(col("l_orderkey"))
  }

  /** NTILE + FIRST/LAST window frame functions: price quartiles and
    * per-flag extremes. */
  def windowFrames(spark: SparkSession, sf: String): DataFrame = {
    val byFlag = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    val full = byFlag.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    Tables.load(spark, sf, "lineitem")
      .select(col("l_returnflag"), col("l_orderkey"),
        col("l_linenumber").cast("long").as("l_linenumber"),
        ntile(4).over(byFlag).cast("long").as("quartile"),
        first(col("l_extendedprice")).over(full).as("flag_min_price"),
        last(col("l_extendedprice")).over(full).as("flag_max_price"))
      .orderBy(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("quartile"))
  }

  /** String-function battery: case, pad, substring, edit distance,
    * reverse, position — all integer/string exact cross-engine. */
  def stringOps(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "customer")
      .select(col("c_custkey"),
        upper(col("c_name")).as("upper_name"),
        lpad(col("c_custkey").cast("string"), 10, "0").as("padded_key"),
        substring(col("c_name"), 1, 8).as("prefix8"),
        levenshtein(col("c_mktsegment"), lit("BUILDING")).cast("long")
          .as("seg_dist"),
        reverse(col("c_mktsegment")).as("seg_rev"),
        instr(col("c_name"), "#").cast("long").as("hash_pos"))
      .orderBy(col("c_custkey"))

  /** Conditional aggregation: count_if / filtered sums in one pass. */
  def conditionalAgg(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        count_if(col("o_orderstatus") === "F").as("n_finished"),
        sum(when(col("o_totalprice") > 100000, dec(col("o_totalprice")))
          .otherwise(lit(0).cast(DecimalType(18, 2))))
          .cast("double").as("big_order_revenue"))
      .orderBy(col("o_orderpriority"))

  /** Correlated scalar subquery through the SQL surface: each
    * customer's max order price. (Catalyst de-correlates this into a
    * left outer aggregate join.) */
  def correlatedSubquery(spark: SparkSession, sf: String): DataFrame = {
    Tables.load(spark, sf, "customer").createOrReplaceTempView("g_customer")
    Tables.load(spark, sf, "orders").createOrReplaceTempView("g_orders")
    spark.sql(
      """SELECT c_custkey, c_name,
           (SELECT MAX(o_totalprice) FROM g_orders
            WHERE o_custkey = c_custkey) AS max_order
         FROM g_customer ORDER BY c_custkey""")
  }

  /** PIVOT: order counts by status across priorities — expressed as
    * the conditional-sum expansion both engines agree on. */
  def pivotStatus(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(col("o_orderpriority"), col("F").cast("long").as("n_f"),
        col("O").cast("long").as("n_o"), col("P").cast("long").as("n_p"))
      .orderBy(col("o_orderpriority"))

  /** Fuzzy self-join: all UNORDERED pairs of distinct part names
    * within `maxDist` edit distance. Spark plans a bare
    * `levenshtein(a,b) <= k` join as a nested loop — O(n²) evaluations
    * of an O(len²) kernel. The rewrite blocks on length bands (bucket
    * width = `maxDist`, probe side explodes to its own ±1 bands):
    * COMPLETE for edit distance ≤ maxDist because a within-distance
    * pair differs by ≤ maxDist in length, so candidates become a
    * hash-partitioned equality join on the band id and the residual
    * uses the early-exit threshold form of levenshtein (returns −1
    * past the bound instead of filling the full DP matrix). At 100 TB
    * add a q-gram prefix key alongside the band for tighter blocking —
    * the band alone already removes the quadratic blowup on any
    * realistically length-spread dictionary.
    */
  def fuzzyJoin(spark: SparkSession, sf: String, maxDist: Int = 2): DataFrame = {
    val w = math.max(1, maxDist)
    val names = Tables.load(spark, sf, "part").select(col("p_name"))
      .distinct()
      .select(col("p_name").as("name"),
        (length(col("p_name")).cast("long") / w).cast("long").as("band"))
    val probe = names
      .select(col("name").as("name_a"),
        explode(array(col("band") - 1, col("band"), col("band") + 1))
          .as("band"))
    probe.join(names.select(col("name").as("name_b"), col("band")), Seq("band"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("dist",
        levenshtein(col("name_a"), col("name_b"), maxDist).cast("long"))
      .filter(col("dist") =!= -1L)
      .select(col("name_a"), col("name_b"), col("dist"))
      .orderBy(col("name_a"), col("name_b"))
  }

  /** Approximate distinct counts via Spark's HyperLogLog++ sketch
    * (`approx_count_distinct`, rsd = 1%) — the mergeable one-pass path
    * for COUNT(DISTINCT) at 100 TB — surfaced as a DRIVER-CHECKABLE
    * VERDICT ROW. HLL++ bias tables are engine-specific (the estimate
    * itself has no DuckDB twin), but its accuracy contract does: each
    * flag records whether the sketch landed within 5% of the exact
    * count (≥5σ at rsd 0.01 — deterministically 1 unless the sketch
    * breaks). The oracle recomputes the exact counts and pins every
    * flag to 1. Exact distincts and sketches ride the SAME aggregate
    * (one scan, one shuffle); at 100 TB a user drops the exact columns
    * and keeps the sketch — this row is the harness proving the
    * sketch is trustworthy. */
  def approxDistinct(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("exact_orders"),
        countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_orderkey"), 0.01).as("ao"),
        approx_count_distinct(col("l_partkey"), 0.01).as("ap"))
      .select(col("l_returnflag"), col("exact_orders"), col("exact_parts"),
        (abs(col("ao") - col("exact_orders")).cast("double") <=
          col("exact_orders").cast("double") * 0.05)
          .cast("long").as("orders_within_5pct"),
        (abs(col("ap") - col("exact_parts")).cast("double") <=
          col("exact_parts").cast("double") * 0.05)
          .cast("long").as("parts_within_5pct"))
      .orderBy(col("l_returnflag"))

  /** Column profile of `documents` — the ANALYZE/data-quality pass a
    * pipeline runs before training: per column, row/null/distinct
    * counts and min/max. ONE scan: all per-column aggregates ride a
    * single agg (multiple exact distincts compile to Catalyst's Expand
    * — still one pass over the data), then one row per column is
    * unfolded from the flat result. At 100 TB the exact distincts
    * downgrade to `approx_count_distinct` — same shape, no Expand.
    * min/max are taken in the column's own type and cast to string
    * only for display (numeric-vs-lexicographic ordering stays
    * correct). */
  /** Key-skew diagnostic over a join/grouping key — what a user runs
    * BEFORE sizing a salted join or trusting AQE's skew split: total
    * rows, key cardinality, the heaviest key's row count and corpus
    * share (basis points), and DISCRETE group-size quantiles (exact
    * k-th order statistics at k = ⌈q·n⌉, ties broken by key — pure
    * integers, so the row is bit-identical in any engine; interpolated
    * percentiles are floats and are NOT cross-engine stable).
    *
    * Plan: one partial-aggregated groupBy on the key (the same shuffle
    * the join under diagnosis would do), then all statistics reduce
    * over the GROUP-SIZE table (key-cardinality-sized, not corpus-
    * sized). That table is still billions of rows under a billion-key
    * corpus, so the DEFAULT quantile path is `approx_percentile` over
    * the size column (t-digest partial aggregation, constant memory,
    * no global sort); `exact = true` switches to the k-th order
    * statistic via a ranked window over the sizes table — the mode the
    * DuckDB oracle pins, same resolution as the quality gate. The
    * share/max/top-key fields, which drive the salting decision, are
    * plain aggregates in both modes.
    */
  def skewProfile(spark: SparkSession, sf: String,
      exact: Boolean = false): DataFrame = {
    val sizes = Tables.load(spark, sf, "lineitem")
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
    val n = sizes.agg(count(lit(1)).as("n_keys"),
      sum(col("n")).as("n_rows"), max(col("n")).as("max_rows"))
    if (!exact) {
      return n.crossJoin(broadcast(sizes.agg(
          expr("approx_percentile(n, array(0.5, 0.9, 0.99), 10000)")
            .as("qs"))))
        .select(lit("l_orderkey").as("key_col"), col("n_keys"),
          col("n_rows"), col("max_rows"),
          expr("max_rows * 10000 div n_rows").as("top_share_bp"),
          expr("qs[0]").as("p50_rows"), expr("qs[1]").as("p90_rows"),
          expr("qs[2]").as("p99_rows"))
    }
    // Exact mode (the documented oracle for the approx default): the
    // global rank over (n, l_orderkey) is TwoPhase.prefix, not a
    // single-partition Window.orderBy — keys range-bucket on the
    // leading sort column n (equal-width over [min_n, max_n]). With
    // few distinct n values the effective bucket count is bounded by
    // them (group-size profiles are narrow-domained), which still caps
    // any one partition at one value-class of keys.
    val buckets = 32
    val ext = sizes.agg(min(col("n")).as("mn"), max(col("n")).as("mx"))
    val ranged = sizes.crossJoin(broadcast(ext))
      .withColumn("bucket", expr(
        s"(n - mn) div cast(ceil((mx - mn + 1) / $buckets.0) as bigint)"))
    val ranked = TwoPhase.prefix(ranged, Nil, Seq("bucket"),
      Seq(col("n"), col("l_orderkey")), lit(1L), "rk")
    val qs = ranked.crossJoin(broadcast(n))
      .select(col("n"), col("rk"), col("n_keys"))
      .filter(col("rk") === expr("cast(ceil(n_keys * 0.5) as bigint)") ||
        col("rk") === expr("cast(ceil(n_keys * 0.9) as bigint)") ||
        col("rk") === expr("cast(ceil(n_keys * 0.99) as bigint)"))
      .agg(
        max(when(col("rk") === expr("cast(ceil(n_keys * 0.5) as bigint)"),
          col("n"))).as("p50_rows"),
        max(when(col("rk") === expr("cast(ceil(n_keys * 0.9) as bigint)"),
          col("n"))).as("p90_rows"),
        max(when(col("rk") === expr("cast(ceil(n_keys * 0.99) as bigint)"),
          col("n"))).as("p99_rows"))
    n.crossJoin(qs)
      .select(lit("l_orderkey").as("key_col"), col("n_keys"), col("n_rows"),
        col("max_rows"),
        expr("max_rows * 10000 div n_rows").as("top_share_bp"),
        col("p50_rows"), col("p90_rows"), col("p99_rows"))
  }

  /** Fixed-width histogram of `l_extendedprice` in `buckets` equal
    * cents-ranges — the distribution-shape probe next to [[profile]]
    * and [[skewProfile]]. All arithmetic is integer cents (money
    * doubles go through the DECIMAL(18,2) cast every other oracle
    * uses, then ×100 → BIGINT), and the bucket index is
    * `(v−min)·k div (max−min+1)` — exact floor division, no
    * width_bucket edge-semantics drift between engines. One scan for
    * extremes (broadcast scalar), one partial-aggregated groupBy on
    * the bucket index; share in basis points is integer too.
    */
  def histogram(spark: SparkSession, sf: String,
      buckets: Int = 20): DataFrame = {
    val cents = expr(
      "cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)")
    val rows = Tables.load(spark, sf, "lineitem").select(cents.as("v"))
    val ext = rows.agg(min(col("v")).as("mn"), max(col("v")).as("mx"),
      count(lit(1)).as("n_total"))
    rows.crossJoin(broadcast(ext))
      .withColumn("bucket",
        expr(s"((v - mn) * $buckets) div (mx - mn + 1)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        first(col("mn")).as("mn"), first(col("mx")).as("mx"),
        first(col("n_total")).as("n_total"))
      .select(col("bucket"),
        // exact inverse of the bucket map: smallest v landing in b is
        // mn + ceil(b·span/k)
        expr(s"mn + (bucket * (mx - mn + 1) + $buckets - 1) div $buckets")
          .as("lo_cents"),
        col("n"), expr("n * 10000 div n_total").as("share_bp"))
      .orderBy(col("bucket"))
  }

  /** Equi-DEPTH binning — [[histogram]]'s quantile-space sibling and
    * the standard feature-bucketizer for heavy-tailed columns (equal
    * COUNTS per bucket instead of equal widths, so no bucket is
    * starved by the tail). NTILE over a TOTAL order (value + key
    * tie-breaks) — both engines define ntile identically (sizes
    * differ by ≤1, larger buckets first), so bucket boundaries are a
    * pure function of the data. Per-group sort is the exact-order-
    * statistic contract ([[trimmedStats]]); the GK-sketch cut-point
    * path stands in at 100 TB with this as its oracle. */
  def equidepth(spark: SparkSession, sf: String,
      buckets: Int = 10): DataFrame = {
    val cents = expr(
      "cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)")
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("v"), col("l_orderkey"), col("l_linenumber"))
    Tables.load(spark, sf, "lineitem")
      .select(col("l_returnflag"), cents.as("v"),
        col("l_orderkey"), col("l_linenumber"))
      .withColumn("bucket", ntile(buckets).over(w).cast("long"))
      .groupBy(col("l_returnflag"), col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("v")).as("lo_cents"), max(col("v")).as("hi_cents"))
      .orderBy(col("l_returnflag"), col("bucket"))
  }

  def profile(spark: SparkSession, sf: String): DataFrame = {
    val docs = Tables.load(spark, sf, "documents")
    val cols = docs.columns.toSeq
    val aggs = count(lit(1)).cast("long").as("n_rows") +: cols.flatMap(c => Seq(
      // count(1) - count(col): 0 (not the sum-aggregate's NULL) on an
      // empty relation — matching the oracle's COUNT(*) - COUNT(c)
      (count(lit(1)) - count(col(c))).cast("long").as(s"${c}__nulls"),
      countDistinct(col(c)).cast("long").as(s"${c}__distinct"),
      min(col(c)).cast("string").as(s"${c}__min"),
      max(col(c)).cast("string").as(s"${c}__max")))
    docs.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("column_name"),
        col("n_rows"),
        col(s"${c}__nulls").as("n_nulls"),
        col(s"${c}__distinct").as("n_distinct"),
        col(s"${c}__min").as("min_repr"),
        col(s"${c}__max").as("max_repr"))): _*)).as("p"))
      .select(col("p.*"))
      .orderBy(col("column_name"))
  }

  /** Referential-integrity audit — the data-quality gate a warehouse
    * runs before trusting joins at scale: for every foreign-key
    * relationship in the schema, count child rows, orphan rows (child
    * key with no parent), and distinct orphan keys. A single orphan
    * silently turns an inner join into a row-dropper, so this is the
    * canary that runs after every load.
    *
    * Shape: ONE left join + partial agg per relationship (a missed
    * parent hit is anti-join membership, so totals and orphan stats
    * come off the same pass); the FIXED-cardinality parents (nation/
    * region) broadcast by hint, the SF-scaling parents (supplier/
    * customer) by the planner's own statistics at fixture scale —
    * at 100 TB those audits shuffle on their keys instead of
    * OOMing the driver. The child-row total, orphan
    * count, and distinct-orphan-key count ride the same aggregation —
    * each child table is scanned exactly once.
    */
  /** One relationship's audit row — package-visible so the spec can
    * seed a DANGLING key and assert the orphan path actually fires
    * (the clean fixture and the oracle both expect zeros, which would
    * also pass if orphan detection silently broke). */
  private[graft] def auditRelationship(rel: String, child: DataFrame,
      key: String, parent: DataFrame, pkey: String,
      bcast: Boolean): DataFrame = {
    val p = parent.select(col(pkey)).withColumn("parent_hit", lit(1))
    // ONE pass over the child: totals and orphan stats come off the
    // same left join — `pkey` is the parent's primary key (unique),
    // so the join cannot multiply child rows and a missed hit IS
    // anti-join membership. The previous anti-join + separate
    // totals form scanned every child table twice; at 100 TB that
    // doubles the fact-table I/O of the whole audit.
    child.select(col(key))
      .join(if (bcast) broadcast(p) else p, col(key) === col(pkey), "left")
      .agg(count(lit(1)).as("child_rows"),
        count(when(col("parent_hit").isNull, 1)).as("orphan_rows"),
        countDistinct(when(col("parent_hit").isNull, col(key)))
          .as("distinct_orphan_keys"))
      .select(lit(rel).as("relationship"), col("child_rows"),
        col("orphan_rows"), col("distinct_orphan_keys"))
  }

  def fkAudit(spark: SparkSession, sf: String): DataFrame = {
    def audit(rel: String, child: DataFrame, key: String,
        parent: DataFrame, pkey: String, bcast: Boolean): DataFrame =
      auditRelationship(rel, child, key, parent, pkey, bcast)
    def t(n: String) = Tables.load(spark, sf, n)
    Seq(
      audit("lineitem.l_orderkey->orders", t("lineitem"), "l_orderkey",
        t("orders"), "o_orderkey", bcast = false),
      // supplier/customer SCALE with SF (multi-TB at the 100 TB
      // posture) — no forced hint; the planner broadcasts them at
      // fixture scale from its own statistics (the joinRevenueByRegion
      // rule). Only FIXED-cardinality nation/region keep the hint.
      audit("lineitem.l_suppkey->supplier", t("lineitem"), "l_suppkey",
        t("supplier"), "s_suppkey", bcast = false),
      audit("orders.o_custkey->customer", t("orders"), "o_custkey",
        t("customer"), "c_custkey", bcast = false),
      audit("customer.c_nationkey->nation", t("customer"), "c_nationkey",
        t("nation"), "n_nationkey", bcast = true),
      audit("supplier.s_nationkey->nation", t("supplier"), "s_nationkey",
        t("nation"), "n_nationkey", bcast = true),
      audit("nation.n_regionkey->region", t("nation"), "n_regionkey",
        t("region"), "r_regionkey", bcast = true))
      .reduce(_.unionAll(_))
      .orderBy(col("relationship"))
  }

  /** Bloom-pruned semi-join reduction — the runtime-filter pattern
    * made explicit: revenue over lineitems belonging to finished
    * urgent orders, where the fact stream is pre-filtered by a Bloom
    * filter of the (selective) build-side keys BEFORE the exact semi
    * join. The Bloom probe is a narrow per-row map over the scan, so
    * the semi join's shuffle carries only Bloom survivors
    * (true matches + ≤ fpp false positives) instead of the full fact
    * table — at 100 TB that's the difference between exchanging ~2%
    * of the stream and all of it. False positives cannot leak into
    * the result: the exact semi join runs behind the probe, making
    * the operator output-identical to the plain semi join (the
    * oracle's form, and RelationalSpec pins the equivalence).
    *
    * Mechanics: the build side aggregates into one
    * `BloomFilterAggregate` sketch (partial-agg'd, idempotent
    * inserts), materialized once and re-broadcast as a constant —
    * the same injected-runtime-filter shape Spark's
    * `spark.sql.optimizer.runtime.bloomFilter` plans, but available
    * unconditionally and sized from the actual key count. */
  def bloomSemiJoin(spark: SparkSession, sf: String,
      fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.Bridge
    val keys = Tables.load(spark, sf, "orders")
      .filter(col("o_orderstatus") === "F" &&
        col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val n = math.max(1L, keys.count())
    val nBits = math.max(64L,
      math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val bfAgg = Bridge.column(
      new BloomFilterAggregate(
        Bridge.expression(xxhash64(col("o_orderkey"))),
        Literal(n), Literal(nBits)).toAggregateExpression())
    val bf = keys.agg(bfAgg.as("bf")).head().getAs[Array[Byte]]("bf")
    val mightContain = Bridge.column(BloomFilterMightContain(
      Literal.create(bf, org.apache.spark.sql.types.BinaryType),
      Bridge.expression(xxhash64(col("l_orderkey")))))
    Tables.load(spark, sf, "lineitem")
      .filter(mightContain)
      .join(keys, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(dec(col("l_extendedprice"))).cast("double").as("revenue"))
      .orderBy(col("l_returnflag"))
  }

  /** This family's rows, each beside its DuckDB oracle. */
  val rows: Seq[QueryRow] = Seq(
    // --- scans / projections / filters (SURVEY §2.1, §2.2)
    QueryRow("q_project", project)(
      "SELECT l_orderkey, l_extendedprice FROM lineitem ORDER BY l_orderkey, l_extendedprice"),
    QueryRow("q_filter_in", filterIn)(
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
         l_returnflag, l_quantity
         FROM lineitem WHERE l_returnflag IN ('A','N') AND l_quantity > 30
         ORDER BY l_orderkey, l_linenumber, l_returnflag, l_quantity"""),
    // --- aggregations (SURVEY §2.6)
    QueryRow("q_agg_pricing", aggPricing)(
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
         COUNT(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),
    QueryRow("q_distinct", distinctSeg)(
      "SELECT DISTINCT c_mktsegment FROM customer ORDER BY c_mktsegment"),
    QueryRow("q_mode_agg", modeAgg)(
      """SELECT o_orderpriority, COUNT(*) AS n FROM orders
         GROUP BY o_orderpriority ORDER BY n DESC, o_orderpriority LIMIT 1"""),
    QueryRow("q_stats_agg", statsAgg)(
      """SELECT l_returnflag, MIN(l_quantity) AS min_qty,
         MAX(l_quantity) AS max_qty,
         COUNT(DISTINCT l_orderkey) AS n_orders, COUNT(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag
         ORDER BY l_returnflag"""),
    QueryRow("q_rollup", rollupAgg)(
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         COUNT(*) AS n
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""),
    QueryRow("q_cube", cubeAgg)(
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         COUNT(*) AS n
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""),
    QueryRow("q_percentiles", percentiles)(
      """SELECT l_returnflag,
         quantile_cont(l_quantity, 0.5) AS p50,
         quantile_cont(l_quantity, 0.25) AS p25,
         quantile_cont(l_quantity, 0.75) AS p75,
         quantile_cont(l_extendedprice, 0.9) AS price_p90
         FROM lineitem GROUP BY l_returnflag
         ORDER BY l_returnflag"""),
    // Trimmed/winsorized means: integer rank cut over cents, both
    // means as one fixed-shape IEEE expression over HUGEINT operands —
    // mirrors trimmedStats term for term
    QueryRow("q_trimmed_stats", trimmedStats(_, _))(
      s"""WITH r AS (
           SELECT l_returnflag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v
           FROM lineitem),
         rk AS (
           SELECT l_returnflag, v,
             row_number() OVER (PARTITION BY l_returnflag ORDER BY v) AS rk,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
           FROM r),
         k AS (SELECT * FROM rk
               WHERE rk > n * ${TrimPct} // 100
                 AND rk <= n - n * ${TrimPct} // 100)
         SELECT l_returnflag, CAST(MAX(n) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(CAST(v AS HUGEINT)) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) / 100.0 AS trimmed_mean,
           CAST(SUM(CAST(v AS HUGEINT))
                + ((MAX(n) - COUNT(*)) // 2) * CAST(MIN(v) AS HUGEINT)
                + ((MAX(n) - COUNT(*)) // 2) * CAST(MAX(v) AS HUGEINT)
              AS DOUBLE)
             / CAST(MAX(n) AS DOUBLE) / 100.0 AS winsorized_mean
         FROM k GROUP BY l_returnflag
         ORDER BY l_returnflag"""),
    // CDF normalization: RANK (ties share a percentile) over cents,
    // scaled to basis points by integer floor division
    QueryRow("q_cdf_norm", cdfNorm)(
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
           l_returnflag, v, (rk * 10000) // n AS cdf_bp
         FROM (
           SELECT l_orderkey, l_linenumber, l_returnflag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v,
             CAST(rank() OVER (PARTITION BY l_returnflag ORDER BY
               CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rk,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
           FROM lineitem)
         ORDER BY l_orderkey, l_linenumber, l_returnflag, v"""),
    // Equi-depth binning: NTILE over a total order — both engines
    // split n rows into k buckets of sizes differing by <=1, larger
    // first, so boundaries are a pure function of the data
    QueryRow("q_equidepth", equidepth(_, _))(
      """WITH r AS (
           SELECT l_returnflag,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
             l_orderkey, l_linenumber
           FROM lineitem),
         b AS (
           SELECT l_returnflag, v,
             CAST(ntile(10) OVER (PARTITION BY l_returnflag
               ORDER BY v, l_orderkey, l_linenumber) AS BIGINT) AS bucket
           FROM r)
         SELECT l_returnflag, bucket, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(v) AS lo_cents, MAX(v) AS hi_cents
         FROM b GROUP BY 1, 2
         ORDER BY l_returnflag, bucket"""),
    QueryRow("q_grouping_sets", groupingSetsAgg)(
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         COUNT(*) AS n
         FROM lineitem
         GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""),
    // Same integer-exact co-moment construction as the Scala side
    // (DECIMAL(38,0) there, HUGEINT here — both exact), then ONE
    // fixed-shape IEEE expression per output: bit-identical doubles.
    QueryRow("q_regression", regressionAgg)(
      """WITH m AS (
           SELECT l_returnflag,
             CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(CAST(ROUND(l_quantity * 100) AS HUGEINT)) AS sx,
             SUM(CAST(ROUND(l_extendedprice * 100) AS HUGEINT)) AS sy,
             SUM(CAST(ROUND(l_quantity * 100) AS HUGEINT) *
                 CAST(ROUND(l_extendedprice * 100) AS HUGEINT)) AS sxy,
             SUM(CAST(ROUND(l_quantity * 100) AS HUGEINT) *
                 CAST(ROUND(l_quantity * 100) AS HUGEINT)) AS sxx,
             SUM(CAST(ROUND(l_extendedprice * 100) AS HUGEINT) *
                 CAST(ROUND(l_extendedprice * 100) AS HUGEINT)) AS syy
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
             AS slope,
           (CAST(sy AS DOUBLE) -
              (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))
                * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS intercept,
           (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)) *
             (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*syy - sy*sy AS DOUBLE))
             AS r2,
           CAST(n*sxy - sx*sy AS DOUBLE) /
             (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) *
              sqrt(CAST(n*syy - sy*sy AS DOUBLE))) AS corr_xy
         FROM m ORDER BY l_returnflag"""),
    // GK-sketch verdict row: Spark verifies percentile_approx's rank
    // guarantee (error ≤ n/10000) against the group's own cumulative
    // rank windows; the oracle recomputes n and tol and pins every
    // flag to 1 — a sketch past its contract goes red here
    QueryRow("q_approx_percentiles", approxPercentiles)(
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(*) // 10000 + 1 AS BIGINT) AS tol,
         CAST(1 AS BIGINT) AS p25_ok, CAST(1 AS BIGINT) AS p50_ok,
         CAST(1 AS BIGINT) AS p75_ok, CAST(1 AS BIGINT) AS price_p90_ok
         FROM lineitem GROUP BY 1 ORDER BY 1"""),
    QueryRow("q_monthly_orders", monthlyOrders)(
      """SELECT date_trunc('month', o_orderdate) AS month,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM orders GROUP BY 1
         ORDER BY month"""),
    // --- joins (SURVEY §2.5)
    QueryRow("q_join_region", joinRevenueByRegion)(
      """SELECT r_name,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
         COUNT(*) AS n_lines
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name
         ORDER BY r_name"""),
    QueryRow("q_semi_join", semiJoin)(
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 100000)
         ORDER BY c_custkey"""),
    QueryRow("q_anti_join", antiJoin)(
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey"""),
    QueryRow("q_above_avg", aboveAvgOrders)(
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) >
           (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM orders)
         ORDER BY o_orderkey"""),
    QueryRow("q_salted_join", saltedRevenuePerOrder(_, _))(
      """SELECT l_orderkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY l_orderkey
         ORDER BY l_orderkey"""),
    // exact mode: the k-th-order-statistic quantiles the DuckDB oracle
    // states; the library default is the approx_percentile scale path
    // Key-skew diagnostic: discrete (k-th order statistic) quantiles,
    // k = ceil(q*n) with (size, key) tie-break — identical integer
    // definition on both engines, no interpolation
    QueryRow("q_skew_profile", skewProfile(_, _, exact = true))(
      """WITH s AS (SELECT l_orderkey, count(*) AS n
             FROM lineitem GROUP BY l_orderkey),
         t AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(n) AS BIGINT) AS n_rows,
             CAST(max(n) AS BIGINT) AS max_rows FROM s),
         r AS (SELECT n, row_number() OVER (ORDER BY n, l_orderkey) AS rk
             FROM s),
         q AS (SELECT
             CAST(max(CASE WHEN rk = CAST(ceil(t.n_keys * 0.5) AS BIGINT)
               THEN n END) AS BIGINT) AS p50_rows,
             CAST(max(CASE WHEN rk = CAST(ceil(t.n_keys * 0.9) AS BIGINT)
               THEN n END) AS BIGINT) AS p90_rows,
             CAST(max(CASE WHEN rk = CAST(ceil(t.n_keys * 0.99) AS BIGINT)
               THEN n END) AS BIGINT) AS p99_rows
           FROM r, t)
         SELECT 'l_orderkey' AS key_col, n_keys, n_rows, max_rows,
           CAST(max_rows * 10000 // n_rows AS BIGINT) AS top_share_bp,
           p50_rows, p90_rows, p99_rows
         FROM t, q"""),
    // Fixed-width histogram in integer cents; bucket and bound maps
    // are exact floor/ceil division — no width_bucket edge drift
    QueryRow("q_histogram", histogram(_, _))(
      """WITH r AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2))
             * 100 AS BIGINT) AS v FROM lineitem),
         e AS (SELECT min(v) AS mn, max(v) AS mx,
             CAST(count(*) AS BIGINT) AS n_total FROM r),
         b AS (SELECT ((v - mn) * 20) // (mx - mn + 1) AS bucket,
             mn, mx, n_total FROM r, e)
         SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(mn + (bucket * (mx - mn + 1) + 19) // 20 AS BIGINT)
             AS lo_cents,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) * 10000 // n_total AS BIGINT) AS share_bp
         FROM b GROUP BY bucket, mn, mx, n_total
         ORDER BY bucket"""),
    // --- set ops / sort / limit (SURVEY §2.5)
    QueryRow("q_union_order", unionOrder)(
      """SELECT name, kind FROM (
           SELECT c_name AS name, 'CUSTOMER' AS kind FROM customer
           UNION ALL
           SELECT s_name AS name, 'SUPPLIER' AS kind FROM supplier)
         WHERE name IS NOT NULL
         ORDER BY kind, name"""),
    QueryRow("q_intersect", intersectNations)(
      """SELECT c_nationkey AS nationkey FROM customer
         INTERSECT
         SELECT s_nationkey AS nationkey FROM supplier
         ORDER BY nationkey"""),
    QueryRow("q_except", exceptNations)(
      """SELECT c_nationkey AS nationkey FROM customer
         EXCEPT
         SELECT s_nationkey AS nationkey FROM supplier
         ORDER BY nationkey"""),
    QueryRow("q_topk", topK)(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""),
    // --- windows (SURVEY §2.7)
    QueryRow("q_window_rank", windowRank)(
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rk AS BIGINT) AS rk
         FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS rk
               FROM orders) WHERE rk <= 3
         ORDER BY o_custkey, rk"""),
    QueryRow("q_pct_share", pctShare)(
      """SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) /
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                OVER (PARTITION BY l_orderkey) AS DOUBLE) AS price_share
         FROM lineitem
         ORDER BY l_orderkey, l_linenumber, price_share"""),
    QueryRow("q_running_sum", runningSum)(
      """SELECT l_suppkey, l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
              OVER (PARTITION BY l_suppkey
                    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
                    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_qty
         FROM lineitem
         ORDER BY l_suppkey, running_qty, l_orderkey, l_linenumber"""),
    QueryRow("q_order_gaps", orderGaps)(
      """SELECT o_custkey, o_orderkey,
         CAST(date_diff('day',
           CAST(LAG(o_orderdate) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey) AS DATE),
           CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_prev
         FROM orders ORDER BY o_custkey, o_orderkey"""),
    QueryRow("q_window_frames", windowFrames)(
      """SELECT l_returnflag, l_orderkey,
         CAST(l_linenumber AS BIGINT) AS l_linenumber,
         CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
         FIRST_VALUE(l_extendedprice) OVER wf AS flag_min_price,
         LAST_VALUE(l_extendedprice) OVER wf AS flag_max_price
         FROM lineitem
         WINDOW w AS (PARTITION BY l_returnflag
             ORDER BY l_extendedprice, l_orderkey, l_linenumber),
           wf AS (PARTITION BY l_returnflag
             ORDER BY l_extendedprice, l_orderkey, l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY l_returnflag, l_orderkey, l_linenumber, quartile"""),
    QueryRow("q_string_ops", stringOps)(
      """SELECT c_custkey, upper(c_name) AS upper_name,
         lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded_key,
         substring(c_name, 1, 8) AS prefix8,
         CAST(levenshtein(c_mktsegment, 'BUILDING') AS BIGINT) AS seg_dist,
         reverse(c_mktsegment) AS seg_rev,
         CAST(instr(c_name, '#') AS BIGINT) AS hash_pos
         FROM customer
         ORDER BY c_custkey"""),
    QueryRow("q_conditional_agg", conditionalAgg)(
      """SELECT o_orderpriority, COUNT(*) AS n,
         CAST(count_if(o_orderstatus = 'F') AS BIGINT) AS n_finished,
         CAST(SUM(CASE WHEN o_totalprice > 100000
           THEN CAST(o_totalprice AS DECIMAL(18,2))
           ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS big_order_revenue
         FROM orders GROUP BY o_orderpriority
         ORDER BY o_orderpriority"""),
    QueryRow("q_correlated_subquery", correlatedSubquery)(
      """SELECT c_custkey, c_name,
         (SELECT MAX(o_totalprice) FROM orders
          WHERE o_custkey = c_custkey) AS max_order
         FROM customer
         ORDER BY c_custkey"""),
    // --- generators
    QueryRow("q_explode_words", explodeWords)(
      """SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ws[i] AS word
         FROM (SELECT doc_id, string_split(text, ' ') AS ws
               FROM documents WHERE doc_id < 10) t,
              LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) g
         ORDER BY doc_id, pos"""),
    QueryRow("q_pivot", pivotStatus)(
      """SELECT o_orderpriority,
         CAST(count_if(o_orderstatus = 'F') AS BIGINT) AS n_f,
         CAST(count_if(o_orderstatus = 'O') AS BIGINT) AS n_o,
         CAST(count_if(o_orderstatus = 'P') AS BIGINT) AS n_p
         FROM orders GROUP BY o_orderpriority
         ORDER BY o_orderpriority"""),
    // HLL++ verdict row: exact distincts recomputed by the oracle,
    // within-5% flags (≥5σ at rsd 0.01) pinned to 1
    QueryRow("q_approx_distinct", approxDistinct)(
      """SELECT l_returnflag,
         CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
         CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
         CAST(1 AS BIGINT) AS orders_within_5pct,
         CAST(1 AS BIGINT) AS parts_within_5pct
         FROM lineitem GROUP BY 1 ORDER BY 1"""),
    QueryRow("q_profile", profile)(
      """SELECT 'doc_id' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(*) - COUNT(doc_id) AS BIGINT) AS n_nulls,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct,
         CAST(MIN(doc_id) AS VARCHAR) AS min_repr,
         CAST(MAX(doc_id) AS VARCHAR) AS max_repr FROM documents
         UNION ALL
         SELECT 'lang', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) - COUNT(lang) AS BIGINT),
         CAST(COUNT(DISTINCT lang) AS BIGINT),
         CAST(MIN(lang) AS VARCHAR), CAST(MAX(lang) AS VARCHAR) FROM documents
         UNION ALL
         SELECT 'n_chars', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) - COUNT(n_chars) AS BIGINT),
         CAST(COUNT(DISTINCT n_chars) AS BIGINT),
         CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR) FROM documents
         UNION ALL
         SELECT 'source', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) - COUNT(source) AS BIGINT),
         CAST(COUNT(DISTINCT source) AS BIGINT),
         CAST(MIN(source) AS VARCHAR), CAST(MAX(source) AS VARCHAR) FROM documents
         UNION ALL
         SELECT 'text', CAST(COUNT(*) AS BIGINT),
         CAST(COUNT(*) - COUNT(text) AS BIGINT),
         CAST(COUNT(DISTINCT text) AS BIGINT),
         CAST(MIN(text) AS VARCHAR), CAST(MAX(text) AS VARCHAR) FROM documents
         ORDER BY column_name"""),
    QueryRow("q_fk_audit", fkAudit)(
      """SELECT * FROM (
         SELECT 'lineitem.l_orderkey->orders' AS relationship,
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS child_rows,
           CAST(count(*) AS BIGINT) AS orphan_rows,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS distinct_orphan_keys
         FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
         UNION ALL
         SELECT 'lineitem.l_suppkey->supplier',
           (SELECT count(*) FROM lineitem), count(*), count(DISTINCT l_suppkey)
         FROM lineitem WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier)
         UNION ALL
         SELECT 'orders.o_custkey->customer',
           (SELECT count(*) FROM orders), count(*), count(DISTINCT o_custkey)
         FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
         UNION ALL
         SELECT 'customer.c_nationkey->nation',
           (SELECT count(*) FROM customer), count(*), count(DISTINCT c_nationkey)
         FROM customer WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation)
         UNION ALL
         SELECT 'supplier.s_nationkey->nation',
           (SELECT count(*) FROM supplier), count(*), count(DISTINCT s_nationkey)
         FROM supplier WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation)
         UNION ALL
         SELECT 'nation.n_regionkey->region',
           (SELECT count(*) FROM nation), count(*), count(DISTINCT n_regionkey)
         FROM nation WHERE n_regionkey NOT IN (SELECT r_regionkey FROM region))
         ORDER BY relationship"""),
    QueryRow("q_bloom_join", bloomSemiJoin(_, _))(
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_items,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM lineitem
         WHERE l_orderkey IN (
           SELECT o_orderkey FROM orders
           WHERE o_orderstatus = 'F' AND o_orderpriority = '1-URGENT')
         GROUP BY l_returnflag ORDER BY l_returnflag"""),
    // Fuzzy join: both engines implement classic unit-cost edit
    // distance, so the residual predicate agrees exactly; the oracle
    // runs the naive theta join the Spark side's banding avoids
    QueryRow("q_fuzzy_join", fuzzyJoin(_, _))(
      """WITH n AS (SELECT DISTINCT p_name AS name FROM part)
         SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
         FROM n a JOIN n b ON a.name < b.name
         WHERE levenshtein(a.name, b.name) <= 2
         ORDER BY name_a, name_b""")
  )
}
