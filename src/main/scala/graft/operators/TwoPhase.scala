package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The operator layer's one global rank / running-sum construction.
  * A bare `Window.orderBy` over a corpus-sized frame runs on one task;
  * every corpus-wide rank and prefix sum (shard layout, epoch shuffle,
  * token budgets, k-fold, LM gates, curate v3, the AllPairs /
  * containment feature dictionaries, exact skew profile, NB
  * reliability) goes through [[prefix]] instead. docs/SCALING.md
  * ("Global ranks and prefix sums") is the long form.
  */
object TwoPhase {

  private val Total = "__two_phase_total"
  private val Offset = "__two_phase_offset"

  /** `df` plus `out`: the inclusive running sum of `weight` in `order`
    * within each `by` group. A rank is `weight = lit(1L)`; an
    * exclusive sum is `out − weight`.
    *
    * Two phases:
    *  1. totals per (`by`, `bucket`), and their exclusive running sum
    *     in (`by`, `bucket`) order — the offsets table;
    *  2. the offsets broadcast-joined back on `by ++ bucket`, plus a
    *     `sum(weight)` window partitioned by `by ++ bucket` (in that
    *     order), ROWS UNBOUNDED PRECEDING — no task ever holds more
    *     than one bucket.
    *
    * The offsets table holds one row per distinct (`by`, `bucket`) —
    * at most |by groups| × buckets for range or hash buckets — and is
    * scanned on ONE partition on purpose: `repartition(1)` shuffles
    * only the aggregated totals there. Not `coalesce(1)`: without a
    * shuffle it pulls the upstream aggregation stage onto one task.
    * Not a driver collect: the frame stays lazy (building it runs no
    * Spark job), and the offsets side keeps sharing the exchange that
    * feeds the rows.
    *
    * Preconditions — the caller's bucket expression carries them:
    *  - `bucket` is non-decreasing along `order` within `by` (buckets
    *    are contiguous ranges of the order);
    *  - `order` is a total order within `by` (ties broken by an id),
    *    or the result is not deterministic;
    *  - `weight` is a non-null integral column.
    */
  def prefix(df: DataFrame, by: Seq[String], bucket: Seq[String],
      order: Seq[Column], weight: Column, out: String): DataFrame = {
    val keys = (by ++ bucket).map(col)
    val w = weight.cast(LongType)
    val totals = df.groupBy(keys: _*).agg(sum(w).as(Total))
    val nBy = by.length
    val nKeys = keys.length
    val offsets = totals.repartition(1).sortWithinPartitions(keys: _*)
      .mapPartitions { rows =>
        var group: Seq[Any] = null
        var acc = 0L
        rows.map { r =>
          val g = (0 until nBy).map(r.get)
          if (g != group) { group = g; acc = 0L }
          val offset = acc
          acc += r.getLong(nKeys)
          Row.fromSeq((0 until nKeys).map(r.get) :+ offset)
        }
      }(Encoders.row(StructType(totals.schema.fields.init :+
        StructField(Offset, LongType, nullable = false))))
      // a no-op on this already-unique, one-partition table (no
      // exchange): it restates that the offsets are unique on the keys,
      // which the MapPartitions hides from the optimizer — without it
      // the join below is sized |rows| × |offsets| and downstream joins
      // lose their broadcast plans
      .groupBy(keys: _*).agg(max(col(Offset)).as(Offset))
    val inBucket = Window.partitionBy(keys: _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.join(broadcast(offsets), by ++ bucket)
      .withColumn(out, col(Offset) + sum(w).over(inBucket))
      .select(df.columns.toSeq.map(c => col(s"`$c`")) :+ col(out): _*)
  }
}
