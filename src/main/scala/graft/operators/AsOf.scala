package graft.operators

import graft.QueryRow
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** As-of (temporal) join — an operator Spark lacks natively.
  *
  * Implementation is the scalable union+window form rather than a
  * range join: tag both streams, union them, and carry the reference
  * stream's values forward with `last_value(ignoreNulls)` over a
  * per-key window ordered by time. ONE shuffle on the join key, no
  * per-pair range probing — the plan that survives 100 TB (a range
  * join explodes on key×time-bucket cardinality; this is linear).
  */
object AsOf {

  /** Generic as-of join: for each left row, attach the most recent
    * right row (same `key`, right.ts <= left.ts). `rightCols` are the
    * value columns to carry; emitted with the given aliases.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
      rightCols: Map[String, String]): DataFrame = {
    val l = left
      .withColumn("_is_right", lit(0))
      .withColumns(rightCols.map { case (c, alias) =>
        alias -> lit(null).cast(right.schema(c).dataType) })
    val r = right
      .withColumn("_is_right", lit(1))
      .withColumns(rightCols.map { case (c, alias) => alias -> col(c) })
    val leftCols = l.columns.toSeq
    val unioned = l.select(leftCols.map(col): _*)
      .unionByName(r.select(
        (Seq(key, ts, "_is_right") ++ rightCols.values).map(col): _*),
        allowMissingColumns = true)
    // rights sort before lefts at equal ts ⇒ inclusive `right.ts <=
    // left.ts` semantics (DuckDB ASOF `a.ts >= b.ts`)
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts), col("_is_right").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = rightCols.values.foldLeft(unioned) { (df, alias) =>
      df.withColumn(alias, last(col(alias), ignoreNulls = true).over(w))
    }
    carried.filter(col("_is_right") === 0).drop("_is_right")
  }

  /** For every non-signup event, the user's most recent signup-stream
    * event at or before it — session attribution, the canonical as-of
    * use. */
  def eventAttribution(spark: SparkSession, sf: String): DataFrame = {
    val e = Events.load(spark, sf)
    val rights = e.filter(col("event_type") === "signup")
      .groupBy(col("user_id"), col("ts"))
      .agg(max_by(col("value"), col("event_id")).as("ref_value"),
        max(col("event_id")).as("ref_event_id"))
    val lefts = e.filter(col("event_type") =!= "signup")
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("value"))
    asofJoin(lefts, rights.withColumnRenamed("ts", "r_ts")
        .withColumn("ts", col("r_ts")),
      key = "user_id", ts = "ts",
      rightCols = Map("r_ts" -> "ref_ts", "ref_value" -> "ref_value",
        "ref_event_id" -> "ref_event_id"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ref_event_id"), col("ref_ts"), col("ref_value"))
      .orderBy(col("event_id"))
  }

  /** This family's rows, each beside its DuckDB oracle. */
  val rows: Seq[QueryRow] = Seq(
    QueryRow("q_asof_join", eventAttribution)(
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
                     event_type, value FROM events),
         rights AS (SELECT user_id, ts, arg_max(value, event_id) AS ref_value,
                      MAX(event_id) AS ref_event_id
                    FROM e WHERE event_type = 'signup' GROUP BY 1, 2),
         lefts AS (SELECT * FROM e WHERE event_type <> 'signup')
         SELECT l.event_id, l.user_id, l.event_type,
           r.ref_event_id, r.ts AS ref_ts, r.ref_value
         FROM lefts l ASOF LEFT JOIN rights r
           ON l.user_id = r.user_id AND l.ts >= r.ts
         ORDER BY event_id""")
  )
}
