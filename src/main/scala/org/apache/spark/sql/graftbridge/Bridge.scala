package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Catalyst Expression bridge. Spark 4 made `Column`
  * implementation-agnostic and the converters `private[sql]`; living
  * under the org.apache.spark.sql package tree is the standard way
  * third-party Catalyst expressions obtain Column wrappers.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Free a persisted RDD's blocks the way the ContextCleaner does:
    * `RDD.unpersist` logs a warning for every locally checkpointed RDD. */
  def unpersistRdd(sc: org.apache.spark.SparkContext, id: Int): Unit =
    sc.unpersistRDD(id, blocking = false)
}
