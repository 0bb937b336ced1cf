package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.Bridge

/** SQL-surface registration for the engine's custom Catalyst
  * expressions, in both forms Spark supports, read from one table:
  *
  *  - `GraftExtensions` for `spark.sql.extensions=` /
  *    `.withExtensions(...)` at session build time;
  *  - `registerAll(spark)` for an existing session
  *    (createOrReplaceTempFunction).
  *
  * After registration, `SELECT dot_long(a, b)`, `simhash_sig(h)`,
  * `shingles(ws, 3)` work from plain SQL. Literal parameters (`k`,
  * `scale`) are read once, when the call is built; a column there is an
  * error.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, usage, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
          "", "", "", "", "", "", "scala_udf"), build))
    }
}

object GraftExtensions {
  private type Builder = Seq[Expression] => Expression

  private def columns(f: Seq[Column] => Column): Builder =
    es => Bridge.expression(f(es.map(Bridge.column)))

  /** The value of literal parameter `what` of `fn`. */
  private def literal(fn: String, what: String, c: Column): Any = {
    val e = Bridge.expression(c)
    Option.when(e.foldable)(e.eval()).flatMap(Option(_)).getOrElse(
      throw new IllegalArgumentException(
        s"$fn $what must be a non-null literal, got ${e.sql}"))
  }

  private def intLiteral(fn: String, what: String, c: Column): Int =
    literal(fn, what, c) match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(
        s"$fn $what must be an integer literal, got $other")
    }

  /** (name, usage, builder) of every registered function. */
  private val functions: Seq[(String, String, Builder)] = Seq(
    ("dot_long", "dot_long(a, b) - integer dot product",
      columns(c => ArrayOps.dot_long(c(0), c(1)))),
    ("agree_count", "agree_count(a, b) - count of agreeing slots",
      columns(c => ArrayOps.agree_count(c(0), c(1)))),
    ("simhash_sig", "simhash_sig(hashes) - 64-bit simhash",
      columns(c => ArrayOps.simhash_sig(c(0)))),
    ("shingles", "shingles(words, k) - distinct k-word shingles",
      columns(c => ArrayOps.shingles(c(0), intLiteral("shingles", "k", c(1))))),
    ("quantize_q", "quantize_q(xs, scale) - floor(x*scale) as bigints",
      columns(c => ArrayOps.quantize_q(c(0),
        literal("quantize_q", "scale", c(1)).toString.toDouble))),
    ("sq_wdot", "sq_wdot(w, packed) - weighted dot over packed SQ8 codes",
      columns(c => ArrayOps.sq_wdot(c(0), c(1)))))

  /** Register on a live session (temp functions). */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functions.foreach { case (name, _, build) =>
      reg.createOrReplaceTempFunction(name, build, "scala_udf")
    }
  }
}
