package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One row of the query inventory: its name, its Spark implementation
  * over a scale-factor directory, and the DuckDB SQL that must return
  * the same rows over the same parquet tables. The oracle is held
  * unevaluated, so building the registry (and reading
  * `SparkEntry.queries`) renders no SQL; it is rendered each time
  * `oracleSql` is read.
  *
  * Every operator object declares its rows once, beside the code they
  * run: {{{ QueryRow("q_project", project)("SELECT …") }}} */
final class QueryRow private (
    val name: String,
    val run: (SparkSession, String) => DataFrame,
    oracle: () => String) {
  def oracleSql: String = oracle()
}

object QueryRow {
  def apply(name: String, run: (SparkSession, String) => DataFrame)(
      oracle: => String): QueryRow = new QueryRow(name, run, () => oracle)
}

/** DuckDB dialect fragments shared by several row families' oracles. */
object DuckSql {

  /** Text normalization identical to Text.normalized (DuckDB needs the
    * 'g' flag to replace all). */
  val Norm = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"

  /** Exact squared-L2 ranking term c·c − 2 v·c over `dim` BIGINT list
    * components (the v·v term is per-vector constant, dropped — the
    * same argmin the engine's nearestCellsQ computes). */
  def d2Sql(vec: String, cent: String, dim: Int): String =
    s"""list_sum(list_transform(generate_series(1, $dim), j -> $cent[j] * $cent[j]))
               - 2 * list_sum(list_transform(generate_series(1, $dim), j -> $vec[j] * $cent[j]))"""

  /** Java floorDiv in DuckDB (whose `//` truncates): subtract the
    * positive remainder first, then divide exactly. */
  def floorDivSql(s: String, n: String): String =
    s"($s - ((($s % $n) + $n) % $n)) // $n"

  /** Plain-decimal SQL literal for a shared Double constant —
    * `toString` would render 67108864.0 as "6.7108864E7"; BigDecimal
    * of the decimal string keeps 0.7 as "0.7" (not the exact binary
    * expansion). One formatting path for every oracle that
    * interpolates an engine-side constant. */
  def dlit(x: Double): String = {
    val s = BigDecimal(x.toString).bigDecimal.stripTrailingZeros.toPlainString
    if (s.contains('.')) s else s + ".0"
  }
}
