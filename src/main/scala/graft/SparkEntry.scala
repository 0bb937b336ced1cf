package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.operators._
import graft.streaming.{DocStream, EmbedStream, EventStream, LinkStream}

/** The query inventory — see SURVEY.md §7.
  *
  * Every row is one [[QueryRow]] declared in the `rows` member of the
  * object that implements it: the Spark implementation beside the
  * DuckDB oracle SQL that must return the same rows over the same
  * parquet tables. Every row has an oracle, including the data-
  * dependent ones (the BPE, k-means and fixpoint trainers are replayed
  * by unrolled recursive or iterated CTEs beside their operators).
  * This object only lists the families and derives the two views,
  * `queries` and `oracleSql`, from that one list.
  *
  * Cross-engine determinism rules used throughout the operators package:
  *  - double measures go through fixed-scale decimal sums, one final
  *    cast to double (order-independent, bit-identical);
  *  - divisions happen on doubles, never on decimals (scale rules
  *    differ between engines);
  *  - integer outputs are always BIGINT/long on both sides;
  *  - top-k always tie-breaks on a unique key.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.aggPricing(spark, "/root/testdata/sf0.001")

  /** Every row family, keyed by the name it is reported under. */
  lazy val families: Seq[(String, Seq[QueryRow])] = Seq(
    "relational" -> Relational.rows,
    "bucketing" -> Bucketing.rows,
    "partition_pruning" -> PartitionPruning.rows,
    "range_join" -> RangeJoin.rows,
    "zorder" -> ZOrder.rows,
    "events" -> Events.rows,
    "scalar" -> Scalar.rows,
    "asof" -> AsOf.rows,
    "text" -> Text.rows,
    "corpus" -> Corpus.rows,
    "dedup" -> Dedup.rows,
    "similarity" -> Similarity.rows,
    "graph" -> Graph.rows,
    "linkage" -> Linkage.rows,
    "feature_hash" -> FeatureHash.rows,
    "multimodal" -> Multimodal.rows,
    "job" -> JobQueries.rows,
    "event_stream" -> EventStream.rows,
    "doc_stream" -> DocStream.rows,
    "link_stream" -> LinkStream.rows,
    "embed_stream" -> EmbedStream.rows)

  /** name → row; a family key or row name declared twice fails
    * construction instead of one declaration replacing another. */
  private[graft] def index(families: Seq[(String, Seq[QueryRow])]): Map[String, QueryRow] = {
    def twice(names: Seq[String]) = names.diff(names.distinct).distinct.sorted
    val dupFamilies = twice(families.map(_._1))
    require(dupFamilies.isEmpty, s"row families declared twice: ${dupFamilies.mkString(", ")}")
    val rows = families.flatMap(_._2)
    val dupRows = twice(rows.map(_.name))
    require(dupRows.isEmpty, s"rows declared twice: ${dupRows.mkString(", ")}")
    rows.map(r => r.name -> r).toMap
  }

  private lazy val registry = index(families)

  private lazy val runs = registry.map { case (name, r) => name -> r.run }

  /** The Spark implementation of every row. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = runs

  /** For each key in queries, the equivalent SQL DuckDB runs on the same
    * parquet tables (rendered on every read). */
  def oracleSql: Map[String, String] =
    registry.map { case (name, r) => name -> r.oracleSql }
}
