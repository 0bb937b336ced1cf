package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Linkage}

/** q_entity_resolution's STREAMING twin — incremental record linkage
  * at ingest: the clean registry lands as delivery 0, a second
  * system's dirty feed as delivery 1 (the multi-dump import scenario
  * the batch operator's doc describes), and each micro-batch links
  * INCREMENTALLY — within itself, and against the accumulated record
  * index — inside foreachBatch. Matched edges append to an edge
  * store; the final cluster assignment runs once over (all records,
  * all edges) through the SAME `Linkage.resolve` / `clustersFrom`
  * path as the batch twin, so the output and DuckDB oracle are
  * shared row-for-row.
  *
  * Edge completeness under incremental blocking: a pair (x, y) with
  * x delivered no later than y is emitted exactly when y's batch
  * probes — within-batch if they co-arrive, batch-vs-index otherwise
  * — so the union over batches equals the batch twin's one-shot pair
  * set, and connected components is edge-order-insensitive. This is
  * the linkage analog of [[DocStream.nearDupViaStream]]'s grow-only
  * index: per-delivery cost is (batch × index) through one blocking
  * equality join, never a corpus re-scan.
  *
  * The terminal CC pass is deliberately OUTSIDE the stream: cluster
  * ids are global minima, so any per-batch assignment could be
  * invalidated by a later merge (A~B arriving after B was labeled).
  * A production variant that must serve ids mid-stream re-labels
  * affected components per batch from the same edge store — the
  * index/edge mechanics here are exactly that design's state.
  */
object LinkStream {

  private val RecordSchema = StructType(Seq(
    StructField("entity_id", LongType),
    StructField("name", StringType),
    StructField("nat", LongType),
    StructField("bal", LongType),
    StructField("kind", StringType)))

  private val EdgeSchema = StructType(Seq(
    StructField("doc_a", LongType), StructField("doc_b", LongType)))

  /** `restart = true` replays with a restart
    * ([[DeliveryHarness.replay]]'s `restartAfter`): the query STOPS
    * after the registry delivery and a fresh incarnation recovers the
    * dirty feed from the checkpoint — the output must be bit-identical
    * (spec-pinned), proving the linkage state (record index + edge
    * store) lives entirely in storage, not in query memory. */
  def entityResolutionViaStream(spark: SparkSession, sf: String,
      restart: Boolean = false, compactIndex: Boolean = false): DataFrame = {
    val (indexDir, edgeDir) = runStream(spark, sf, restart, compactIndex)
    resolveFrom(spark, indexDir, edgeDir)
  }

  /** Run the two-delivery linkage stream and return its storage-
    * resident state dirs `(indexDir, edgeDir)` — package-visible so
    * the compaction receipt (StreamingSpec) can measure and rewrite
    * the state between stream end and terminal resolution.
    *
    * `compactIndex = true` runs the [[StreamState.compactState]]
    * maintenance pass LIVE at the start of each foreachBatch body —
    * so every post-bootstrap probe reads a store that has already
    * been rewritten at least once. The rewrite carries the stored
    * `batch_id` column, so the strictly-earlier probe filter still
    * sees the compacted rows (spec-pinned). */
  private[graft] def runStream(spark: SparkSession, sf: String,
      restart: Boolean = false, compactIndex: Boolean = false): (String, String) = {
    val root = graft.TempDirs.create("graft-linkstream")
    val indexDir = s"$root/index"
    val edgeDir = s"$root/edges"
    val recs = Linkage.records(spark, sf)
    DeliveryHarness.replay(spark, root,
      Seq(recs.filter(col("kind") === "orig"),
        recs.filter(col("kind") =!= "orig")),
      restartAfter = if (restart) Some(1) else None) { (batch, batchId) =>
      // the maintenance pass runs BEFORE this batch's own writes and
      // EXCLUDES its own subtrees — a retried delivery's overwrite
      // stays idempotent (see compactState's doc)
      if (compactIndex)
        Seq(indexDir -> RecordSchema, edgeDir -> EdgeSchema)
          .foreach { case (dir, schema) =>
            StreamState.compactState(spark, dir, schema,
              ownBatch = Some(batchId))
          }
      // the batch frame feeds three joins below — pin it or the
      // landing file re-reads per consumer
      val b = batch.persist()
      // RETRY IDEMPOTENCE: a micro-batch retried after its own index
      // subdir landed would otherwise probe an index already holding
      // its own records — the edge set survives that (distinct + the
      // within-batch arm already emits those pairs), but the skew
      // census would double-count the batch's block members and could
      // purge blocks the first attempt kept
      val idx = StreamState.before(spark, indexDir, RecordSchema, batchId)
      // the skew guard's census must cover the full ACCUMULATED
      // record set, not the slice each call happens to hold —
      // otherwise a capped run would purge different blocks than
      // the batch twin (a delivery's two records look innocent
      // even when their block is giant)
      val accumulated = Some(b.unionByName(idx))
      StreamState.append(edgeDir, Linkage.matchedPairs(b, b, accumulated)
        .unionByName(Linkage.matchedPairs(b, idx, accumulated)), batchId)
      StreamState.append(indexDir, b, batchId)
      b.unpersist()
    }
    (indexDir, edgeDir)
  }

  /** Terminal cluster assembly over the accumulated state dirs. */
  private[graft] def resolveFrom(spark: SparkSession, indexDir: String,
      edgeDir: String): DataFrame = {
    val allRecs = StreamState.read(spark, indexDir, RecordSchema)
    val allEdges = StreamState.read(spark, edgeDir, EdgeSchema)
    // terminal cap gate: a block can outgrow the cap after earlier
    // deliveries already emitted its edges — the final census decides
    Linkage.resolve(allRecs, Linkage.enforceBlockCap(allRecs, allEdges))
  }

  /** Compaction for both linkage stores — the machinery lives in
    * [[StreamState.compactState]] (shared with [[DocStream]]'s band
    * and fingerprint indexes), which keeps the stored `batch_id`
    * column through the rewrite. */
  private[graft] def compactLinkageState(spark: SparkSession,
      indexDir: String, edgeDir: String,
      targetFileBytes: Long = 128L << 20): ((Int, Int), (Int, Int)) =
    (StreamState.compactState(spark, indexDir, RecordSchema,
        targetFileBytes),
      StreamState.compactState(spark, edgeDir, EdgeSchema, targetFileBytes))
}
