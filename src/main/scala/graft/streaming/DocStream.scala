package graft.streaming

import graft.{QueryRow, Tables}
import graft.operators.{Corpus, Dedup, Text, TwoPhase}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Structured Streaming surface over the `documents` table: continuous
  * near-dup ingest classification — the streaming twin of
  * [[Dedup.deltaNearDup]].
  *
  * The corpus state is NOT operator state: it is a persistent LSH band
  * index — (band, band_key, doc_id, minhash) rows appended to storage
  * as each delivery is accepted, exactly how a continuously-fed 100 TB
  * pipeline holds its dedup index (next to the data, readable by any
  * job, no state-store rescaling problem; at scale the index dir is a
  * bucketed table keyed on (band, band_key)). Each micro-batch:
  *
  *  1. signs + bands the arriving docs (the shared codegen pipeline),
  *  2. probes the index with a banded equality join — O(collisions),
  *     never a corpus scan — and confirms candidates with the codegen
  *     `agree_count` criterion,
  *  3. self-joins the batch's own band rows for within-delivery dups,
  *  4. classifies near_dup_of_corpus / near_dup_in_batch / new with
  *     the minimum partner of the winning class (−1 for new), and
  *  5. appends the batch's band rows to the index.
  *
  * All five steps are distributed joins/aggregations over the batch
  * (plus the equality-probed slice of the index); nothing corpus-sized
  * ever sits on the driver or in one partition.
  */
object DocStream {

  private val IndexSchema = StructType(Seq(
    StructField("band", LongType),
    StructField("band_key", LongType),
    StructField("doc_id", LongType),
    StructField("minhash",
      org.apache.spark.sql.types.ArrayType(LongType))))

  private val OutSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("status", StringType),
    StructField("matched_id", LongType)))

  /** The (doc_id, text) columns of the documents table — the landing
    * shape of every document delivery. */
  private def documents(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "documents").select(col("doc_id"), col("text"))

  /** Two doc_id-range deliveries: ids below `frac` of the id span (the
    * already-ingested corpus), then the rest. */
  private def splitAt(docs: DataFrame, frac: Double): Seq[DataFrame] = {
    val w = docs.agg(floor((max(col("doc_id")) + 1) * frac).cast("long"))
      .head().getLong(0)
    Seq(docs.filter(col("doc_id") < w), docs.filter(col("doc_id") >= w))
  }

  /** [[CompactDeliveries]] equal-width doc_id-range deliveries (the last
    * one takes the remainder) — the split the compact oracles replay. */
  private def idRanges(docs: DataFrame): Seq[DataFrame] = {
    val parts = CompactDeliveries
    val wdt = math.max(1L,
      docs.agg(floor((max(col("doc_id")) + 1) / parts).cast("long"))
        .head().getLong(0))
    val delivery = least(expr(s"doc_id div ${wdt}L"), lit(parts - 1L))
    (0 until parts).map(i => docs.filter(delivery === i))
  }

  /** Two deliveries by id parity — any holdout shape splits into two
    * halves whose union is the whole frame. */
  private def byParity(df: DataFrame): Seq[DataFrame] =
    Seq(df.filter(expr("doc_id % 2 = 0")), df.filter(expr("doc_id % 2 = 1")))

  /** Classify one arriving delivery against the persistent index and
    * grow the index — the foreachBatch body, usable directly by a
    * non-streaming orchestrator ingesting deliveries in a loop.
    *
    * RETRY IDEMPOTENCE: the probe reads only index rows whose stored
    * `batch_id` is STRICTLY below this batch's — a micro-batch retried
    * after its own index subdir landed (crash between index write and
    * checkpoint commit) must not classify against its own
    * fingerprints, or every retried doc would self-match and the
    * retry's output would diverge from the first attempt's
    * ([[StreamState.before]]). */
  def classifyBatch(spark: SparkSession, batch: DataFrame,
      indexDir: String, threshold: Double, batchId: Long): DataFrame = {
    val banded = Dedup.signedBanded(batch)
    val index = StreamState.before(spark, indexDir, IndexSchema, batchId)

    val corpusMatch = banded.join(
        index.select(col("band"), col("band_key"),
          col("doc_id").as("c_id"), col("minhash").as("c_mh")),
        Seq("band", "band_key"))
      .filter(Dedup.agreeAtLeast(col("minhash"), col("c_mh"), threshold))
      .groupBy(col("doc_id")).agg(min(col("c_id")).as("corpus_match"))
    val batchMatch = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .filter(Dedup.agreeAtLeast(col("a.minhash"), col("b.minhash"), threshold))
      .groupBy(col("b.doc_id").as("doc_id"))
      .agg(min(col("a.doc_id")).as("batch_match"))

    val classified = batch.select(col("doc_id"))
      .join(corpusMatch, Seq("doc_id"), "left")
      .join(batchMatch, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("corpus_match").isNotNull, lit("near_dup_of_corpus"))
          .when(col("batch_match").isNotNull, lit("near_dup_in_batch"))
          .otherwise(lit("new")).as("status"),
        coalesce(col("corpus_match"), col("batch_match"), lit(-1L))
          .as("matched_id"))
    // accept the delivery into the index AFTER classification is
    // materialized below by the caller's write
    classified
  }

  /** Bounded two-delivery replay of the documents table (the first 80%
    * of ids as the already-ingested corpus delivery, the rest as the
    * new one), driven END-TO-END through the streaming engine: a file
    * stream over one landing file per delivery, `maxFilesPerTrigger=1`
    * (explicitly spaced mtimes pin delivery order), foreachBatch
    * running [[classifyBatch]] then growing the index. Returns the new
    * delivery's classification — the SAME output, statuses, and DuckDB
    * oracle as the batch twin `q_delta_neardup`: the streaming and
    * batch paths must agree row-for-row.
    *
    * `compactIndex = true` runs [[StreamState.compactState]] on the
    * band index inside the foreachBatch body after each delivery's
    * index write — the long-ingest maintenance pass; the spec pins the
    * compacted run bit-identical to the plain one.
    */
  def nearDupViaStream(spark: SparkSession, sf: String,
      threshold: Double = 0.5, compactIndex: Boolean = false): DataFrame = {
    val root = graft.TempDirs.create("graft-docstream")
    val indexDir = s"$root/index"
    val outDir = s"$root/out"
    DeliveryHarness.replay(spark, root, splitAt(documents(spark, sf), 0.8)) {
      (batch, batchId) =>
        StreamState.append(outDir,
          classifyBatch(spark, batch, indexDir, threshold, batchId), batchId)
        StreamState.append(indexDir, Dedup.signedBanded(batch)
          .select(IndexSchema.map(f => col(f.name)): _*), batchId)
        // own subtree EXCLUDED from the consumed set: a retry after
        // this compaction ran must still overwrite batch-N in place,
        // never find its rows already folded into the compacted copy
        // (which would duplicate them for every later probe)
        if (compactIndex)
          StreamState.compactState(spark, indexDir, IndexSchema,
            ownBatch = Some(batchId))
    }

    // the NEW delivery's classification (delivery 0 bootstrapped the
    // index). Returned parquet-backed, not collected: a real delivery
    // is executor-sized, and the temp dir outlives the frame via the
    // TempDirs shutdown hook — no driver materialization, no litter.
    StreamState.read(spark, outDir, OutSchema.add("batch_id", LongType))
      .filter(col("batch_id") === 1L).drop("batch_id")
      .orderBy(col("doc_id"))
  }

  /** q_nb_classify's STREAMING twin — model scoring at ingest: the
    * Naive Bayes model trains ONCE in batch (the frozen artifact a
    * production pipeline ships), then held-out documents arrive as two
    * file-stream deliveries and each micro-batch is scored against the
    * frozen model inside foreachBatch — two broadcast/keyed joins and
    * a per-doc partial agg per delivery, no streaming-state store at
    * all, which is the correct shape for stateless model inference on
    * a feed (state lives in the model, not the stream). Same output
    * and DuckDB oracle as the batch twin: the two paths must agree
    * row-for-row.
    *
    * The model frames are persisted across deliveries — without the
    * pin, every micro-batch would re-train from the source parquet
    * (correct but a full corpus re-scan per delivery; at 100 TB the
    * model is a written artifact read once per executor). */
  def nbClassifyViaStream(spark: SparkSession, sf: String): DataFrame = {
    import graft.operators.Text
    val root = graft.TempDirs.create("graft-nbstream")
    val outDir = s"$root/out"
    // SESSION-POOLED (r17): the frozen model is the SAME artifact the
    // batch rows score against — serve it from the nbModelShared
    // checkpoint instead of re-running the tokenize→train per stream
    // replay (checkpointed frames are already executor-resident
    // across deliveries, so the per-delivery persist pin is inherited).
    // SINGLE-DATASET-PER-SESSION ASSUMPTION (r17 advisory): the pool
    // owns these blocks — a concurrent nbModelShared request for a
    // DIFFERENT dataset would free them mid-stream and fail the
    // in-flight deliveries. Every harness surface (Bench, Verify,
    // specs) sweeps one dataset per JVM, which is the contract; a
    // multi-dataset caller must hold its own persist for the stream's
    // lifetime.
    val (classes, counts) = Text.nbModelShared(spark, sf)
    def score(b: DataFrame) = Text.nbScore(Text.nbTokenized(b), classes, counts)

    val held = Tables.load(spark, sf, "documents")
      .filter(expr(Text.NbHoldoutExpr))
    // the two deliveries must PARTITION the holdout (their union is
    // what the shared NbClassifySql oracle scores)
    DeliveryHarness.replay(spark, root, byParity(held)) { (batch, batchId) =>
      StreamState.append(outDir, score(batch), batchId)
    }
    StreamState.read(spark, outDir, score(held).schema)
      .orderBy(col("doc_id"))
  }

  /** q_backoff_score's STREAMING twin — per-delivery LM scoring
    * against the FROZEN PERSISTED artifact: the Stupid-Backoff count
    * tables publish once through
    * [[graft.operators.IndexStore.saveBackoffLm]] (the
    * train-once/ship-as-storage deployment shape the NB scorer
    * already exercises), the stream loads them ONCE, and each
    * delivery scores through the same
    * [[graft.operators.Text.backoffScoreDocs]] kernel as the batch
    * and artifact-served rows. Scoring is per-document given the
    * frozen model, so the deliveries partition the corpus (id
    * parity) and the union must equal the batch scorer row-for-row —
    * the SAME DuckDB oracle pins stream, batch, and saved forms. */
  def backoffViaStream(spark: SparkSession, sf: String): DataFrame = {
    import graft.operators.{IndexStore, Text}
    val root = graft.TempDirs.create("graft-backoffstream")
    val outDir = s"$root/out"
    val (artifactRoot, v) = IndexStore.freshArtifact("backoff")(
      IndexStore.saveBackoffLm(spark, sf, _))
    val (tri, bigr, uni) = IndexStore.loadBackoffLm(spark, artifactRoot,
      Some(v))
    val Seq(triC, bigrC, uniC) =
      graft.CachePool.swap("backoff-stream-model", tri, bigr, uni)
    def score(b: DataFrame) = Text.backoffScoreDocs(b, triC, bigrC, uniC)
    val docs = documents(spark, sf)
    DeliveryHarness.replay(spark, root, byParity(docs)) { (batch, batchId) =>
      StreamState.append(outDir, score(batch), batchId)
    }
    StreamState.read(spark, outDir, score(docs).schema)
      .orderBy(col("doc_id"))
  }

  /** q_lm_gate's STREAMING twin — the CCNet online filter: model AND
    * cut freeze as one artifact (count tables through
    * [[graft.operators.IndexStore.saveBackoffLm]], the cut re-derived
    * from the LOADED tables by the same
    * [[graft.operators.Text.lmGateCut]] rule — ship-together
    * semantics), then each delivery scores through the shared
    * [[graft.operators.Text.backoffScoreDocs]] kernel and admits by
    * the frozen `≤ cut` threshold. Stateless per delivery (state
    * lives in the artifact — the nbClassifyViaStream shape); the
    * deliveries partition the corpus by id parity and the union must
    * equal the batch gate row-for-row — the SAME oracle pins both. */
  def lmGateViaStream(spark: SparkSession, sf: String): DataFrame = {
    import graft.operators.{IndexStore, Text}
    val root = graft.TempDirs.create("graft-lmgatestream")
    val outDir = s"$root/out"
    // model and cut ship together: the cut is re-derived from the
    // loaded tables
    val (artifactRoot, v) = IndexStore.freshArtifact("backoff")(
      IndexStore.saveBackoffLm(spark, sf, _))
    val (tri, bigr, uni) = IndexStore.loadBackoffLm(spark, artifactRoot,
      Some(v))
    val Seq(triC, bigrC, uniC) =
      graft.CachePool.swap("lmgate-stream-model", tri, bigr, uni)
    // the cut value is a pure function of the dataset — identical
    // whichever serve path scored the train slice (exact-integer
    // artifact round-trip), so the twin shares the pooled cut trainer
    val cut = Text.lmGateCut(spark, sf)
    def admit(b: DataFrame) = Text.backoffScoreDocs(b, triC, bigrC, uniC)
      .select(col("doc_id"), col("mean_millibits"))
      .filter(col("mean_millibits") <= lit(cut))
    val docs = documents(spark, sf)
    DeliveryHarness.replay(spark, root, byParity(docs)) { (batch, batchId) =>
      StreamState.append(outDir, admit(batch), batchId)
    }
    StreamState.read(spark, outDir, admit(docs).schema)
      .orderBy(col("doc_id"))
  }

  /** q_heavy_hitters' STREAMING twin: the exploded token stream flows
    * through a Complete-mode streaming count aggregation — the
    * state-store shape of a LIVE token-frequency monitor (each
    * micro-batch updates per-word state; Complete mode emits the full
    * current table) — and the heavy-hitter rule (cnt·k > total) is
    * applied over the stream's OWN final counts. Same DuckDB oracle
    * as the batch Misra-Gries operator, so the streaming aggregation,
    * the sink round-trip, and the threshold all pin to the exact
    * answer.
    *
    * Scale note: Complete mode re-emits the whole vocabulary per
    * batch — fine for a bounded replay and for dashboard-sized top
    * tables; an unbounded 100 TB feed would run Update mode over the
    * same state with the threshold filter downstream, or the batch
    * Misra-Gries pass per delivery. */
  def heavyHittersViaStream(spark: SparkSession, sf: String,
      k: Int = graft.operators.Corpus.HeavyHittersK): DataFrame = {
    val stream = DeliveryHarness.tableStream(spark, sf, "documents")
      .select(explode(regexp_extract_all(lower(col("text")),
        lit("[a-z]+"), lit(0))).as("w"))
      .groupBy(col("w"))
      .agg(count(lit(1)).as("cnt"))
    val counts = EventStream.runToCompletion(spark, stream,
      org.apache.spark.sql.streaming.OutputMode.Complete(), Seq("w"))
    val tot = counts.agg(sum(col("cnt")).as("total"))
    counts.crossJoin(broadcast(tot))
      .filter(col("cnt") * k > col("total"))
      .select(col("w"), col("cnt"))
      .orderBy(col("cnt").desc, col("w"))
  }

  /** Budget for [[tokenBudgetViaStream]] — sized so the sf0.001/sf0.01
    * fixtures exhaust it MID-second-delivery (the carried state is
    * what's under test; a budget the first delivery exhausts, or one
    * the whole feed never reaches, would leave the carry unexercised).
    * Interpolated into the oracle. */
  val StreamTokenBudget = 20000L

  /** q_stream_token_budget: budget admission AT INGEST — the streaming
    * complement of [[graft.operators.Corpus.tokenBudget]]'s batch
    * quality-ranked selection: documents arrive in doc_id order across
    * deliveries and are admitted while the RUNNING corpus token total
    * stays within budget (the prefix rule — one overflow closes the
    * gate for everything after it, so the admitted set is a pure
    * prefix and replayable by any engine). This is the admission
    * control a continuously-fed training pipeline runs while a crawl
    * drains: the decision must be made per delivery, with only a
    * scalar carried between deliveries.
    *
    * State across micro-batches is exactly that scalar — the token
    * total SEEN so far (admitted or not, the prefix rule's
    * denominator): each delivery stores its own count, and the carry
    * is their sum over strictly earlier deliveries
    * ([[StreamState.before]]), so a retried micro-batch re-derives the
    * same carry. Within a batch the running total is
    * [[TwoPhase.prefix]] over doc_id ranges, never a
    * single-partition global window; a 100 TB delivery prefix-sums
    * the same way. Output: admitted docs from BOTH deliveries with
    * their running totals — identical to the one-shot batch replay,
    * which is the oracle. */
  def tokenBudgetViaStream(spark: SparkSession, sf: String,
      budget: Long = StreamTokenBudget, buckets: Int = 32): DataFrame = {
    val root = graft.TempDirs.create("graft-budgetstream")
    val outDir = s"$root/out"
    val seenDir = s"$root/seen"
    val seenSchema = StructType(Seq(StructField("seen", LongType)))
    DeliveryHarness.replay(spark, root, splitAt(documents(spark, sf), 0.5)) {
      (batch, batchId) =>
        val carried = StreamState.before(spark, seenDir, seenSchema, batchId)
          .agg(coalesce(sum(col("seen")), lit(0L))).head().getLong(0)
        val toks = batch.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        // two-phase prefix sum in doc_id order, offset by the carry
        val ext = toks.agg(min(col("doc_id")).as("mn"),
          max(col("doc_id")).as("mx"))
        val ranged = toks.crossJoin(broadcast(ext))
          .withColumn("bucket", expr(
            s"(doc_id - mn) div cast(ceil((mx - mn + 1) / $buckets.0) as bigint)"))
        StreamState.append(outDir,
          TwoPhase.prefix(ranged, Nil, Seq("bucket"), Seq(col("doc_id")),
              col("n_tokens"), "cum")
            .withColumn("cum_tokens", col("cum") + carried)
            .filter(col("cum_tokens") <= budget)
            .select(col("doc_id"), col("n_tokens"), col("cum_tokens")),
          batchId)
        val seen = toks.agg(coalesce(sum(col("n_tokens")), lit(0L)))
          .head().getLong(0)
        StreamState.append(seenDir,
          spark.range(1).select(lit(seen).as("seen")), batchId)
    }
    StreamState.read(spark, outDir, StructType(Seq(
        StructField("doc_id", LongType),
        StructField("n_tokens", LongType),
        StructField("cum_tokens", LongType))))
      .orderBy(col("doc_id"))
  }

  private val WinnowIndexSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("fp", LongType)))

  private val WinnowOutSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("status", StringType),
    StructField("matched_id", LongType),
    StructField("n_shared", LongType),
    StructField("batch_id", LongType)))

  /** The winnow fingerprint index visible to batch `batchId`: rows
    * from STRICTLY EARLIER batches only (the same retry-idempotence
    * rule as [[classifyBatch]] — a retried delivery must not classify
    * against its own `batch-N` subdir, or every doc would self-match
    * and the retry's output would diverge from the first attempt's).
    * Probes see the logical (doc_id, fp) index. */
  private[graft] def winnowIndexBefore(spark: SparkSession,
      indexDir: String, batchId: Long): DataFrame =
    StreamState.before(spark, indexDir, WinnowIndexSchema, batchId)

  /** The winnowing ingest both winnow twins run: each micro-batch
    * fingerprints its documents with the shared `WinnowPack` codegen
    * pass, classifies them against the index of strictly earlier
    * deliveries through the SAME `Text.classifyAgainstIndex` kernel as
    * the batch twin (one fp-equality probe — O(collisions), never a
    * corpus scan, df-cap computed over the index as of that delivery),
    * and appends its own fingerprints. `compact` runs the
    * [[CompactTiers]]-tiered [[StreamState.compactState]] pass after
    * each delivery (own subtree EXCLUDED: a retry after compaction
    * must overwrite batch-N in place, never find its first attempt's
    * rows already folded into the compacted copy — duplication for
    * every later probe's df census). Returns every post-bootstrap
    * classification with its `batch_id`. */
  private def winnowIngest(spark: SparkSession, parts: Seq[DataFrame],
      compact: Boolean, restartAfter: Option[Int] = None): DataFrame = {
    import graft.operators.Text
    val root = graft.TempDirs.create("graft-winnowstream")
    val indexDir = s"$root/index"
    val outDir = s"$root/out"
    DeliveryHarness.replay(spark, root, parts, restartAfter) {
      (batch, batchId) =>
        val fps = Text.winnowFpSet(batch)
        StreamState.append(outDir,
          Text.classifyAgainstIndex(batch.select(col("doc_id")), fps,
            winnowIndexBefore(spark, indexDir, batchId)), batchId)
        StreamState.append(indexDir, fps, batchId)
        if (compact)
          StreamState.compactState(spark, indexDir, WinnowIndexSchema,
            ownBatch = Some(batchId), maxCompactedTrees = CompactTiers)
    }
    StreamState.read(spark, outDir, WinnowOutSchema)
      .filter(col("batch_id") >= 1L)
  }

  /** q_delta_winnow's STREAMING twin — substring-overlap triage at
    * ingest over a PERSISTENT winnowing fingerprint index (the same
    * storage-resident-index shape as [[nearDupViaStream]]'s LSH band
    * store): the corpus delivery bootstraps the index and the second
    * delivery is classified against it ([[winnowIngest]]). Same
    * output and DuckDB oracle as q_delta_winnow: the streaming and
    * batch paths must agree row-for-row. */
  def winnowViaStream(spark: SparkSession, sf: String): DataFrame =
    winnowIngest(spark, splitAt(documents(spark, sf), 0.8), compact = false)
      .drop("batch_id")
      .orderBy(col("doc_id"))

  private val SubstrIndexSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("pos", LongType),
    StructField("fp", LongType)))

  private val SubstrTextSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  private val SpanSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("span_start", LongType),
    StructField("span_end", LongType),
    StructField("span_chars", LongType),
    StructField("batch_id", LongType)))

  /** The exact-substring ingest both substring twins run, over two
    * storage-resident stores — the (doc_id, pos, fp) anchor index and
    * the (doc_id, text) store the extend-and-verify step reads. Each
    * micro-batch after the bootstrap fingerprints its documents with
    * the shared `WinnowPack` pass and probes both stores as of
    * strictly earlier deliveries through the SAME
    * `Text.substrSpansAgainstIndex` kernel as the batch twin (anchor
    * join = fp equality, O(collisions); the extension join touches
    * only anchor-HIT corpus docs' texts, never the whole store); every
    * micro-batch then appends to both stores. `compact` runs the
    * tiered compaction pass on BOTH stores after each delivery (own
    * subtree excluded, as in [[winnowIngest]]). Returns every span
    * with its `batch_id`. */
  private def substrIngest(spark: SparkSession, parts: Seq[DataFrame],
      compact: Boolean): DataFrame = {
    import graft.operators.Text
    val root = graft.TempDirs.create("graft-substrstream")
    val indexDir = s"$root/index"
    val textDir = s"$root/texts"
    val outDir = s"$root/out"
    DeliveryHarness.replay(spark, root, parts) { (batch, batchId) =>
      val fps = Text.substrFpSet(batch)
      // bootstrap (batch 0) only seeds the two stores: probing the
      // still-empty index would pay a full WinnowPack fingerprint +
      // join pass for an output nobody reads
      if (batchId > 0)
        StreamState.append(outDir, Text.substrSpansAgainstIndex(batch, fps,
          StreamState.before(spark, indexDir, SubstrIndexSchema, batchId),
          StreamState.before(spark, textDir, SubstrTextSchema, batchId)),
          batchId)
      StreamState.append(indexDir, fps, batchId)
      StreamState.append(textDir, batch, batchId)
      if (compact)
        Seq(indexDir -> SubstrIndexSchema, textDir -> SubstrTextSchema)
          .foreach { case (dir, schema) =>
            StreamState.compactState(spark, dir, schema,
              ownBatch = Some(batchId), maxCompactedTrees = CompactTiers)
          }
    }
    StreamState.read(spark, outDir, SpanSchema)
  }

  /** q_delta_substr's STREAMING twin — EXACT-SUBSTRING span audit at
    * ingest over a persistent POSITIONED-fingerprint index (the
    * winnow family's [[winnowViaStream]] shape, at the substring
    * family's fidelity, [[substrIngest]]): the corpus delivery
    * bootstraps the stores and the second delivery is audited against
    * them. Same output and DuckDB oracle as q_delta_substr: the
    * streaming and batch paths must agree row-for-row — the winnowing
    * guarantee is indifferent to which path found the anchor. */
  def substrViaStream(spark: SparkSession, sf: String): DataFrame =
    substrIngest(spark, splitAt(documents(spark, sf), 0.8), compact = false)
      .drop("batch_id")
      .orderBy(col("doc_id"), col("span_start"))

  /** q_stream_substr_compact: the LONG-INGEST substring twin with the
    * recurring [[StreamState.compactState]] maintenance pass LIVE on
    * BOTH stores — [[winnowCompactViaStream]]'s receipt at the
    * substring family's fidelity: [[CompactDeliveries]] doc_id-range
    * deliveries stream through [[substrIngest]], so every probe after
    * the first reads stores that have been compacted at least once.
    * The batch_id visibility predicate rides a stored COLUMN on both
    * stores, which is exactly why it survives the rename-based
    * rewrite — the receipt this row exists to pin: compaction is a
    * pure layout change, bit-identical output, fewer files.
    *
    * Output: every post-bootstrap document's merged spans with its
    * delivery number; the DuckDB oracle replays the per-delivery
    * incremental semantics brute-force (spans against STRICTLY
    * earlier deliveries only). */
  def substrCompactViaStream(spark: SparkSession, sf: String,
      compactIndex: Boolean = true): DataFrame =
    substrIngest(spark, idRanges(documents(spark, sf)), compactIndex)
      .select(col("doc_id"), col("batch_id").as("delivery"),
        col("span_start"), col("span_end"), col("span_chars"))
      .orderBy(col("doc_id"), col("span_start"))

  /** DuckDB replay of [[substrCompactViaStream]]'s INCREMENTAL
    * semantics: the brute-force L-gram definition with the shared
    * gram restricted to STRICTLY EARLIER deliveries under the
    * [[CompactDeliveries]] doc_id-range split. Compaction must not
    * change a single row of this. */
  def substrCompactOracle: String = {
    import graft.operators.Text
    val L = Text.SubstrMinLen
    val p = CompactDeliveries
    s"""WITH wd AS (SELECT greatest((MAX(doc_id) + 1) // $p, 1) AS wdt
              FROM documents),
       del AS (SELECT doc_id, least(doc_id // wdt, ${p - 1}) AS d
               FROM documents, wd),
       d AS (
         SELECT doc_id, text, len(text) AS n FROM documents
         WHERE len(text) >= $L),
       g AS (
         SELECT doc_id, CAST(p AS BIGINT) AS p,
           substr(text, CAST(p + 1 AS INT), $L) AS gram
         FROM d, LATERAL (SELECT unnest(generate_series(0, n - $L))
           AS p) gg),
       sh AS (
         SELECT DISTINCT a.doc_id, a.p
         FROM g a JOIN g b ON a.gram = b.gram
         JOIN del da ON da.doc_id = a.doc_id
         JOIN del db ON db.doc_id = b.doc_id
         WHERE db.d < da.d),
       m AS (
         SELECT doc_id, p,
           CASE WHEN p > COALESCE(MAX(p + $L) OVER (
             PARTITION BY doc_id ORDER BY p
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
           THEN 1 ELSE 0 END AS ni
         FROM sh),
       isl AS (
         SELECT doc_id, p,
           SUM(ni) OVER (PARTITION BY doc_id ORDER BY p
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         FROM m),
       spans AS (
         SELECT doc_id, CAST(MIN(p) AS BIGINT) AS span_start,
           CAST(MAX(p) + $L AS BIGINT) AS span_end,
           CAST(MAX(p) + $L - MIN(p) AS BIGINT) AS span_chars
         FROM isl GROUP BY doc_id, island)
       SELECT s.doc_id, CAST(del.d AS BIGINT) AS delivery,
         s.span_start, s.span_end, s.span_chars
       FROM spans s JOIN del ON del.doc_id = s.doc_id
       ORDER BY s.doc_id, s.span_start"""
  }

  /** Deliveries for [[winnowCompactViaStream]] — enough that the
    * compacted store is rewritten repeatedly mid-ingest (the
    * long-ingest shape, not the two-delivery smoke). Interpolated
    * into the oracle. */
  val CompactDeliveries = 5

  /** Tier bound for the long-ingest compact twins (r18, see
    * [[StreamState.compactState]]'s tiered consumption): each
    * per-delivery pass folds only the RAW batch subtrees — prior
    * compacted trees are already size-targeted and stay put until
    * their count reaches this bound, when one pass folds them all.
    * Rewrite volume per ingest drops from O(deliveries²) to
    * O(deliveries) batch-sizes while probe-side file count stays
    * bounded; output is bit-identical for any bound (visibility is
    * the stored batch_id column; spec-pinned against the untiered
    * pass and the compactIndex=false run). */
  val CompactTiers = 4

  /** q_stream_winnow_compact: the LONG-INGEST winnowing twin with the
    * recurring [[StreamState.compactState]] maintenance pass LIVE in
    * the loop — [[CompactDeliveries]] doc_id-range deliveries stream
    * through [[winnowIngest]], and after each one the accumulated RAW
    * subtrees are compacted into size-targeted files
    * ([[CompactTiers]]-tiered: prior compacted trees fold only at the
    * tier bound) — so every probe after the first runs against a store
    * that has been rewritten at least once, and the index dir's
    * subtree count stays bounded by the tier bound instead of growing
    * one per delivery. The batch_id retry/visibility predicate rides a
    * stored COLUMN, which is exactly why it survives the rename-based
    * rewrite.
    *
    * Output: every post-bootstrap document's classification with its
    * delivery number — replayed exactly by a DuckDB oracle that
    * recomputes the per-delivery incremental semantics (probe index =
    * strictly earlier deliveries; df-cap per probe time), so the
    * driver row pins compaction to be a pure layout change, not a
    * semantic one. `compactIndex = false` gives the uncompacted run
    * the spec compares bit-for-bit; `restartAfter = Some(m)` stops the
    * query after m deliveries and recovers the rest in a fresh
    * incarnation from the checkpoint (the long-ingest crash-recovery
    * receipt: offset log resumes, batch ids continue, and the
    * COMPACTED index — whose batch-N subdirs no longer exist — still
    * serves the batch_id visibility predicate, because it is a stored
    * column, not a directory name). */
  def winnowCompactViaStream(spark: SparkSession, sf: String,
      compactIndex: Boolean = true,
      restartAfter: Option[Int] = None): DataFrame =
    winnowIngest(spark, idRanges(documents(spark, sf)), compactIndex,
        restartAfter)
      .select(col("doc_id"), col("batch_id").as("delivery"),
        col("status"), col("matched_id"), col("n_shared"))
      .orderBy(col("doc_id"))

  /** DuckDB replay of [[winnowCompactViaStream]]'s INCREMENTAL
    * semantics: the shared winnow selection CTEs, documents assigned
    * to [[CompactDeliveries]] doc_id-range deliveries, and for every
    * post-bootstrap delivery d a probe against the fingerprints of
    * deliveries < d with the df-cap computed over that same
    * accumulated slice (df is a property of the index AS OF the
    * probe, exactly what the engine's per-batch census sees).
    * Compaction must not change a single row of this. */
  def winnowCompactOracle: String = {
    import graft.operators.Text
    val p = CompactDeliveries
    s"""${Text.winnowSelectionCtes()},
       fps0 AS (SELECT DISTINCT doc_id, fp FROM sel),
       wd AS (SELECT greatest((MAX(doc_id) + 1) // $p, 1) AS wdt
              FROM documents),
       del AS (SELECT doc_id, least(doc_id // wdt, ${p - 1}) AS d
               FROM documents, wd),
       fps AS (SELECT f.doc_id, f.fp, del.d
               FROM fps0 f JOIN del USING (doc_id)),
       ds AS (SELECT unnest(generate_series(1, ${p - 1})) AS pd),
       dfc AS (SELECT i.fp, ds.pd FROM fps i, ds WHERE i.d < ds.pd
               GROUP BY i.fp, ds.pd
               HAVING COUNT(*) <= ${Text.WinnowDfCap}),
       shared AS (
         SELECT b.doc_id, b.d, i.doc_id AS corpus_id,
           CAST(COUNT(*) AS BIGINT) AS n_shared
         FROM fps b
         JOIN fps i ON i.fp = b.fp AND i.d < b.d
         JOIN dfc ON dfc.fp = b.fp AND dfc.pd = b.d
         GROUP BY 1, 2, 3),
       best AS (
         SELECT doc_id, corpus_id, n_shared,
           ROW_NUMBER() OVER (PARTITION BY doc_id
             ORDER BY n_shared DESC, corpus_id) AS rk
         FROM shared)
       SELECT del.doc_id, CAST(del.d AS BIGINT) AS delivery,
         CASE WHEN b.n_shared >= ${Text.WinnowMinShared}
           THEN 'overlap_of_corpus' ELSE 'new' END AS status,
         CAST(CASE WHEN b.n_shared >= ${Text.WinnowMinShared}
           THEN b.corpus_id ELSE -1 END AS BIGINT) AS matched_id,
         CAST(COALESCE(b.n_shared, 0) AS BIGINT) AS n_shared
       FROM del
       LEFT JOIN (SELECT * FROM best WHERE rk = 1) b USING (doc_id)
       WHERE del.d >= 1
       ORDER BY del.doc_id"""
  }

  /** This family's rows, each beside its DuckDB oracle. */
  val rows: Seq[QueryRow] = Seq(
    // the SAME oracle pins the streaming twin: per-delivery span
    // audit against the persistent anchor index must agree with the
    // batch delta pass row-for-row
    QueryRow("q_stream_substr", substrViaStream)(Text.deltaSubstrOracle),
    // the long-ingest twin with live two-store compaction: the oracle
    // replays the per-delivery incremental semantics brute-force —
    // compaction must be a pure layout change, bit-for-bit
    QueryRow("q_stream_substr_compact", substrCompactViaStream(_, _))(substrCompactOracle),
    // the streaming twin shares the batch oracle: a delivery
    // classified against the persisted index must equal the one-shot
    // corpus-slice classification row-for-row
    QueryRow("q_stream_winnow", winnowViaStream)(Text.deltaWinnowOracle),
    QueryRow("q_stream_winnow_compact", winnowCompactViaStream(_, _))(winnowCompactOracle),
    QueryRow("q_stream_lm_gate", lmGateViaStream)(Text.lmGateOracle),
    // the SAME oracle pins the streaming twin: per-delivery scoring
    // against the frozen persisted LM must equal the batch pass
    QueryRow("q_stream_backoff", backoffViaStream)(Text.backoffScoreOracle),
    // The SAME oracle pins the streaming twin: per-delivery scoring
    // against the frozen model must agree with the batch pass
    // row-for-row.
    QueryRow("q_stream_nb_classify", nbClassifyViaStream)(Text.NbClassifySql),
    // the streaming Complete-mode aggregation twin shares the exact
    // batch oracle: the state-store counts must equal a one-shot
    // groupBy to the row
    QueryRow("q_stream_heavy_hitters", heavyHittersViaStream(_, _))(Corpus.HeavyHittersSql),
    // The streaming ingest classifier replays corpus-then-delivery
    // through the engine and must land on the batch twin's exact
    // answer — SAME oracle.
    QueryRow("q_stream_neardup", nearDupViaStream(_, _))(Dedup.DeltaNearDupSql),
    // Streaming budget admission: the oracle is the one-shot prefix
    // rule over doc_id order — the per-delivery two-phase prefix sums
    // plus the carried scalar must reproduce the identical running
    // totals and the identical mid-second-delivery cutoff
    QueryRow("q_stream_token_budget", tokenBudgetViaStream(_, _))(
      s"""WITH s AS (
           SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           FROM documents),
         c AS (SELECT doc_id, n_tokens,
           CAST(SUM(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_tokens
           FROM s)
         SELECT doc_id, n_tokens, cum_tokens FROM c
         WHERE cum_tokens <= ${StreamTokenBudget}
         ORDER BY doc_id""")
  )
}
