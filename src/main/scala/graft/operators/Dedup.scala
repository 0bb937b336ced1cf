package graft.operators

import graft.DuckSql.Norm
import graft.{QueryRow, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Deduplication operators for training-data pipelines over
  * `documents`: exact (hash-groupBy), n-gram Jaccard (exact set
  * similarity), MinHash+LSH (the 100 TB-scale near-dup path), and
  * SimHash banding.
  *
  * Scale design: the exact-Jaccard pair join is the *oracle baseline* —
  * it shuffles on shingle and explodes candidate pairs, fine at
  * verification scale. The production path is MinHash/LSH: per-doc
  * signature is one narrow codegen'd map (no shuffle), banding emits
  * `bands` rows/doc, and the only join is bucket-equality on
  * (band, band_key) — candidates are O(collisions), not O(n²).
  */
object Dedup {

  /** doc_id + distinct 3-word shingle array. The word array is
    * materialized in its own projection first: HOF lambdas evaluate
    * interpreted with NO common-subexpression elimination, so an
    * inline `split(regexp_replace(...))` would re-run per shingle.
    * (CollapseProject keeps the split separate because it is non-cheap
    * and multiply-referenced.)
    *
    * Docs shorter than k words are excluded (Spark's sequence()
    * auto-reverses on negative ranges, DuckDB's generate_series
    * returns empty — guard instead of diverge). */
  private[graft] def shingled(docs: DataFrame, k: Int = 3): DataFrame =
    docs
      .select(col("doc_id"), split(Text.normalized(col("text")), " ").as("ws"))
      .filter(size(col("ws")) >= k)
      .select(col("doc_id"),
        graft.functions.ArrayOps.shingles(col("ws"), k).as("sh"))

  /** Shared, persisted shingled projection. EVERY shingle consumer
    * (ngramJaccard, nearDupClusters + the LSH-fed variant, minhashLsh,
    * minhashRecall, contamination — plus both sides of every self-join
    * inside them) starts from the same scan→normalize→split→shingle
    * derivation; without sharing, the clustering query alone pays it
    * ~4×. One [[graft.CachePool]] entry (see its doc for the key,
    * fingerprint and release rules): a different dataset, a rewritten
    * one or a NEW session releases the previous frame's blocks, so a
    * long-lived session sweeping datasets never accumulates cached
    * blocks (the r4 leak). Re-persists if an external
    * `catalog.clearCache()` dropped the blocks. At 100 TB the same
    * sharing is a checkpoint to the job's scratch storage, not memory.
    */
  private[graft] def shingledCached(spark: SparkSession, sf: String): DataFrame = {
    val df = graft.CachePool.memo("shingled", spark, sf) {
      // repartition to the SESSION's parallelism before the pin
      // (r18): the cached frame otherwise inherits the SCAN's
      // partitioning — a fixture table is one parquet file under
      // maxPartitionBytes, i.e. ONE partition — and the exact
      // pair kernels' expensive stage (broadcast pair join +
      // partial agg) runs map-side over these cached partitions
      // with NO exchange to re-parallelize it: measured at the 8×
      // scaling fixture as one task holding ~136 s of CPU while
      // 31 cores idle (core-count-independent wall-clock, the
      // signature that exposed it). Hash on doc_id (no sort-
      // before-repartition cost, deterministic); N derives from
      // defaultParallelism — scale-adaptive, never a constant.
      val n = math.max(1, spark.sparkContext.defaultParallelism)
      val fresh = shingled(Tables.load(spark, sf, "documents"))
        .repartition(n, col("doc_id"))
      graft.CachePool.Held(fresh, () => fresh.unpersist())
    }
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df
  }

  /** Exact dedup via content hash: every doc mapped to the canonical
    * (minimum) doc_id sharing its fingerprint. Single hash-groupBy on
    * the digest — the standard exact-dedup shape at any scale. */
  def exact(spark: SparkSession, sf: String): DataFrame = {
    // window instead of groupBy+self-join: ONE shuffle on the digest
    val byFp = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fingerprint"))
    Tables.load(spark, sf, "documents")
      .select(col("doc_id"), md5(Text.normalized(col("text"))).as("fingerprint"))
      .withColumn("canonical_id", min(col("doc_id")).over(byFp))
      .withColumn("group_size", count(lit(1)).over(byFp))
      .select(col("doc_id"), col("canonical_id"), col("group_size"),
        (col("doc_id") =!= col("canonical_id")).as("is_dup"))
      .orderBy(col("doc_id"))
  }

  /** Exact n-gram Jaccard near-dup pairs (threshold 0.5): explode
    * distinct shingles, self-join on shingle, count common, compute
    * |A∩B| / (|A|+|B|−|A∩B|). The shuffle key is the shingle — skew
    * on ultra-common shingles is the known hazard; the LSH variant
    * below is the scale answer. */
  def ngramJaccard(spark: SparkSession, sf: String, threshold: Double = 0.5): DataFrame =
    // SESSION-POOLED (r17): the exact verification pair set feeds
    // q_ngram_jaccard, q_dup_matrix, q_dup_clusters, q_dup_methods and
    // q_contamination — one guarded self-join per (dataset, session),
    // downstream rows read the checkpointed output-bounded pair frame.
    graft.CachePool.sessionCheckpoint(s"ngram-jaccard-pairs:$threshold",
        spark, sf) {
      ngramJaccardFrom(shingledCached(spark, sf), threshold)
    }

  /** GUARDED VERIFICATION KERNEL — the exact pair join every LSH-fed
    * twin is pinned against, not the 100 TB path: the self-join key is
    * the raw shingle, so one boilerplate shingle with df = 10⁶ yields
    * 10¹² join rows. `dfCap = Some(c)` arms the standard skew purge
    * (the [[graft.operators.Text.WinnowDfCap]] / Hernández–Stolfo
    * big-block rule: a shingle in more than `c` documents is corpus
    * boilerplate AND the join's skew key — drop it before pairing,
    * bounding per-shingle pair work at c²; DedupSpec proves the purge
    * fires on a seeded flood). The DEFAULT is None — exact semantics,
    * what the DuckDB oracles replay — which is only safe because every
    * production consumer rides [[minhashLsh]] candidates instead; a
    * deployment that must run this kernel at scale sets the cap, the
    * same trade [[graft.operators.Text.winnowOverlapFrom]] hardwires. */
  private[graft] def ngramJaccardFrom(docs: DataFrame, threshold: Double,
      dfCap: Option[Long] = None): DataFrame = {
    val sizes = docs.select(col("doc_id"), size(col("sh")).as("n_sh"))
    val allSh = docs.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val exploded = dfCap match {
      case Some(c) =>
        val df = allSh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        allSh.join(df.filter(col("df") <= c).select(col("shingle")), "shingle")
      case None => allSh
    }
    // NOT salted (r18, measured): with the shingled cache
    // repartitioned to session parallelism (see [[shingledCached]] —
    // the actual fix for this kernel's single-task pathology), a
    // b-side doc-hash salt was tried and measured WORSE at the 8×
    // scaling fixture (35.2 s salted ×4 vs 28.5 s unsalted at c32):
    // the a-side ×S explode volume costs more than the residual
    // hot-shingle spread saves. The skew answer of record stays
    // dfCap (the Hernández–Stolfo purge above) + the LSH twin.
    val pairs = exploded.as("a")
      .join(exploded.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Thresholds (integer basis points) swept by
    * [[dedupThresholdSweep]] — spanning loose overlap to near-exact
    * twins so the fixture curve actually bends (measured 32 → 25
    * pairs across this range at sf0.001). Interpolated into both
    * engines. */
  val SweepThresholdsBp: Seq[Long] = Seq(500L, 1000L, 3000L, 5000L, 9000L, 9500L)

  /** q_dedup_sweep: the dedup KNOB-TUNING curve — before committing a
    * near-dup threshold, a curation team sweeps it and reads how much
    * corpus each setting would merge (the Lee et al. ablation table's
    * input). ONE pass over the exact-Jaccard pair kernel, one output
    * row per candidate threshold: surviving pair count, distinct
    * documents touched, and documents the greedy min-id keep rule
    * would drop (docs appearing as the larger id of some surviving
    * pair — the one-hop drop census; the transitive-closure count is
    * [[nearDupClusters]]' job and needs no sweep to tune).
    * Jaccard is computed once in integer basis points (engine-exact),
    * then each pair fans out only to the thresholds it clears — the
    * sweep costs one |pairs|×|thresholds| projection on top of the
    * kernel, NOT a re-run per threshold.
    *
    * At 100 TB the input pair frame swaps for the LSH-banded
    * candidate set banded at the LOWEST threshold under study
    * (banding bounds Jaccard from below), and the sweep arithmetic is
    * unchanged — the kernel swap is the input frame:
    * [[dedupThresholdSweepLsh]] IS that swap, wired and
    * driver-checked over [[SweepLshThresholdsBp]]. */
  def dedupThresholdSweep(spark: SparkSession, sf: String): DataFrame = {
    val docs = shingledCached(spark, sf)
    val sizes = docs.select(col("doc_id"), size(col("sh")).cast("long").as("n_sh"))
    val exploded = docs.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val pairs = exploded.as("a")
      .join(exploded.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard_bp",
        expr("(common * 10000) div (n_a + n_b - common)"))
    sweepOver(spark, pairs, SweepThresholdsBp)
  }

  /** Thresholds the LSH-FED sweep studies: the [[SweepThresholdsBp]]
    * members at or above the banding's reliable-recall regime. The
    * 16×4 banding's per-pair miss probability is (1−j⁴)¹⁶ — ≈ 2·10⁻⁵
    * at j = 0.9 but effectively certain misses at j ≈ 0.05 — so an
    * LSH-fed sweep of sub-banding thresholds would UNDER-COUNT and no
    * honest deployment runs one: you band at the lowest threshold you
    * intend to study, and you study thresholds the banding can feed.
    * Interpolated into the q_dedup_sweep_lsh oracle. */
  val SweepLshThresholdsBp: Seq[Long] = SweepThresholdsBp.filter(_ >= 5000L)

  /** q_dedup_sweep_lsh: [[dedupThresholdSweep]] fed by the LSH-banded
    * candidate set — the 100 TB form the exact sweep's doc promises:
    * banding proposes O(collisions) candidates (never the raw-shingle
    * self-join), the est-agreement margin prunes, each survivor is
    * CONFIRMED against its true shingle arrays, and the sweep
    * arithmetic ([[sweepOver]]) is pair-source-agnostic — the
    * [[dupMatrixFrom]] convention. Studies [[SweepLshThresholdsBp]]
    * (banded at the lowest, 0.5); at the fixtures' similarity levels
    * every exact pair over 0.5 sits at j ≥ 0.88 (banding miss
    * ≤ 2·10⁻⁷), so the candidate set equals the exact set and the
    * row is pinned by the SAME brute-force sweep oracle restricted to
    * these thresholds. */
  def dedupThresholdSweepLsh(spark: SparkSession, sf: String): DataFrame = {
    val sh = shingledCached(spark, sf)
    val minT = SweepLshThresholdsBp.min.toDouble / 10000.0
    val pairs = minhashCandidates(sh)
      .filter(agreeAtLeast(col("mh_a"), col("mh_b"),
        math.max(minT - 0.15, 0.0)))
      .select(col("doc_a"), col("doc_b"))
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("common",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("n_a", size(col("sh_a")).cast("long"))
      .withColumn("n_b", size(col("sh_b")).cast("long"))
      .withColumn("jaccard_bp",
        expr("(common * 10000) div (n_a + n_b - common)"))
      .select(col("doc_a"), col("doc_b"), col("jaccard_bp"))
    sweepOver(spark, pairs, SweepLshThresholdsBp)
  }

  /** The sweep arithmetic over an arbitrary (doc_a, doc_b,
    * jaccard_bp) pair frame: fan each pair out to the thresholds it
    * clears (one |pairs|×|thresholds| projection, never a re-run per
    * threshold), three censuses, zero-filled static spine. */
  private[graft] def sweepOver(spark: SparkSession, pairs: DataFrame,
      thresholds: Seq[Long]): DataFrame = {
    // generational persist: the fanned pair frame feeds three
    // aggregations; the pool bounds a long session at one generation.
    // Keyed by the threshold set so the exact and LSH-fed sweeps
    // (different pair frames) don't churn one shared slot (r15
    // advisory on cross-operator key sharing).
    val swept = graft.CachePool.swap(
      "dedup-sweep-fanout-" + thresholds.mkString("_"),
      pairs.select(col("doc_a"), col("doc_b"),
          explode(typedLit(thresholds)).as("threshold_bp"),
          col("jaccard_bp"))
        .filter(col("jaccard_bp") >= col("threshold_bp"))).head
    val nPairs = swept.groupBy(col("threshold_bp"))
      .agg(count(lit(1)).as("n_pairs"))
    val nDocs = swept.select(col("threshold_bp"),
        explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .distinct().groupBy(col("threshold_bp"))
      .agg(count(lit(1)).as("n_docs"))
    val nDrop = swept.select(col("threshold_bp"), col("doc_b")).distinct()
      .groupBy(col("threshold_bp")).agg(count(lit(1)).as("n_would_drop"))
    // static threshold spine so an empty threshold still reports 0
    spark.range(1)
      .select(explode(typedLit(thresholds)).as("threshold_bp"))
      .join(nPairs, Seq("threshold_bp"), "left")
      .join(nDocs, Seq("threshold_bp"), "left")
      .join(nDrop, Seq("threshold_bp"), "left")
      .select(col("threshold_bp"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("n_would_drop"), lit(0L)).as("n_would_drop"))
      .orderBy(col("threshold_bp"))
  }

  /** ASYMMETRIC shingle containment: |A∩B| / |A| in integer basis
    * points, emitted for ORDERED pairs (a, b) with a ≠ b. Catches the
    * subset-duplicate Jaccard misses: a short document quoted whole
    * inside a long one has containment ≈ 1 while Jaccard ≈ |A|/|B| can
    * sit under any symmetric threshold. Containment ≥ Jaccard always
    * (|A| ≤ |A∪B|), so this is the stricter recall direction of the
    * same exact pair kernel — and, like it, the oracle baseline: at
    * 100 TB candidates come from the same LSH band buckets (banding
    * bounds Jaccard, and a containment-escaping pair needs the SAME
    * all-bands-differ miss), with the short side's signature checked
    * against each candidate's.
    */
  def containmentPairs(spark: SparkSession, sf: String,
      threshold: Double = 0.6): DataFrame =
    containmentFrom(shingledCached(spark, sf), threshold)

  private[graft] def containmentFrom(docs: DataFrame,
      threshold: Double): DataFrame = {
    val sizes = docs.select(col("doc_id"),
      size(col("sh")).cast("long").as("n_a"))
    val exploded = docs.select(col("doc_id"), explode(col("sh")).as("shingle"))
    exploded.as("a")
      .join(exploded.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .withColumn("containment_bp", expr("(common * 10000) div n_a"))
      .filter(col("containment_bp") >= lit(Math.round(threshold * 10000)))
      .select(col("doc_a"), col("doc_b"), col("common"), col("n_a"),
        col("containment_bp"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ---- incremental (delta) dedup ------------------------------------

  /** Incremental ingest dedup: the last 20% of doc_ids play the "new
    * batch" arriving against the already-ingested corpus (first 80%).
    * Each batch doc is classified `dup_of_corpus` (content hash already
    * ingested), `dup_in_batch` (first seen earlier IN this batch), or
    * `new` — the decision a continuously-fed training pipeline makes
    * per delivery. One shuffle on the fingerprint for the corpus
    * membership join (the corpus side is digest-distinct — at 100 TB
    * that's the fingerprint index, orders of magnitude smaller than the
    * corpus) and one window for within-batch firsts.
    */
  def deltaDedup(spark: SparkSession, sf: String): DataFrame = {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), md5(Text.normalized(col("text"))).as("fp"))
    val w = docs.agg(
      floor((max(col("doc_id")) + 1) * 0.8).cast("long").as("w"))
    val all = docs.crossJoin(broadcast(w))
    val corpusFp = all.filter(col("doc_id") < col("w"))
      .select(col("fp")).distinct().withColumn("in_corpus", lit(true))
    val byFp = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    all.filter(col("doc_id") >= col("w"))
      .join(corpusFp, Seq("fp"), "left")
      .withColumn("batch_first", min(col("doc_id")).over(byFp))
      .select(col("doc_id"), col("fp").as("fingerprint"),
        when(col("in_corpus"), lit("dup_of_corpus"))
          .when(col("batch_first") < col("doc_id"), lit("dup_in_batch"))
          .otherwise(lit("new")).as("status"))
      .orderBy(col("doc_id"))
  }

  /** Near-dup DELTA classification — [[deltaDedup]]'s framing composed
    * with MinHash-LSH: each new-batch doc (last 20% of ids) probes the
    * corpus band buckets and is classified `near_dup_of_corpus` (an
    * LSH near-dup partner already ingested), `near_dup_in_batch`
    * (first near-dup partner is an earlier doc IN this batch), or
    * `new` — the decision a continuously-fed pipeline makes per
    * delivery when exact-hash dedup isn't enough. `matched_id` is the
    * minimum partner of the winning class (−1 for `new`).
    *
    * Plan: the edge source is the banded equality join
    * ([[minhashLsh]], O(collisions)); classification is one groupBy on
    * the batch doc id plus a left join back onto the batch — two
    * shuffles of candidate/batch-sized data, never the corpus. The
    * watermark `w` is a broadcast scalar. Corpus ids all precede batch
    * ids, so every corpus↔batch pair arrives as (doc_a=corpus,
    * doc_b=batch) and batch↔batch pairs as (earlier, later) — doc_b
    * alone indexes the classification.
    *
    * ORACLE PINNING (same argument as [[nearDupClustersLsh]]): at the
    * fixtures' similarity levels every exact pair sits at j ≥ 0.9,
    * where 16×4 banding miss probability ≈ 4·10⁻⁸ and the signature
    * estimate concentrates far above the 0.5 cut — so the LSH
    * candidate set equals the exact n-gram Jaccard pair set and the
    * DuckDB oracle classifies off the EXACT pairs.
    */
  def deltaNearDup(spark: SparkSession, sf: String,
      threshold: Double = 0.5): DataFrame = {
    val docs = Tables.load(spark, sf, "documents").select(col("doc_id"))
    val w = docs.agg(
      floor((max(col("doc_id")) + 1) * 0.8).cast("long").as("w"))
    val batch = docs.crossJoin(broadcast(w))
      .filter(col("doc_id") >= col("w")).select(col("doc_id"))
    val pairs = minhashLshFrom(shingledCached(spark, sf), threshold)
      .select(col("doc_a"), col("doc_b"))
    val matches = pairs.crossJoin(broadcast(w))
      .filter(col("doc_b") >= col("w"))
      .select(col("doc_b").as("doc_id"),
        when(col("doc_a") < col("w"), col("doc_a")).as("corpus_partner"),
        when(col("doc_a") >= col("w"), col("doc_a")).as("batch_partner"))
      .groupBy(col("doc_id"))
      .agg(min(col("corpus_partner")).as("corpus_match"),
        min(col("batch_partner")).as("batch_match"))
    batch.join(matches, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("corpus_match").isNotNull, lit("near_dup_of_corpus"))
          .when(col("batch_match").isNotNull, lit("near_dup_in_batch"))
          .otherwise(lit("new")).as("status"),
        coalesce(col("corpus_match"), col("batch_match"), lit(-1L))
          .as("matched_id"))
      .orderBy(col("doc_id"))
  }

  /** Per-batch-doc n-gram NOVELTY against the ingested corpus: the
    * fraction of a new doc's distinct shingles never seen in the
    * corpus (first 80% of ids — [[deltaDedup]]'s framing). The data-
    * selection signal between the dedup extremes: `near_dup_of_corpus`
    * docs score ≈0, genuinely new material ≈1, and remixes land in
    * between — what a curation pipeline thresholds on to prefer
    * novel deliveries.
    *
    * Plan: the corpus side is distinct-reduced to a shingle INDEX
    * before the join (map-side combine; orders of magnitude smaller
    * than the corpus), then one membership join shuffled on the
    * shingle key and a per-doc rollup. Docs shorter than the shingle
    * width have no rows (same guard as every shingle consumer). At
    * extreme scale membership-only semantics admit a bloom-filter
    * pre-pass (`bloom_filter_agg` on the index, filter before the
    * join); the exact join stays the verification form.
    */
  def ngramNovelty(spark: SparkSession, sf: String): DataFrame = {
    val sh = shingledCached(spark, sf)
    val w = Tables.load(spark, sf, "documents")
      .agg(floor((max(col("doc_id")) + 1) * 0.8).cast("long").as("w"))
    val corpusIdx = sh.crossJoin(broadcast(w))
      .filter(col("doc_id") < col("w"))
      .select(explode(col("sh")).as("shingle")).distinct()
      .withColumn("seen", lit(true))
    val batch = sh.crossJoin(broadcast(w))
      .filter(col("doc_id") >= col("w"))
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
    batch.join(corpusIdx, Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles").cast("double"))
          .as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** [[ngramNovelty]]'s SCALE PATH: the corpus membership test runs
    * against a SHARDED Bloom sketch of the corpus shingle hashes
    * instead of the exact distinct-shingle join. Two structural wins
    * the exact form can't have: (1) NO distinct and no corpus-sized
    * join shuffle — Bloom inserts are idempotent, so each shard is one
    * partial-aggregated pass; (2) the sketch is a reusable artifact
    * (persist the `(bucket, bf)` table next to the corpus like the LSH
    * band index). False positives UNDERCOUNT novelty by ≤ fpp of the
    * seen mass — never overcount — so the gate errs toward
    * re-inspecting, and the exact form remains the verification twin
    * (CorpusSpec bounds the error).
    *
    * SHARDING (the 100 TB shape): the shingle-hash space is hash-
    * partitioned into `shards` buckets; each bucket aggregates its own
    * fixed-size filter via `BloomFilterAggregate`, so the sketch is a
    * DISTRIBUTED table — nothing corpus-proportional ever lands on the
    * driver (the monolithic form's `agg().head()` was a multi-GB byte
    * array through the driver at corpus scale). Probes route to their
    * shard by the same hash, meet it on a bucket-equality join (tiny
    * sketch → broadcast; TB sketch → shuffle, each reducer holding
    * only its shards), and [[graft.functions.BloomProbe]] evaluates
    * membership against the joined bytes with a per-task
    * deserialize-once cache — Spark's own `might_contain` demands a
    * constant/scalar-subquery filter side, which is exactly the
    * driver-materialization this variant removes. Per-shard sizing
    * assumes hash balance (n/shards inserts each), which xxhash64
    * delivers; `shards = 1` degenerates to the monolithic single-
    * sketch mode, minus the driver round-trip.
    */
  def ngramNoveltyBloom(spark: SparkSession, sf: String,
      fpp: Double = 0.01, shards: Int = 32): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graftbridge.Bridge
    val sh = shingledCached(spark, sf)
    val w = Tables.load(spark, sf, "documents")
      .agg(floor((max(col("doc_id")) + 1) * 0.8).cast("long").as("w"))
    val corpus = sh.crossJoin(broadcast(w))
      .filter(col("doc_id") < col("w"))
      .select(explode(col("sh")).as("shingle"))
      .select(xxhash64(col("shingle")).as("h"))
      .withColumn("bucket", pmod(col("h"), lit(shards.toLong)))
    // sized on the (cheap, overcounting) non-distinct row count:
    // n·ln(fpp)/ln(2)² bits split evenly across shards, the standard
    // optimum per shard under hash balance
    val nRows = math.max(1L, corpus.count())
    val perShard = math.max(1L, nRows / shards)
    val nBits = math.max(64L,
      math.ceil(-perShard * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    val bfAgg = Bridge.column(
      new BloomFilterAggregate(Bridge.expression(col("h")),
        Literal(perShard), Literal(nBits)).toAggregateExpression())
    val sketches = corpus.groupBy(col("bucket")).agg(bfAgg.as("bf"))
    sh.crossJoin(broadcast(w))
      .filter(col("doc_id") >= col("w"))
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
      .withColumn("bucket", pmod(col("h"), lit(shards.toLong)))
      .join(sketches, Seq("bucket"), "left")
      .withColumn("seen", graft.functions.BloomProbe.bloom_probe_bucketed(
        col("bucket"), col("bf"), col("h")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(!col("seen"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles").cast("double"))
          .as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** Driver-visible verification harness around [[ngramNoveltyBloom]]:
    * joins the sketch's per-doc novelty against the exact join's and
    * emits, per batch doc, the EXACT counts plus two verdict flags —
    * Bloom false positives can only UNDERCOUNT novelty
    * (bloom_le_exact), and the shortfall stays within 5% of the doc's
    * shingle mass (fpp = 0.01 puts the expected shortfall under
    * 1% — the 5% line is a ≥5× margin). The DuckDB oracle recomputes
    * the exact side and pins both flags to 1, so a sketch that ever
    * overcounts or degrades past its contract goes red at the driver
    * gate — the sketch row stops being a rows-only blind spot. The
    * pure sketch path (the artifact a pipeline persists at 100 TB,
    * no exact join anywhere) remains [[ngramNoveltyBloom]] itself. */
  def ngramNoveltyBloomCheck(spark: SparkSession, sf: String): DataFrame = {
    val bloom = ngramNoveltyBloom(spark, sf)
      .select(col("doc_id"), col("n_novel").as("bloom_novel"))
    ngramNovelty(spark, sf)
      .select(col("doc_id"), col("n_shingles"), col("n_novel"))
      .join(bloom, Seq("doc_id"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        (col("bloom_novel") <= col("n_novel")).cast("long")
          .as("bloom_le_exact"),
        ((col("n_novel") - col("bloom_novel")).cast("double") <=
          col("n_shingles").cast("double") * 0.05 + 1.0)
          .cast("long").as("shortfall_within_5pct"))
      .orderBy(col("doc_id"))
  }

  /** Per-SOURCE duplicate-mass triage — the report that decides which
    * FEED gets fixed rather than which documents get dropped: for
    * every source, its exact-duplicate mass within itself
    * (docs − distinct fingerprints) and how many of its fingerprints
    * also arrive from other sources (mirror/syndication detection).
    * At 100 TB this is two partial-agg groupBys over the md5
    * projection plus one fingerprint-keyed join against the
    * multi-source fingerprint set — content never shuffles, only
    * 16-byte fingerprints; output is |sources| rows of exact
    * integers.
    */
  def dupRateBySource(spark: SparkSession, sf: String): DataFrame =
    dupRateFrom(Tables.load(spark, sf, "documents"))

  /** [[dupRateBySource]] over any (source, text) frame — split out so
    * the seeded-failure spec can prove the detection mechanism on a
    * corpus with KNOWN dup structure (the sf0.01 gate fixture happens
    * to be dup-free at raw-text granularity, which would otherwise
    * leave the mechanism pinned only by the all-zero answer). */
  private[graft] def dupRateFrom(docs: DataFrame): DataFrame = {
    val d = graft.CachePool.swapOne("dup-rate-fp", docs
      .select(col("source"), md5(col("text")).as("fp")))
    val per = d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("fp")).as("n_unique"))
    val multi = d.groupBy(col("fp"))
      .agg(countDistinct(col("source")).as("ns"))
      .filter(col("ns") > 1).select(col("fp"))
    val shared = d.join(multi, Seq("fp"))
      .groupBy(col("source"))
      .agg(countDistinct(col("fp")).as("shared_fps"))
    per.join(shared, Seq("source"), "left")
      .select(col("source"),
        col("n_docs").cast("long").as("n_docs"),
        col("n_unique").cast("long").as("n_unique"),
        (col("n_docs") - col("n_unique")).cast("long").as("dup_within"),
        expr("((n_docs - n_unique) * 10000) div n_docs").as("dup_pct_bp"),
        coalesce(col("shared_fps"), lit(0L)).cast("long").as("shared_fps"))
      .orderBy(col("source"))
  }

  /** q_dup_matrix: the SOURCE × SOURCE near-duplication matrix — the
    * triage view above [[dupRateBySource]]'s per-feed rates: which
    * feeds MIRROR each other (crawl overlaps, syndication, re-hosted
    * dumps). One row per unordered source pair joined by ≥ 1 exact
    * near-dup pair (the q_ngram_jaccard kernel — raw-text exact dups
    * are absent from this corpus, near-dups are the real mass), with
    * the pair count and the distinct documents involved. A heavy
    * off-diagonal cell means one feed should be dropped or
    * down-weighted wholesale — cheaper than deduping it doc by doc.
    *
    * Shape: the pair frame is the (already bounded) near-dup output,
    * so the matrix costs two doc_id-keyed source lookups and two
    * partial aggs over it; output is ≤ sources² rows. This form rides
    * the exact verification kernel (oracle-checkable); [[dupMatrixLsh]]
    * is the same [[dupMatrixFrom]] fed by [[minhashLsh]] candidates —
    * the 100 TB path. */
  def dupMatrix(spark: SparkSession, sf: String): DataFrame =
    dupMatrixFrom(spark, sf,
      ngramJaccard(spark, sf).select(col("doc_a"), col("doc_b")))

  /** [[dupMatrix]] fed by MinHash-LSH candidate edges — the matrix a
    * 100 TB corpus actually computes: the pair frame is the
    * O(collisions) banded join ([[minhashLsh]], verified end to end)
    * instead of the raw-shingle exact self-join, and the matrix
    * arithmetic is pair-source-agnostic ([[dupMatrixFrom]], the
    * [[clustersFrom]] convention). At the fixtures' similarity levels
    * (every exact pair at j ≥ 0.9, banding miss ≈ 4·10⁻⁸) the
    * candidate pair set equals the exact set, so this row is pinned by
    * the SAME brute-force matrix oracle as q_dup_matrix. */
  def dupMatrixLsh(spark: SparkSession, sf: String): DataFrame =
    dupMatrixFrom(spark, sf,
      minhashLsh(spark, sf).select(col("doc_a"), col("doc_b")))

  /** The matrix arithmetic over an arbitrary near-dup pair frame:
    * two source lookups + two partial aggs; output is ≤ sources²
    * rows whatever the input. The source-lookup frame is
    * corpus-cardinality (one row per document), so it must NOT be
    * broadcast: the pair frame is output-bounded, and a doc_id-keyed
    * shuffle join keeps the lookup distributed at 100 TB — AQE may
    * still choose broadcast at fixture scale on its own statistics. */
  private[graft] def dupMatrixFrom(spark: SparkSession, sf: String,
      pairs: DataFrame): DataFrame = {
    val src = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("source"))
    val labeled = pairs
      .select(col("doc_a"), col("doc_b"))
      .join(src.select(col("doc_id").as("doc_a"),
        col("source").as("sa")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"),
        col("source").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"),
        col("doc_a"), col("doc_b"))
    val labeledC = graft.CachePool.swapOne("dup-matrix-labeled", labeled)
    val nPairs = labeledC.groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"))
    val nDocs = labeledC.select(col("src_a"), col("src_b"),
        explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .distinct()
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("n_docs"))
    nPairs.join(nDocs, Seq("src_a", "src_b"))
      .orderBy(col("src_a"), col("src_b"))
  }

  // ---- near-dup clustering (connected components) -------------------

  /** Near-duplicate CLUSTERS: connected components over the similarity
    * graph, each doc labeled with its component's minimum doc_id (the
    * canonical representative) — the step that turns pairwise
    * candidates into "keep one per cluster" decisions. Verification
    * edges here are the exact n-gram Jaccard pairs (oracle-checkable);
    * [[nearDupClustersLsh]] is the same [[clustersFrom]] fed by
    * [[minhashLsh]] candidates — the 100 TB path.
    */
  def nearDupClusters(spark: SparkSession, sf: String): DataFrame =
    // SESSION-POOLED (r17): the iterative CC loop (checkpoint-per-round
    // pointer jumping — many Spark jobs per run) is the expensive part
    // HERE even with pooled pairs; the label frame is corpus-node-sized
    // and shared by every exact-edge cluster consumer.
    graft.CachePool.sessionCheckpoint("dup-clusters-exact", spark, sf) {
      val docs = Tables.load(spark, sf, "documents").select(col("doc_id"))
      val pairs = ngramJaccard(spark, sf).select(col("doc_a"), col("doc_b"))
      clustersFrom(docs, pairs)
    }

  /** [[nearDupClusters]] fed by MinHash-LSH candidate edges — the
    * operator a 100 TB corpus actually runs: the edge derivation is the
    * O(collisions) banded equality join instead of the O(shingle-skew²)
    * exact self-join; [[clustersFrom]] is edge-source-agnostic. At the
    * fixtures' similarity levels (every exact pair sits at j ≥ 0.9,
    * where 16×4 banding miss probability ≈ 4·10⁻⁸ and estimated
    * Jaccard concentrates far above the 0.5 cut) the candidate edge
    * set equals the exact edge set, so the cluster assignment matches
    * the exact-edge form bit-for-bit — pinned by the same DuckDB
    * recursive-CTE oracle as q_dup_clusters. */
  def nearDupClustersLsh(spark: SparkSession, sf: String): DataFrame =
    // SESSION-POOLED (r17): shared by q_dup_clusters_lsh,
    // q_cluster_sizes and q_dedup_survivors — the CC loop runs once per
    // (dataset, session), not once per consuming row.
    graft.CachePool.sessionCheckpoint("dup-clusters-lsh", spark, sf) {
      val docs = Tables.load(spark, sf, "documents").select(col("doc_id"))
      val pairs = minhashLsh(spark, sf).select(col("doc_a"), col("doc_b"))
      clustersFrom(docs, pairs)
    }

  /** Near-dup SURVIVORSHIP: the curation decision [[nearDupClustersLsh]]
    * exists to feed — keep the highest-[[Text.quality]] document per
    * near-dup cluster (ties broken on doc_id), instead of the naive
    * "keep the minimum id". Output marks every doc with its cluster,
    * score, and the keep/drop verdict, so the caller can either filter
    * `keep` or audit what was dropped and why.
    *
    * Plan: the LSH-fed clustering (banded equality join → CC over
    * graph nodes only), one join to the quality projection (a map over
    * the corpus, no shuffle beyond the join), one window partitioned
    * by cluster — singleton clusters dominate real corpora, so the
    * window's per-key state is tiny; skew equals the largest dup
    * cluster, which the domain-cap/WindowGroupLimit pattern bounds if
    * a pathological corpus needs it.
    *
    * ORACLE PINNING: same argument as [[nearDupClustersLsh]] — the
    * exact-edge DuckDB recursive CTE assigns identical clusters at the
    * fixtures' similarity levels, and the quality score is the
    * bit-exact cross-engine composite q_quality_gate already pins.
    */
  def keepBest(spark: SparkSession, sf: String): DataFrame = {
    val clusters = nearDupClustersLsh(spark, sf)
    val quality = Text.quality(spark, sf)
      .select(col("doc_id"), col("quality_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    clusters.join(quality, Seq("doc_id"))
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("quality_score"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** Corpus-level exact SPAN dedup (the C4 "repeated span" rule and
    * Lee et al.'s substring dedup, adapted to this corpus's flat
    * word-stream texts): every document is cut into consecutive
    * non-overlapping `span`-word chunks, a chunk that occurs anywhere
    * else in the corpus keeps only its GLOBAL first occurrence
    * (smallest (doc_id, pos) — packed into one long so the argmin is
    * a plain partial-aggregable `min`), and each document is
    * reassembled from its surviving chunks. Unlike document-level
    * [[exact]], this removes boilerplate that contaminates otherwise
    * distinct documents — at scale it is the rule that strips repeated
    * headers/footers/licenses out of a crawl.
    *
    * Shape at 100 TB: chunking is a shuffle-free map (array slice on
    * the split word array, never an explode of words); the only wide
    * ops are one groupBy on the chunk fingerprint (partial-agg min),
    * one hash-equality join back, and the per-doc regroup. A
    * boilerplate mega-chunk (same header in 10⁷ docs) skews the join
    * key — AQE skew-join splits it, and the owner side is one row per
    * distinct chunk so the broadcast-side stays tiny per key.
    * Reassembly sorts only within one document (array_sort over its
    * own chunk structs), never a global order.
    */
  def spanDedup(spark: SparkSession, sf: String, span: Int = 10): DataFrame =
    spanDedupFrom(Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")), span)

  /** The span-dedup kernel over an arbitrary (doc_id, text) frame —
    * shared with the spec that proves the chunk rule's known blind
    * spot (a boundary-straddling repeat shorter than any aligned full
    * chunk), which [[graft.operators.Text.substrDedup]] closes. */
  private[graft] def spanDedupFrom(docs: DataFrame, span: Int = 10): DataFrame = {
    val chunks = spanChunks(docs, span)
    // global first occurrence per chunk content; (doc_id, pos) packed
    // into one long so the map side combines to one row per chunk.
    // Censused and joined on the 64-bit chunk FINGERPRINT (the
    // q_dup_rate_by_source pattern — see [[boilerplate]]): the argmin
    // exchange moves 8-byte hashes, not span-word strings; text only
    // shuffles on the reassembly regroup below.
    val hashed = chunks.withColumn("chunk_h", xxhash64(col("chunk")))
    val owners = hashed.groupBy(col("chunk_h"))
      .agg(min(col("doc_id") * 1000000L + col("pos")).as("first"))
    hashed.join(owners, Seq("chunk_h"))
      .withColumn("keep", col("doc_id") * 1000000L + col("pos") === col("first"))
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(
              when(col("keep"), struct(col("pos"), col("chunk"))))),
            s => s.getField("chunk")), " ").as("clean_text"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("kept"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("dropped"))
      .orderBy(col("doc_id"))
  }

  /** The aligned `span`-word chunks of every non-empty document:
    * (doc_id, pos, chunk), chunk `pos` holding words
    * [pos·span, (pos+1)·span) — shuffle-free (array slice, no word
    * explode). Shared by [[spanDedupFrom]] and [[boilerplate]], whose
    * DuckDB twins chunk the same way. */
  private def spanChunks(docs: DataFrame, span: Int): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), posexplode(
        transform(
          sequence(lit(0L),
            floor((size(col("ws")) + (span - 1)).cast("long") / span) - 1L),
          i => array_join(slice(col("ws"), (i * span + 1).cast("int"), lit(span)),
            " "))).as(Seq("pos", "chunk")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("chunk"))

  /** Document-frequency floor for [[boilerplate]]: a chunk present in
    * ≥ this many DISTINCT documents is boilerplate (the C4 "line in
    * ≥3 pages" rule). Interpolated into both engines. */
  val BoilerDocFreq = 3

  /** Corpus-level BOILERPLATE scrub — the complement of [[spanDedup]]'s
    * first-occurrence rule: a `span`-word chunk whose DOCUMENT
    * frequency reaches [[BoilerDocFreq]] is removed from EVERY
    * document, first occurrence included (C4's "any line shared by
    * three or more pages is boilerplate" rule, Raffel et al. 2020 —
    * a chunk that widespread is template/license/navigation text, and
    * keeping one copy, as spanDedup does, would still train on it).
    * Non-boilerplate repeats (doc freq 2) survive untouched on BOTH
    * occurrences — the two rules are different curation tools and the
    * engine ships both.
    *
    * Shape at 100 TB: identical to [[spanDedup]] — shuffle-free
    * chunking (array slice, no word explode), one partial-agg groupBy
    * on the 64-bit chunk fingerprint (`count distinct doc` collapses
    * map-side via the (hash, doc) pre-distinct), one hash-equality
    * join back, one per-doc regroup with array_sort-local reassembly.
    * The mega-chunk skew note carries over verbatim (AQE skew-join on
    * the hash key).
    */
  def boilerplate(spark: SparkSession, sf: String, span: Int = 10): DataFrame = {
    val chunks = spanChunks(Tables.load(spark, sf, "documents"), span)
    // document frequency per chunk content, censused and joined on a
    // 64-bit FINGERPRINT of the chunk (the q_dup_rate_by_source
    // pattern): the census exchange carries 8-byte hashes instead of
    // 10-word strings — ~an order of magnitude less shuffle at corpus
    // scale — and only the reassembly groupBy below legitimately moves
    // text. Pre-distinct on (hash, doc) keeps the count
    // partial-aggregable per key; a 64-bit collision would conflate
    // two chunks' df (≈n²/2⁶⁵ — negligible against corpus sizes).
    val hashed = chunks.withColumn("chunk_h", xxhash64(col("chunk")))
    val docFreq = hashed.select(col("chunk_h"), col("doc_id")).distinct()
      .groupBy(col("chunk_h")).agg(count(lit(1)).as("df"))
    hashed.join(docFreq, Seq("chunk_h"))
      .withColumn("keep", col("df") < BoilerDocFreq)
      .groupBy(col("doc_id"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(
              when(col("keep"), struct(col("pos"), col("chunk"))))),
            s => s.getField("chunk")), " ").as("clean_text"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("kept"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("dropped"))
      .orderBy(col("doc_id"))
  }

  /** Distributed connected components by iterative min-label
    * propagation (Pregel shape): each round every vertex takes the min
    * of its own label and its neighbors' labels; converges to the
    * component minimum in O(diameter) rounds. Each round is one
    * shuffle-join + partial-aggregated groupBy; the driver loop only
    * orchestrates and checks convergence (a count per round — the
    * standard Pregel halting test, not a data collect). Near-dup
    * graphs are dense blobs with tiny diameter, so rounds stay single
    * digits at any corpus size; a graph that does NOT converge within
    * `maxIter` rounds (adversarial long chain) automatically falls back
    * to large-star/small-star alternation ([[starLabels]], O(log²n)
    * rounds) instead of failing — the result is correct either way.
    *
    * Rounds run through [[Rounds.iterate]]: each is materialized per
    * `spark.graft.pool.materialize` (`parquet` for executor-loss
    * tolerance on long cluster runs) and the one before it freed.
    */
  def clustersFrom(docs: DataFrame, pairs: DataFrame,
      maxIter: Int = 25): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Propagation state is the GRAPH's nodes, not the corpus: docs
    // with no near-dup edge can never change label, so they sit out of
    // the loop entirely and union back as singletons at the end. On a
    // real corpus the similarity graph is a tiny fraction of the data —
    // iterating over all documents would shuffle dead weight every
    // round. (edges is symmetric, so `src` alone covers every node.)
    // materialized: the singleton anti-join below runs AFTER edges is
    // unpersisted — an un-materialized `nodes` would silently recompute
    // the whole pair join there
    val nodes = graft.CachePool.scratch(
      edges.select(col("src").as("doc_id")).distinct())
    // round 0 only projects the materialized nodes: no eager job of its own
    val init = nodes.select(col("doc_id"), col("doc_id").as("label"))
    val cc = Rounds.iterate("cc", graft.CachePool.Held(init),
        maxIter) { state =>
      val labels = state.select(col("doc_id"), col("label"))
      val neighborMin = edges
        .join(labels.withColumnRenamed("doc_id", "dst")
          .withColumnRenamed("label", "dst_label"), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("dst_label")).as("nmin"))
      // persisted: `next` references propagated TWICE (directly and
      // via `hop`) — without materialization the edges-join + neighbor
      // -min aggregation above, the heaviest stage of the round, would
      // run twice per round and halve the jump's round-count savings
      val propagated = labels.join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("label").as("prev"),
          least(col("label"), coalesce(col("nmin"), col("label")))
            .as("label"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // POINTER JUMPING: follow the label one hop (label ← min(label,
      // label(label))). Plain neighbor-min needs diameter(G) rounds —
      // fine for clique-ish near-dup graphs (D ≤ 2-3) but a long chain
      // of shuffle barriers on percolated graphs like embedding-cosine
      // similarity (D ~ 10-20 at permissive thresholds). The jump
      // halves the remaining pointer depth every round → O(log D)
      // rounds, one extra node-table join per round. Labels are always
      // node ids, so the self-join is total; convergence (changed=0)
      // is unchanged — the fixpoint is still the component minimum.
      val hop = propagated
        .select(col("doc_id").as("label"), col("label").as("hop_label"))
      // fold the convergence flag into the round's own projection: the
      // change count then reads the just-materialized partitions
      // instead of re-joining next against prev
      val jumped =
        least(col("label"), coalesce(col("hop_label"), col("label")))
      graft.CachePool.Held(propagated.join(hop, Seq("label"), "left")
          .select(col("doc_id"), jumped.as("label"),
            (jumped < col("prev")).as("chg")),
        () => propagated.unpersist())
    }(Rounds.noneChanged)
    // an unconverged propagation means the graph's diameter exceeds
    // maxIter — switch to the round-efficient algorithm rather than
    // either failing or (worse) silently emitting wrong labels
    val graphLabels =
      if (cc.halted) cc.state.select(col("doc_id"), col("label"))
      else starLabels(edges, nodes)
    val singletons = docs
      .join(nodes, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("label"))
    val byCluster = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
    val out = graphLabels.union(singletons)
      .select(col("doc_id"), col("label").as("cluster_id"))
      .withColumn("cluster_size", count(lit(1)).over(byCluster).cast("long"))
      .orderBy(col("doc_id"))
    edges.unpersist()
    out
  }

  /** Connected components by large-star/small-star alternation
    * (Kiveris et al., "Connected Components in MapReduce and Beyond"):
    * large-star hangs every node's larger neighbors off its minimum
    * neighbor, small-star re-points the smaller ones; alternating
    * contracts any graph to per-component stars in O(log²n) rounds —
    * the fallback for graphs whose diameter defeats min-label
    * propagation (a 10⁶-long chain converges in ~20 rounds here vs
    * 10⁶ there). Input must be the symmetric edge set and its nodes
    * (`doc_id`); returns (doc_id, label) for every node, label =
    * component minimum.
    */
  private def starLabels(edgesSym: DataFrame, nodes: DataFrame,
      maxRounds: Int = 50): DataFrame = {
    // convergence = edge-set fixpoint, detected by (count, hash-sum)
    // checksum equality — two scalar aggregates per round, no collect.
    // Each term is pmod-bounded below 2³⁰ so the long sum cannot
    // overflow (ANSI mode would throw) before ~2³³ edges.
    var prev = (-1L, -1L)
    val converged: DataFrame => Rounds.Verdict = { df =>
      val r = df.agg(count(lit(1)),
        sum(pmod(xxhash64(col("src"), col("dst")), lit(1000000007L)))).head()
      val cs = (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      val same = cs == prev
      prev = cs
      Rounds.Verdict(cs._1, same)
    }
    // the state is directed (src > dst), so self-loops are dropped: they
    // join no two nodes. A node whose only edge is a self-loop is then
    // in no star, and labels itself below as a root.
    val star = Rounds.iterate("cc-star",
        graft.CachePool.Held(edgesSym.filter(col("src") > col("dst"))),
        maxRounds) { cur =>
      val sym = cur.union(cur.select(col("dst").as("src"), col("src").as("dst")))
      // large-star: m(u) = min(Γ(u) ∪ {u}); emit (v, m(u)) for v>u.
      // Output is strictly downward-directed (v > u ≥ m).
      val mins = sym.groupBy("src").agg(min("dst").as("nmin"))
        .select(col("src"), least(col("src"), col("nmin")).as("m"))
      val large = sym.join(mins, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
      // small-star on the directed graph: all of u's (smaller)
      // neighbors AND u itself re-point at m(u) = min neighbor
      val mins2 = large.groupBy("src").agg(min("dst").as("m"))
      graft.CachePool.Held(large.join(mins2, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(mins2.select(col("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct())
    }(converged)
    require(star.halted,
      s"star contraction did not converge within $maxRounds rounds")
    // fixpoint is a star forest: every non-root points at its component
    // minimum; every other node is a root and labels itself
    val pointed = star.state
      .select(col("src").as("doc_id"), col("dst").as("label"))
    val roots = nodes.join(pointed, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("label"))
    pointed.union(roots)
  }

  // ---- MinHash + LSH ------------------------------------------------

  /** Number of minhash components and LSH layout (16 bands × 4 rows). */
  val NumHashes = 64
  val Bands = 16
  val RowsPerBand: Int = NumHashes / Bands

  /** Prime > 2^32 for the universal-hash family. */
  private val P = 4294967311L
  /** Deterministic coefficient families (fixed seed — RNG-free so
    * replans are stable). aᵢ < 2³¹ keeps aᵢ·h + bᵢ < 2⁶² — no ANSI
    * long-overflow at runtime. */
  private val As: Seq[Long] =
    (1 to NumHashes).map(i =>
      scala.util.hashing.byteswap32(i * 2654435761L.toInt).toLong.abs % (1L << 31) + 1)
  private val Bs: Seq[Long] =
    (1 to NumHashes).map(i =>
      scala.util.hashing.byteswap32((i + 977) * 40503).toLong.abs % P)

  /** Per-doc MinHash signature: shingle → 31-bit base hash →
    * (aᵢ·h+bᵢ) mod P per component, min over shingles. The base hash
    * and the 64-slot min accumulator are FUSED in one codegen'd loop
    * (`minhash_sig_str`) — no interpreted transform() pass, no
    * intermediate hash array, no shuffle, no UDF. */
  def minhashSignature(docs: DataFrame): DataFrame =
    docs.withColumn("minhash",
      graft.functions.ArrayOps.minhash_sig_str(col("sh"), As, Bs, P))

  /** (doc_id, minhash, band, band_key) rows straight from a
    * (doc_id, text) frame — the signature+banding pipeline shared by
    * the batch LSH path and the streaming ingest classifier (which
    * persists exactly these rows as its corpus index). */
  private[graft] def signedBanded(docs: DataFrame): DataFrame =
    minhashSignature(shingled(docs))
      .select(col("doc_id"), col("minhash"),
        posexplode(graft.functions.ArrayOps
          .band_keys(col("minhash"), Bands, RowsPerBand))
          .as(Seq("band", "band_key")))

  /** Signature-agreement near-dup criterion on the long count —
    * `agree ≥ ⌈threshold·k⌉` is exactly `est_jaccard ≥ threshold`
    * without the decimal round-trip (integer compare, no floats). */
  private[graft] def agreeAtLeast(a: Column, b: Column,
      threshold: Double): Column =
    graft.functions.ArrayOps.agree_count(a, b) >=
      lit(math.ceil(threshold * NumHashes).toLong)

  /** MinHash-LSH near-dup candidate pairs with signature-estimated
    * Jaccard (fraction of agreeing components) ≥ threshold.
    * Plan: map (signature) → explode bands (×16) → shuffle on
    * (band, key) → per-bucket pairs → distinct → estimate.
    */
  /** MinHash-LSH near-dup pairs, VERIFIED end to end — the full
    * production LSH pipeline: banding proposes candidates
    * (O(collisions), never all-pairs), the signature-agreement
    * estimate prunes at a margin BELOW threshold (est ≥ t − 0.15:
    * at 64 hashes the estimator's σ ≈ 0.06 at j = t, so a true pair
    * at the threshold clears the prune at ≈ 2.5σ — and the fixture's
    * pairs sit at j ≥ 0.9, 9σ clear), and each surviving candidate is
    * CONFIRMED against its true shingle sets — |A∩B| / |A∪B| via
    * `array_intersect` on the two bounded per-doc arrays, never by
    * re-exploding the corpus (the candidate set is the small frame
    * here; two narrow joins re-attach the arrays). The confirm makes
    * PRECISION exact (no sub-threshold pair can leak), while RECALL
    * is statistical: a true pair at similarity j survives only if
    * (a) some band of 4 rows fully agrees — miss prob (1−j⁴)¹⁶,
    * ≈ 2·10⁻⁵ at j = 0.9 but ≈ 0.34 at j = 0.5 — and (b) its
    * 64-hash agreement clears the t − 0.15 prune (≈ 2.5σ margin at
    * j = t, σ ≈ 0.06). On the fixtures every true pair sits at
    * j ≥ 0.9, so the recovered set EQUALS the brute-force pair set
    * and the row is DRIVER-CHECKABLE against the exact q_ngram_jaccard
    * oracle — a banding miss, estimator drift, or verify bug is a
    * missing or extra row, red at the gate. On corpora whose true
    * pairs crowd the threshold the index trades that tail of recall
    * for its O(collisions) cost — the quantified gap above, measured
    * by [[minhashRecall]]. The est-only candidate stream (what a
    * pipeline would persist as its index artifact) remains
    * [[minhashLshFrom]]. */
  def minhashLsh(spark: SparkSession, sf: String, threshold: Double = 0.5): DataFrame =
    // SESSION-POOLED (r17): five declared rows consume this verified
    // pair set (q_minhash_lsh, q_dup_matrix_lsh, the LSH clustering
    // family via nearDupClustersLsh, q_dup_methods_lsh,
    // q_contamination_lsh, curate_v3's survivor stage) — one build per
    // (dataset, session), every later consumer reads the checkpointed
    // pair frame (near-dup-bounded, tiny at any corpus scale).
    graft.CachePool.sessionCheckpoint(s"minhash-lsh-pairs:$threshold",
        spark, sf) {
      minhashLshBuild(spark, sf, threshold)
    }

  private[graft] def minhashLshBuild(spark: SparkSession, sf: String,
      threshold: Double): DataFrame = {
    val sh = shingledCached(spark, sf)
    val cand = minhashCandidates(sh)
      .filter(agreeAtLeast(col("mh_a"), col("mh_b"),
        math.max(threshold - 0.15, 0.0)))
      .select(col("doc_a"), col("doc_b"))
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("common",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jaccard",
        col("common").cast("double") /
          (size(col("sh_a")).cast("long") + size(col("sh_b")).cast("long") -
            col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q_minhash_lsh_saved: [[minhashLsh]] with candidates served from
    * the PERSISTED SIGNATURE INDEX — the dedup-side artifact story
    * ([[minhashLshFrom]]'s doc calls the signature frame "what a
    * pipeline persists as its index artifact"; this row makes that
    * true of wired code): signatures publish once through
    * [[IndexStore.saveMinhash]], banding/est-prune run over the
    * LOADED frame, and the exact confirm re-attaches the shingle
    * arrays from the corpus (the index holds signatures, not text).
    * Same output and oracle as q_minhash_lsh, so a signature
    * round-trip bit-flip surfaces as a pair diff at the gate. */
  def minhashLshSaved(spark: SparkSession, sf: String,
      threshold: Double = 0.5): DataFrame = {
    val (root, v) = IndexStore.freshArtifact("minhash")(
      IndexStore.saveMinhash(spark, sf, _))
    val signed = IndexStore.loadMinhash(spark, root, Some(v))
    val sh = shingledCached(spark, sf)
    val cand = minhashCandidatesFromSigs(signed)
      .filter(agreeAtLeast(col("mh_a"), col("mh_b"),
        math.max(threshold - 0.15, 0.0)))
      .select(col("doc_a"), col("doc_b"))
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("common",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jaccard",
        col("common").cast("double") /
          (size(col("sh_a")).cast("long") + size(col("sh_b")).cast("long") -
            col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Banded candidate pairs with both signatures attached — the
    * shared first half of the est-filtered and verified LSH paths. */
  private[graft] def minhashCandidates(docs: DataFrame): DataFrame =
    minhashCandidatesFromSigs(
      minhashSignature(docs).select(col("doc_id"), col("minhash")))

  /** The banding join over a prebuilt (doc_id, minhash) signature
    * frame — shared by the inline path and the artifact-served
    * [[minhashLshSaved]]. */
  private[graft] def minhashCandidatesFromSigs(signed0: DataFrame): DataFrame = {
    val signed = signed0.select(col("doc_id"), col("minhash"))
    // band key = xxhash64 over (band index, 4-component slice), fused
    // into one codegen'd loop (`band_keys`) — no interpreted
    // transform+slice lambda allocating a sub-array per band per row,
    // and no per-band string building (which bloated generated code
    // 16x and dominated Janino compile time)
    val banded = signed.select(
      col("doc_id"), col("minhash"),
      posexplode(graft.functions.ArrayOps
        .band_keys(col("minhash"), Bands, RowsPerBand))
        .as(Seq("band", "band_key")))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.minhash").as("mh_a"), col("b.minhash").as("mh_b"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Est-filtered candidate pairs — the signature-only output (what a
    * pipeline persists as its index artifact; no exact verify, no
    * second look at the shingle arrays). Shares [[minhashCandidates]]
    * with the verified path above. */
  private[graft] def minhashLshFrom(docs: DataFrame, threshold: Double): DataFrame = {
    // agree_count is the codegen'd signature-agreement kernel — the
    // interpreted zip_with+filter+size chain here was the last hot-path
    // HOF (one boxed call per slot per candidate pair, and post-banding
    // candidates are the big intermediate at scale). The decimal cast
    // path is unchanged: est_jaccard stays bit-identical.
    minhashCandidates(docs)
      .withColumn("est_jaccard",
        (graft.functions.ArrayOps.agree_count(col("mh_a"), col("mh_b"))
          .cast(DecimalType(18, 6)) / lit(NumHashes))
          .cast(DecimalType(18, 6)).cast("double"))
      .filter(col("est_jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Driver-visible LSH recall pin: the exact near-dup pairs
    * (n-gram Jaccard ≥ 0.5) that the MinHash-LSH candidate pass
    * recovers. The DuckDB oracle is the EXACT-pair query, so this row
    * is green iff LSH recall on the exact set is 100% — any banding
    * miss drops a row and fails the hash check. Statistically pinned:
    * the fixture's exact pairs all sit at j ≥ 0.9, where the 16×4
    * banding miss probability is (1−0.9⁴)¹⁶ ≈ 4·10⁻⁸ per pair.
    */
  def minhashRecall(spark: SparkSession, sf: String): DataFrame = {
    // The exact and LSH sides both read the SHARED shingle memo, so
    // documents are scanned/normalized/shingled once across this query
    // and the standalone q_ngram_jaccard / q_minhash_lsh entries —
    // structural sharing, not CacheManager plan-matching luck.
    val sh = shingledCached(spark, sf)
    val exact = ngramJaccardFrom(sh, threshold = 0.5)
    val candidates = minhashLshFrom(sh, threshold = 0.5)
      .select(col("doc_a"), col("doc_b"))
    exact.join(candidates, Seq("doc_a", "doc_b"), "left_semi")
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ---- SimHash ------------------------------------------------------

  /** 64-bit SimHash per doc: per-bit weighted vote over token hashes,
    * assembled into a long. Hashing and the 64-slot vote accumulator
    * run fused in one codegen'd loop (`simhash_sig_md5`) — not an
    * interpreted hashing pass feeding a separate aggregate. The vote
    * bits derive from each token's MD5 (two 32-bit hex halves), so the
    * ENTIRE signature — and therefore every hamming distance and the
    * whole pair set below — recomputes bit-identically in any engine
    * with an `md5()` builtin: this is what makes q_simhash_pairs a
    * row-for-row DuckDB oracle instead of a pinned-by-spec sketch row.
    * Banding on 16-bit chunks finds candidates; hamming ≤ 3 confirms. */
  def simhash(tokens: Column): Column =
    graft.functions.ArrayOps.simhash_sig_md5(tokens)

  def simhashPairs(spark: SparkSession, sf: String, maxHamming: Int = 3): DataFrame =
    // SESSION-POOLED (r17): q_simhash_pairs and both dup-method triage
    // rows consume this detector's pair set.
    graft.CachePool.sessionCheckpoint(s"simhash-pairs:$maxHamming",
        spark, sf) {
      simhashPairsBuild(spark, sf, maxHamming)
    }

  private def simhashPairsBuild(spark: SparkSession, sf: String,
      maxHamming: Int): DataFrame = {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        simhash(array_distinct(split(Text.normalized(col("text")), " ")))
          .as("simhash"))
    // 4 bands of 16 bits: near-identical docs agree on ≥1 band.
    val banded = docs.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("simhash"), b * 16).bitwiseAND(0xFFFFL)): _*))
        .as(Seq("band", "band_key")))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("long").as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q_cluster_sizes: the near-dup CLUSTER-SIZE census — how many
    * components of each size the similarity graph holds, the one-line
    * duplication-structure profile a curation team reads next to the
    * per-pair views (mass in size-1 components = clean corpus; a few
    * giant components = template families / mirrored feeds that
    * per-pair triage undercounts). Fed by the LSH-derived clusters
    * ([[nearDupClustersLsh]] — the 100 TB path; identical labels to
    * the exact-edge form at the fixtures' similarity levels, the
    * q_dup_clusters_lsh argument), so the census is pinned by the
    * SAME recursive-CTE oracle aggregated twice. Two partial aggs
    * over the label frame — output ≤ |distinct sizes| rows. */
  def clusterSizes(spark: SparkSession, sf: String): DataFrame =
    nearDupClustersLsh(spark, sf)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("cluster_size"))

  /** q_dup_methods: the near-dup METHOD-AGREEMENT triage — the three
    * independent pair detectors the repo ships (exact n-gram Jaccard
    * ≥ 0.5, SimHash hamming ≤ 3, hash-embedding cosine ≥ 0.9) laid
    * side by side per pair, with the method count. The Venn readout a
    * curation team reads before trusting any single detector: a pair
    * only SimHash catches is a token-permutation twin Jaccard keeps
    * (high bag overlap, different shingles); a pair only the
    * embedding catches is topical, not textual; 3-of-3 pairs are the
    * unambiguous mass every method would dedup. Dolma/RefinedWeb-style
    * pipelines run exactly this comparison when choosing their dedup
    * stack.
    *
    * Shape: each input is its own bounded candidate pipeline (already
    * driver-pinned individually); this row adds two full-outer joins
    * over NEAR-DUP PAIR frames — output-sized, tiny at any corpus
    * scale. The Jaccard leg is a PARAMETER (the
    * [[dupMatrixFrom]]/[[sweepOver]] pair-frame-agnostic convention):
    * the default row feeds the exact verification kernel, and
    * [[dupMethodAgreementLsh]] IS the documented 100 TB kernel swap —
    * [[minhashLsh]] candidates in, same agreement arithmetic; the
    * other two legs are already banded/blocked. */
  def dupMethodAgreement(spark: SparkSession, sf: String): DataFrame =
    dupMethodAgreementOver(spark, sf,
      ngramJaccard(spark, sf).select(col("doc_a"), col("doc_b")))

  /** q_dup_methods_lsh: the method-agreement triage with its Jaccard
    * leg fed by the VERIFIED MinHash-LSH pipeline — the 100 TB form
    * the triage's doc promises (banding proposes O(collisions)
    * candidates, the est-agreement margin prunes, each survivor is
    * confirmed on its true shingle arrays — never the raw-shingle
    * self-join). [[minhashLsh]] runs at the same 0.5 threshold as the
    * exact leg, and on the fixtures every true pair over 0.5 sits at
    * j ≥ 0.88 (banding miss ≤ 2·10⁻⁷ — the q_minhash_lsh argument),
    * so the recovered pair set EQUALS the exact set and the row is
    * pinned by the SAME q_dup_methods oracle: a banding miss, a
    * spurious survivor, or agreement-arithmetic drift is a row diff
    * at the gate, not a rows-only shrug. */
  def dupMethodAgreementLsh(spark: SparkSession, sf: String): DataFrame =
    dupMethodAgreementOver(spark, sf,
      minhashLsh(spark, sf).select(col("doc_a"), col("doc_b")))

  /** The SimHash and cosine legs of the method-agreement triage —
    * IDENTICAL between [[dupMethodAgreement]] and
    * [[dupMethodAgreementLsh]] (only the Jaccard leg differs), so the
    * twins share ONE computation per (dataset, session) instead of
    * re-running both detector pipelines each. The pooled frames are
    * the detectors' OUTPUT pair sets — near-dup-bounded, tiny at any
    * corpus scale — held as [[graft.CachePool]] entries. */
  private def dupMethodLegs(spark: SparkSession,
      sf: String): (DataFrame, DataFrame) =
    // r17: the detectors themselves are session-pooled now
    // ([[simhashPairs]], [[FeatureHash.hashEmbedNearDup]]), so the
    // legs are plain projections over the shared checkpointed frames —
    // the standalone q_simhash_pairs / q_hash_embed_neardup rows and
    // both triage rows read the same bytes.
    (simhashPairs(spark, sf).select(col("doc_a"), col("doc_b")),
      FeatureHash.hashEmbedNearDup(spark, sf)
        .select(col("doc_a"), col("doc_b")))

  /** The agreement arithmetic over an arbitrary (doc_a, doc_b)
    * Jaccard-leg pair frame — exact and LSH-fed rows share it, so the
    * two can only differ through their candidate sets. */
  private[graft] def dupMethodAgreementOver(spark: SparkSession,
      sf: String, jaccardPairs: DataFrame): DataFrame = {
    val j = jaccardPairs
      .select(col("doc_a"), col("doc_b"), lit(1L).as("by_jaccard"))
    val (sLeg, cLeg) = dupMethodLegs(spark, sf)
    val s = sLeg
      .select(col("doc_a"), col("doc_b"), lit(1L).as("by_simhash"))
    val c = cLeg
      .select(col("doc_a"), col("doc_b"), lit(1L).as("by_cosine"))
    j.join(s, Seq("doc_a", "doc_b"), "full")
      .join(c, Seq("doc_a", "doc_b"), "full")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("by_jaccard"), lit(0L)).as("by_jaccard"),
        coalesce(col("by_simhash"), lit(0L)).as("by_simhash"),
        coalesce(col("by_cosine"), lit(0L)).as("by_cosine"))
      .withColumn("n_methods",
        col("by_jaccard") + col("by_simhash") + col("by_cosine"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q_containment_prefix: [[containmentPairs]] computed through a
    * ONE-SIDED PREFIX FILTER (SSJoin, Chaudhuri et al. ICDE'06 — the
    * containment-threshold member of the AllPairs family): for
    * containment ≥ tNum/tDen a qualifying pair needs
    * |A∩B| ≥ c = ⌈t·|A|⌉ shared shingles, so A's
    * `|A| − c + 1` RAREST shingles (global df order — the same
    * rarest-first discipline as [[allPairsJaccard]]) must intersect B
    * by pigeonhole: candidate completeness is a THEOREM, which is
    * what containment needs at scale — MinHash banding bounds
    * JACCARD, and the subset-duplicate pairs containment exists to
    * catch (short doc quoted whole inside a long one) are exactly
    * the low-Jaccard pairs banding misses. Only A-side prefixes
    * enter the join (the B side stays full — B's required overlap
    * depends on |A|, so no B prefix can be precomputed), cutting the
    * exploded join volume by ≈ t on the probe side and keeping the
    * join keys the rarest shingles (the frequent-token hot buckets
    * never enter from the A side). Every candidate is then verified
    * on its true shingle arrays — same exact output, same DuckDB
    * oracle as q_containment, spec-pinned equal row-for-row. */
  def containmentPrefixPairs(spark: SparkSession, sf: String,
      tNum: Int = 3, tDen: Int = 5): DataFrame = {
    // r17 (the allPairsJaccard lessons, ported): shingles are
    // DICTIONARY-ENCODED to dense long ids assigned in global rarity
    // order (df asc, shingle asc — [[featureIds]]), so the candidate
    // join keys become 8-byte longs instead of 3-word strings, the
    // per-doc rarity ranking degenerates to one int-array sort, and
    // the verification arrays shrink ~10×
    // in every exchange that carries them. The candidate join also
    // gains the PPJoin POSITIONAL filter adapted to one-sided
    // containment: a match row at A-prefix position pa / B-position pb
    // upper-bounds the pair's overlap at 1 + min(n_a−pa−1, n_b−pb−1)
    // (every other shared feature sits after the pair's FIRST shared
    // feature in both rarity-sorted arrays), so rows whose bound falls
    // below c = ceil(t·n_a) drop BEFORE the distinct — completeness
    // stays a theorem because the first-shared-feature row always
    // passes (overlap ≥ c implies the bound ≥ c there), and the first
    // shared feature is inside A's prefix by the pigeonhole that
    // defines it. Measured at sf0.1: 5.25 s → see OPTIMIZATION_r17.md.
    val prefixed = prefixedSets(shingledCached(spark, sf)
      .select(col("doc_id"), explode(col("sh")).as("w")), tNum, tDen)
    val aTok = prefixed.select(col("doc_id").as("doc_a"),
      col("n").as("na"), posexplode(col("prefix")).as(Seq("pa", "fid")))
    val bTok = prefixed.select(col("doc_id").as("doc_b"),
      col("n").as("nb"), posexplode(col("fs")).as(Seq("pb", "fid")))
    val cand = aTok.join(bTok, Seq("fid"))
      .filter(col("doc_a") =!= col("doc_b") &&
        (lit(1L) + least(col("na") - col("pa") - 1,
          col("nb") - col("pb") - 1)) * tDen >= col("na") * tNum)
      .select(col("doc_a"), col("doc_b")).distinct()
    val sets = prefixed.select(col("doc_id"), col("fs"), col("n"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("fs").as("fs_a"),
        col("n").as("n_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("fs").as("fs_b")),
        "doc_b")
      .withColumn("common",
        size(array_intersect(col("fs_a"), col("fs_b"))).cast("long"))
      .withColumn("containment_bp", expr("(common * 10000) div n_a"))
      .filter(col("containment_bp") >=
        lit(Math.round(tNum.toDouble / tDen * 10000)))
      .select(col("doc_a"), col("doc_b"), col("common"), col("n_a"),
        col("containment_bp"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Spec receipt for [[containmentPrefixPairs]]: (Σ prefix lengths,
    * Σ shingle-set sizes) — the probe-side join volume the one-sided
    * filter admits vs. what the brute-force kernel explodes. */
  private[graft] def containmentPrefixMass(spark: SparkSession,
      sf: String, tNum: Int = 3, tDen: Int = 5): (Long, Long) = {
    val n = shingledCached(spark, sf)
      .select(size(col("sh")).cast("long").as("n"))
    val row = n.agg(
      sum(expr(s"n - (($tNum * n + ${tDen - 1}) div $tDen) + 1")),
      sum(col("n"))).head()
    (row.getLong(0), row.getLong(1))
  }

  // ---- AllPairs prefix filtering ------------------------------------

  /** (w, df) feature counts plus `fid`, the dense global rank in
    * (df asc, w asc) order — [[TwoPhase.prefix]] over (df, 8-char
    * feature prefix) buckets, which are contiguous under that order
    * (every feature sharing a prefix is adjacent under w). fid equals
    * the bare global row_number, which is what the DuckDB oracle's
    * candidate set pins; the bucket key MUST therefore be
    * order-preserving under (df, w) — a hash-salted sub-bucket would
    * bound size better but reorders ties and desynchronizes the
    * oracle. Residual bound, stated honestly: at crawl scale most
    * shingles have df=1 and first words are Zipfian, so the worst
    * (df=1, prefix) bucket holds the trigrams sharing one common
    * first-word-plus-start-of-second (8 chars reaches into word two,
    * where 2 chars left several percent of the vocabulary in one
    * bucket). Past that, the same construction nests: a second
    * (prefix-within-bucket, offset) layer bounds any bucket without
    * touching the total order; the offsets broadcast is the next
    * constraint to watch, not the window partition. */
  private def featureIds(counts: DataFrame): DataFrame =
    TwoPhase.prefix(counts.withColumn("pre", substring(col("w"), 1, 8)),
      Nil, Seq("df", "pre"), Seq(col("df"), col("w")), lit(1L), "fid")

  /** The PPJoin side of [[containmentPrefixPairs]] and
    * [[allPairsJaccard]] over (doc_id, w) feature rows: (doc_id, fs, n,
    * prefix). Features are DICTIONARY-ENCODED to dense long ids in
    * global rarity order ([[featureIds]]), so the per-doc canonical
    * ranking degenerates to one int-array sort (`fs`, size `n`), the
    * candidate join keys become longs, and the verification arrays
    * shrink ~10× vs. carrying shingle strings. `prefix` is the first
    * n − ⌈t·n⌉ + 1 (≥ 1) rarest ids. Materialized once (docs-sized,
    * ints only): the candidate join consumes it on both sides and the
    * verification joins twice more — un-materialized, each consumer
    * would replay the whole tokenize→rank→sort derivation. */
  private def prefixedSets(features: DataFrame, tNum: Int,
      tDen: Int): DataFrame = {
    val fids = featureIds(features.groupBy(col("w")).agg(count(lit(1)).as("df")))
    graft.CachePool.scratch(features.join(fids.select(col("w"), col("fid")), "w")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("fid"))).as("fs"))
      .select(col("doc_id"), col("fs"), size(col("fs")).cast("long").as("n"))
      .withColumn("prefix", expr(
        s"slice(fs, 1, cast(n - (($tNum * n + ${tDen - 1}) div $tDen) + 1 as int))")))
  }

  /** EXACT all-pairs Jaccard join over distinct word-TRIGRAM sets via
    * prefix filtering (AllPairs, Bayardo et al. WWW'07; the PPJoin
    * family). Unlike [[ngramJaccard]] — which self-joins on EVERY
    * feature, the known skew hazard — only each document's PREFIX
    * under a global rarest-first feature order enters the join. For
    * Jaccard ≥ t a qualifying pair must overlap by ≥ ⌈t·|A|⌉
    * features, so the first `|A| − ⌈t·|A|⌉ + 1` features of each side
    * (rarest first) must intersect: candidate completeness is a
    * theorem, not a probability, which is what separates this from
    * the MinHash/LSH path — same exact answer as the brute-force
    * kernel, shuffle volume roughly halved (at t = 1/2 the prefix is
    * ~half the features), and the join keys are by construction the
    * RAREST features (the frequent-token hot buckets that skew
    * [[ngramJaccard]] never reach the join at all).
    *
    * Everything stays integer-exact: ⌈t·s⌉ = `(s+1) div 2` at
    * t = 1/2, the final test is `2·|A∩B| ≥ |A∪B|`, and the emitted
    * score is basis points by integer div — no float divergence
    * between engines. Intersections are computed per CANDIDATE pair
    * with `array_intersect` on the two (deduped, bounded) feature
    * arrays, not by re-exploding the corpus. A size-compatibility
    * guard (`max·tNum ≤ min·tDen`) prunes cross-length candidates
    * before the intersect. The per-feature document frequency that
    * defines the global order is itself one partial-agg groupBy —
    * vocabulary-sized, never corpus-sized.
    */
  def allPairsJaccard(spark: SparkSession, sf: String,
      tNum: Int = 1, tDen: Int = 2): DataFrame = {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0))
          .as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        array_distinct(
          graft.functions.ArrayOps.shinglesAll(col("toks"), 3)).as("ws"))
    // s = |A|, the set size the Jaccard bounds below are written in
    val prefixed = prefixedSets(
      docs.select(col("doc_id"), explode(col("ws")).as("w")), tNum, tDen)
      .withColumnRenamed("n", "s")
    // posexplode: the 0-based prefix position feeds the PPJoin
    // positional filter below
    val pTok = prefixed.select(col("doc_id"), col("s"),
      posexplode(col("prefix")).as(Seq("p", "fid")))
    // PPJoin positional filter. Jaccard ≥ tNum/tDen needs overlap
    // |A∩B| ≥ tNum·(s_a+s_b)/(tNum+tDen); for a match row at prefix
    // positions (p_a, p_b), every OTHER shared feature of a true pair
    // sits after those positions in both ranked arrays on the pair's
    // first shared feature, so 1 + min(s_a−p_a−1, s_b−p_b−1) upper-
    // bounds the overlap there. Pruning rows whose bound falls below
    // the requirement (cross-multiplied, no ceil needed) keeps that
    // first-match row for every true pair — candidate completeness
    // stays a theorem — while dropping late-position collisions
    // BEFORE the distinct.
    val cand = pTok.as("a")
      .join(pTok.as("b"),
        col("a.fid") === col("b.fid") && col("a.doc_id") < col("b.doc_id") &&
          greatest(col("a.s"), col("b.s")) * tNum <=
            least(col("a.s"), col("b.s")) * tDen &&
          (lit(1) + least(col("a.s") - col("a.p") - 1,
            col("b.s") - col("b.p") - 1)) * (tNum + tDen) >=
            (col("a.s") + col("b.s")) * tNum)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sets = prefixed.select(col("doc_id"), col("fs"), col("s"))
    cand
      .join(sets.select(col("doc_id").as("doc_a"),
        col("fs").as("fs_a"), col("s").as("s_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"),
        col("fs").as("fs_b"), col("s").as("s_b")), "doc_b")
      .withColumn("inter_size",
        size(array_intersect(col("fs_a"), col("fs_b"))).cast("long"))
      .withColumn("union_size", col("s_a") + col("s_b") - col("inter_size"))
      .filter(col("inter_size") * tDen >= col("union_size") * tNum)
      .select(col("doc_a"), col("doc_b"), col("inter_size"),
        col("union_size"),
        expr("(inter_size * 10000) div union_size").as("jaccard_bp"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The brute-force threshold-sweep replay, parameterized by the
    * threshold list — one definition for q_dedup_sweep (full
    * [[SweepThresholdsBp]]) and q_dedup_sweep_lsh (the ≥
    * banding-regime subset), so the two rows can never disagree about
    * the curve arithmetic. */
  private def dedupSweepSql(thresholds: Seq[Long]): String = {
    val ts = thresholds.map(t => s"($t)").mkString(", ")
    s"""WITH docs AS (
           SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(ws) - 2),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
           FROM (SELECT doc_id, string_split($Norm, ' ') AS ws FROM documents) t
           WHERE len(ws) >= 3),
         expl AS (SELECT doc_id, unnest(sh) AS shingle FROM docs),
         sizes AS (SELECT doc_id, len(sh) AS n_sh FROM docs),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     COUNT(*) AS common
                   FROM expl a JOIN expl b
                     ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         pb AS (SELECT doc_a, doc_b,
                  (common * 10000) // (sa.n_sh + sb.n_sh - common) AS j
                FROM pairs
                JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b),
         ts AS (SELECT CAST(v AS BIGINT) AS threshold_bp
                FROM (VALUES $ts) x(v)),
         sw AS (SELECT t.threshold_bp, p.doc_a, p.doc_b
                FROM pb p, ts t WHERE p.j >= t.threshold_bp)
         SELECT t.threshold_bp,
           CAST(COALESCE(np.n, 0) AS BIGINT) AS n_pairs,
           CAST(COALESCE(nd.n, 0) AS BIGINT) AS n_docs,
           CAST(COALESCE(dr.n, 0) AS BIGINT) AS n_would_drop
         FROM ts t
         LEFT JOIN (SELECT threshold_bp, COUNT(*) AS n FROM sw
                    GROUP BY 1) np USING (threshold_bp)
         LEFT JOIN (SELECT threshold_bp, COUNT(*) AS n FROM (
                      SELECT DISTINCT threshold_bp, d FROM (
                        SELECT threshold_bp, doc_a AS d FROM sw
                        UNION ALL SELECT threshold_bp, doc_b FROM sw))
                    GROUP BY 1) nd USING (threshold_bp)
         LEFT JOIN (SELECT threshold_bp, COUNT(DISTINCT doc_b) AS n
                    FROM sw GROUP BY 1) dr USING (threshold_bp)
         ORDER BY t.threshold_bp"""
  }

  /** Exact-edge connected-components oracle (recursive CTE transitive
    * closure) — shared by q_dup_clusters and q_dup_clusters_lsh, whose
    * Spark sides differ only in how the edge set is derived. */
  private lazy val DupClustersCtes: String =
    s"""WITH RECURSIVE
         docs AS (
           SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(ws) - 2),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
           FROM (SELECT doc_id, string_split($Norm, ' ') AS ws FROM documents) t
           WHERE len(ws) >= 3),
         expl AS (SELECT doc_id, unnest(sh) AS shingle FROM docs),
         sizes AS (SELECT doc_id, len(sh) AS n_sh FROM docs),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     COUNT(*) AS common
                   FROM expl a JOIN expl b
                     ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         jp AS (SELECT doc_a, doc_b
                FROM pairs
                JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b
                WHERE CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) >= 0.5),
         e AS (SELECT doc_a AS a, doc_b AS b FROM jp
               UNION SELECT doc_b, doc_a FROM jp),
         reach(a, b) AS (
           SELECT a, b FROM e
           UNION
           SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
         lab AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
                 FROM reach GROUP BY a),
         labeled AS (SELECT d.doc_id,
                       COALESCE(l.cluster_id, d.doc_id) AS cluster_id
                     FROM documents d LEFT JOIN lab l USING (doc_id))"""

  private lazy val DupMatrixSql: String =
    s"""WITH docs AS (
           SELECT doc_id, source,
             list_distinct(list_transform(generate_series(1, len(ws) - 2),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
           FROM (SELECT doc_id, source, string_split($Norm, ' ') AS ws
                 FROM documents) t
           WHERE len(ws) >= 3),
         expl AS (SELECT doc_id, unnest(sh) AS shingle FROM docs),
         sizes AS (SELECT doc_id, len(sh) AS n_sh FROM docs),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     COUNT(*) AS common
                   FROM expl a JOIN expl b
                     ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         jp AS (SELECT doc_a, doc_b FROM pairs
                JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b
                WHERE CAST(common AS DOUBLE)
                  / (sa.n_sh + sb.n_sh - common) >= 0.5),
         lab AS (SELECT least(da.source, db.source) AS src_a,
                   greatest(da.source, db.source) AS src_b,
                   jp.doc_a, jp.doc_b
                 FROM jp
                 JOIN docs da ON da.doc_id = jp.doc_a
                 JOIN docs db ON db.doc_id = jp.doc_b)
         SELECT np.src_a, np.src_b, np.n_pairs, nd.n_docs
         FROM (SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
               FROM lab GROUP BY 1, 2) np
         JOIN (SELECT src_a, src_b, CAST(COUNT(*) AS BIGINT) AS n_docs
               FROM (SELECT DISTINCT src_a, src_b, d FROM (
                       SELECT src_a, src_b, doc_a AS d FROM lab
                       UNION ALL SELECT src_a, src_b, doc_b FROM lab))
               GROUP BY 1, 2) nd USING (src_a, src_b)
         ORDER BY src_a, src_b"""

  private lazy val DupClustersSql: String =
    s"""$DupClustersCtes
         SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
         FROM labeled
         ORDER BY doc_id"""

  /** Exact-pair near-dup delta classification — shared by the batch
    * twin (q_delta_neardup) and the streaming ingest classifier
    * (q_stream_neardup), which must land on the identical answer. */
  private[graft] lazy val DeltaNearDupSql: String =
    s"""WITH docs AS (
           SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(ws) - 2),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
           FROM (SELECT doc_id, string_split($Norm, ' ') AS ws FROM documents) t
           WHERE len(ws) >= 3),
         expl AS (SELECT doc_id, unnest(sh) AS shingle FROM docs),
         sizes AS (SELECT doc_id, len(sh) AS n_sh FROM docs),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     COUNT(*) AS common
                   FROM expl a JOIN expl b
                     ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2),
         jp AS (SELECT doc_a, doc_b FROM pairs
                JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b
                WHERE CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) >= 0.5),
         w AS (SELECT CAST(floor((MAX(doc_id) + 1) * 0.8) AS BIGINT) AS w
               FROM documents),
         m AS (SELECT doc_b AS doc_id,
                 MIN(CASE WHEN doc_a < w THEN doc_a END) AS corpus_match,
                 MIN(CASE WHEN doc_a >= w THEN doc_a END) AS batch_match
               FROM jp, w WHERE doc_b >= w GROUP BY doc_b)
         SELECT b.doc_id,
           CASE WHEN corpus_match IS NOT NULL THEN 'near_dup_of_corpus'
                WHEN batch_match IS NOT NULL THEN 'near_dup_in_batch'
                ELSE 'new' END AS status,
           COALESCE(corpus_match, batch_match, CAST(-1 AS BIGINT)) AS matched_id
         FROM (SELECT doc_id FROM documents, w WHERE doc_id >= w) b
         LEFT JOIN m ON m.doc_id = b.doc_id
         ORDER BY b.doc_id"""

  /** The SimHash pair replay — shared by q_simhash_pairs and the
    * method-agreement triage (one definition, two rows). */
  private lazy val SimhashPairsSql: String =
    s"""WITH toks AS (
           SELECT doc_id, unnest(list_distinct(string_split($Norm, ' '))) AS w
           FROM documents),
         h AS (
           SELECT doc_id,
             list_reduce(list_transform(generate_series(1, 8),
               i -> strpos('0123456789abcdef', substr(md5(w), i, 1)) - 1),
               (a, b) -> a * 16 + b) AS h1,
             list_reduce(list_transform(generate_series(9, 16),
               i -> strpos('0123456789abcdef', substr(md5(w), i, 1)) - 1),
               (a, b) -> a * 16 + b) AS h2
           FROM toks),
         votes AS (
           SELECT doc_id, bits.b,
             2 * SUM(CASE WHEN bits.b < 32 THEN (h2 >> bits.b) & 1
                          ELSE (h1 >> (bits.b - 32)) & 1 END) - COUNT(*) AS v
           FROM h, (SELECT unnest(generate_series(0, 63)) AS b) bits
           GROUP BY 1, 2),
         sig AS (
           SELECT doc_id,
             string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS s
           FROM votes GROUP BY 1)
         SELECT doc_a, doc_b, hamming FROM (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_filter(generate_series(1, 64),
               i -> substr(a.s, i, 1) <> substr(b.s, i, 1))) AS BIGINT) AS hamming
           FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
         WHERE hamming <= 3
         ORDER BY doc_a, doc_b"""

  /** The exact n-gram Jaccard pair replay — shared by
    * q_ngram_jaccard and the method-agreement triage. */
  private[graft] lazy val NgramJaccardSql: String =
    s"""WITH docs AS (
           SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(ws) - 2),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
           FROM (SELECT doc_id, string_split($Norm, ' ') AS ws FROM documents) t
           WHERE len(ws) >= 3),
         expl AS (SELECT doc_id, unnest(sh) AS shingle FROM docs),
         sizes AS (SELECT doc_id, len(sh) AS n_sh FROM docs),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     COUNT(*) AS common
                   FROM expl a JOIN expl b
                     ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT doc_a, doc_b,
           CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) AS jaccard
         FROM pairs
         JOIN sizes sa ON sa.doc_id = doc_a
         JOIN sizes sb ON sb.doc_id = doc_b
         WHERE CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) >= 0.5
         ORDER BY doc_a, doc_b"""

  /** The exact-pair replay pinning the verified MinHash-LSH pipeline
    * — shared by q_minhash_lsh and its artifact-served twin
    * q_minhash_lsh_saved (candidates from the persisted signature
    * index must emit the same exact pair set). */
  private lazy val MinhashLshSql: String =
    s"""WITH docs AS (
           SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(ws) - 2),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
           FROM (SELECT doc_id, string_split($Norm, ' ') AS ws FROM documents) t
           WHERE len(ws) >= 3),
         expl AS (SELECT doc_id, unnest(sh) AS shingle FROM docs),
         sizes AS (SELECT doc_id, len(sh) AS n_sh FROM docs),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     COUNT(*) AS common
                   FROM expl a JOIN expl b
                     ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT doc_a, doc_b,
           CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) AS jaccard
         FROM pairs
         JOIN sizes sa ON sa.doc_id = doc_a
         JOIN sizes sb ON sb.doc_id = doc_b
         WHERE CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) >= 0.5
         ORDER BY doc_a, doc_b"""

  /** The brute-force asymmetric-containment replay — shared by
    * q_containment and its prefix-filtered twin q_containment_prefix
    * (candidate completeness is the theorem under test, so the
    * oracle deliberately skips the filter). */
  private lazy val ContainmentSql: String =
    s"""WITH docs AS (
           SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(ws) - 2),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
           FROM (SELECT doc_id, string_split($Norm, ' ') AS ws FROM documents) t
           WHERE len(ws) >= 3),
         expl AS (SELECT doc_id, unnest(sh) AS shingle FROM docs),
         sizes AS (SELECT doc_id, len(sh) AS n_a FROM docs),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     COUNT(*) AS common
                   FROM expl a JOIN expl b
                     ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
                   GROUP BY 1, 2)
         SELECT doc_a, doc_b, CAST(common AS BIGINT) AS common,
           CAST(s.n_a AS BIGINT) AS n_a,
           CAST((common * 10000) // s.n_a AS BIGINT) AS containment_bp
         FROM pairs p JOIN sizes s ON s.doc_id = p.doc_a
         WHERE (common * 10000) // s.n_a >= 6000
         ORDER BY doc_a, doc_b"""

  /** The method-agreement triage replay — shared by q_dup_methods
    * (exact Jaccard leg) and q_dup_methods_lsh (minhashLsh-fed leg):
    * the verified LSH pipeline must land on the identical agreement
    * table, so both rows pin against the brute-force three-detector
    * union. One definition per leg — a drifted leg fails its own row
    * AND both triage rows. */
  private lazy val DupMethodsSql: String =
    s"""WITH j AS (SELECT doc_a, doc_b FROM ($NgramJaccardSql)),
         sh AS (SELECT doc_a, doc_b FROM ($SimhashPairsSql)),
         ce AS (SELECT doc_a, doc_b FROM
           (${graft.operators.FeatureHash.hashEmbedNearDupOracle})),
         allp AS (SELECT doc_a, doc_b FROM j
                  UNION SELECT doc_a, doc_b FROM sh
                  UNION SELECT doc_a, doc_b FROM ce)
         SELECT p.doc_a, p.doc_b,
           CAST(CASE WHEN j.doc_a IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
             AS by_jaccard,
           CAST(CASE WHEN sh.doc_a IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
             AS by_simhash,
           CAST(CASE WHEN ce.doc_a IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
             AS by_cosine,
           CAST((CASE WHEN j.doc_a IS NOT NULL THEN 1 ELSE 0 END)
             + (CASE WHEN sh.doc_a IS NOT NULL THEN 1 ELSE 0 END)
             + (CASE WHEN ce.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_methods
         FROM allp p
         LEFT JOIN j ON j.doc_a = p.doc_a AND j.doc_b = p.doc_b
         LEFT JOIN sh ON sh.doc_a = p.doc_a AND sh.doc_b = p.doc_b
         LEFT JOIN ce ON ce.doc_a = p.doc_a AND ce.doc_b = p.doc_b
         ORDER BY p.doc_a, p.doc_b"""

  /** This family's rows, each beside its DuckDB oracle. */
  val rows: Seq[QueryRow] = Seq(
    QueryRow("q_dedup_exact", exact)(
      s"""WITH d AS (SELECT doc_id, md5($Norm) AS fingerprint FROM documents),
         c AS (SELECT fingerprint, MIN(doc_id) AS canonical_id,
                 COUNT(*) AS group_size FROM d GROUP BY fingerprint)
         SELECT doc_id, canonical_id, group_size,
           doc_id <> canonical_id AS is_dup
         FROM d JOIN c USING (fingerprint)
         ORDER BY doc_id"""),
    // Per-source dup-mass triage on the RAW text fingerprint (the
    // dataset-card n_unique_docs basis, not the normalized dedup
    // fingerprint — the card and this report must reconcile).
    QueryRow("q_dup_rate_by_source", dupRateBySource)(
      """WITH d AS (SELECT source, md5(text) AS fp FROM documents),
         per AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_unique
                 FROM d GROUP BY 1),
         multi AS (SELECT fp FROM (
                     SELECT fp, COUNT(DISTINCT source) AS ns
                     FROM d GROUP BY 1) WHERE ns > 1),
         sh AS (SELECT source, CAST(COUNT(DISTINCT d.fp) AS BIGINT)
                  AS shared_fps
                FROM d JOIN multi USING (fp) GROUP BY 1)
         SELECT source, n_docs, n_unique,
           CAST(n_docs - n_unique AS BIGINT) AS dup_within,
           CAST(((n_docs - n_unique) * 10000) // n_docs AS BIGINT)
             AS dup_pct_bp,
           CAST(COALESCE(shared_fps, 0) AS BIGINT) AS shared_fps
         FROM per LEFT JOIN sh USING (source)
         ORDER BY source"""),
    QueryRow("q_ngram_jaccard", ngramJaccard(_, _))(NgramJaccardSql),
    // Threshold-tuning curve over the same exact pair kernel: integer
    // basis-point jaccard, pairs fanned to the thresholds they clear,
    // three censuses per threshold, zero-filled spine.
    QueryRow("q_dedup_sweep", dedupThresholdSweep)(dedupSweepSql(SweepThresholdsBp)),
    // The LSH-fed sweep: the SAME brute-force curve restricted to the
    // thresholds the banding reliably feeds (every fixture pair over
    // 0.5 sits at j >= 0.88, banding miss <= 2e-7 — the
    // q_dup_matrix_lsh pinning argument), so candidate-set == exact
    // and one oracle pins both engines' pair derivations.
    QueryRow("q_dedup_sweep_lsh", dedupThresholdSweepLsh)(dedupSweepSql(SweepLshThresholdsBp)),
    // Source×source near-dup mass matrix: least/greatest-normalized
    // source pair, pair count + distinct docs involved. The SAME
    // brute-force oracle pins both the exact-kernel row and the
    // LSH-fed twin (the two engine pair sets coincide at the
    // fixtures' j >= 0.9 similarity levels — the q_dup_clusters_lsh
    // pinning argument).
    QueryRow("q_dup_matrix", dupMatrix)(DupMatrixSql),
    QueryRow("q_dup_matrix_lsh", dupMatrixLsh)(DupMatrixSql),
    // Asymmetric containment |A∩B|/|A| in integer basis points over
    // ORDERED pairs — the subset-duplicate direction Jaccard misses.
    // The prefix-filtered twin must reproduce the SAME brute-force
    // pair set verbatim (one-sided prefix completeness is a theorem,
    // so the oracle deliberately skips the filter — the q_allpairs
    // convention).
    QueryRow("q_containment", containmentPairs(_, _))(ContainmentSql),
    QueryRow("q_containment_prefix", containmentPrefixPairs(_, _))(ContainmentSql),
    // Prefix-filtered AllPairs exact bigram-set Jaccard (t = 1/2); the
    // oracle is the brute-force quadratic join the prefix filter must
    // reproduce verbatim — candidate completeness is the theorem under
    // test, so the oracle deliberately skips the filter
    QueryRow("q_allpairs", allPairsJaccard(_, _))(
      """WITH s AS (
           SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(ws) - 2),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
           FROM (SELECT doc_id,
                   regexp_extract_all(lower(text), '[a-z]+') AS ws
                 FROM documents) t
           WHERE len(ws) >= 3),
         p AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.sh, b.sh)) AS inter_size,
             len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS union_size
           FROM s a JOIN s b ON a.doc_id < b.doc_id)
         SELECT doc_a, doc_b, CAST(inter_size AS BIGINT) AS inter_size,
           CAST(union_size AS BIGINT) AS union_size,
           CAST((inter_size * 10000) // union_size AS BIGINT) AS jaccard_bp
         FROM p WHERE inter_size * 2 >= union_size
         ORDER BY doc_a, doc_b"""),
    // The VERIFIED MinHash-LSH pipeline (band → margin prune → exact
    // confirm on candidate shingle sets) must emit exactly the exact
    // pair set — the oracle IS the brute-force pair query above, so a
    // banding miss or a spurious survivor is a row diff, not a
    // rows-only shrug. Same single-division IEEE jaccard both sides.
    QueryRow("q_minhash_lsh", minhashLsh(_, _))(MinhashLshSql),
    QueryRow("q_minhash_lsh_saved", minhashLshSaved(_, _))(MinhashLshSql),
    // Recall pin: Spark emits the exact pairs RECOVERED by MinHash-LSH;
    // the oracle is the full exact-pair set, so any LSH miss = red row.
    QueryRow("q_minhash_recall", minhashRecall)(
      s"""WITH docs AS (
           SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(ws) - 2),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
           FROM (SELECT doc_id, string_split($Norm, ' ') AS ws FROM documents) t
           WHERE len(ws) >= 3),
         expl AS (SELECT doc_id, unnest(sh) AS shingle FROM docs),
         sizes AS (SELECT doc_id, len(sh) AS n_sh FROM docs),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     COUNT(*) AS common
                   FROM expl a JOIN expl b
                     ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY 1, 2)
         SELECT doc_a, doc_b,
           CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) AS jaccard
         FROM pairs
         JOIN sizes sa ON sa.doc_id = doc_a
         JOIN sizes sb ON sb.doc_id = doc_b
         WHERE CAST(common AS DOUBLE) / (sa.n_sh + sb.n_sh - common) >= 0.5
         ORDER BY doc_a, doc_b"""),
    // Connected components: DuckDB computes the transitive closure of
    // the near-dup edge set by recursive CTE; Spark's min-label
    // propagation must agree on every component assignment.
    QueryRow("q_dup_clusters", nearDupClusters)(DupClustersSql),
    // The LSH-fed clustering runs off MinHash candidate edges; at the
    // fixtures' similarity levels (all exact pairs at j >= 0.9) the
    // candidate edge set equals the exact set, so the SAME exact-edge
    // recursive-CTE oracle pins the assignment — an LSH miss or a
    // spurious candidate flips a cluster id and fails the hash.
    QueryRow("q_dup_clusters_lsh", nearDupClustersLsh)(DupClustersSql),
    // The cluster-size census off the LSH-fed labels, pinned by the
    // same recursive-CTE closure aggregated twice: a single drifted
    // component assignment changes a size bucket and fails the hash.
    QueryRow("q_cluster_sizes", clusterSizes)(
      s"""$DupClustersCtes
         SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
         FROM (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
               FROM labeled GROUP BY cluster_id)
         GROUP BY cluster_size
         ORDER BY cluster_size"""),
    QueryRow("q_delta_dedup", deltaDedup)(
      s"""WITH d AS (SELECT doc_id, md5($Norm) AS fp FROM documents),
         w AS (SELECT CAST(floor((MAX(doc_id) + 1) * 0.8) AS BIGINT) AS w FROM d),
         corpus AS (SELECT DISTINCT fp FROM d, w WHERE doc_id < w),
         batch AS (SELECT doc_id, fp FROM d, w WHERE doc_id >= w)
         SELECT doc_id, fp AS fingerprint,
           CASE WHEN fp IN (SELECT fp FROM corpus) THEN 'dup_of_corpus'
                WHEN MIN(doc_id) OVER (PARTITION BY fp) < doc_id THEN 'dup_in_batch'
                ELSE 'new' END AS status
         FROM batch
         ORDER BY doc_id"""),
    // Near-dup delta classification: the Spark side classifies off
    // LSH candidates; the oracle off EXACT n-gram Jaccard pairs — at
    // the fixtures' similarity levels (every exact pair at j >= 0.9)
    // the two pair sets coincide (same pinning as q_dup_clusters_lsh),
    // so any banding miss or spurious candidate flips a status/match
    // and fails the hash.
    QueryRow("q_delta_neardup", deltaNearDup(_, _))(DeltaNearDupSql),
    // Batch novelty vs the corpus shingle index (deltaDedup's 80/20
    // framing; docs under the shingle width have no row on either side)
    QueryRow("q_ngram_novelty", ngramNovelty)(
      s"""WITH docs AS (
           SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(ws) - 2),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
           FROM (SELECT doc_id, string_split($Norm, ' ') AS ws FROM documents) t
           WHERE len(ws) >= 3),
         w AS (SELECT CAST(floor((MAX(doc_id) + 1) * 0.8) AS BIGINT) AS w
               FROM documents),
         corpus AS (SELECT DISTINCT shingle FROM
           (SELECT unnest(sh) AS shingle FROM docs, w WHERE doc_id < w)),
         batch AS (SELECT doc_id, unnest(sh) AS shingle
                   FROM docs, w WHERE doc_id >= w)
         SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN c.shingle IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN c.shingle IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS novelty
         FROM batch b LEFT JOIN corpus c ON b.shingle = c.shingle
         GROUP BY b.doc_id
         ORDER BY b.doc_id"""),
    // the sketch row runs as its verification harness: exact counts +
    // undercount/error-bound verdict flags the DuckDB oracle pins to 1
    // (bloom membership bits themselves are engine-specific)
    // Bloom-sketch verdict row: the oracle recomputes the EXACT
    // novelty counts; the undercount-only and ≤5%-shortfall flags
    // (verified in Spark against the sketch's own output) pin to 1
    QueryRow("q_ngram_novelty_bloom", ngramNoveltyBloomCheck)(
      s"""WITH docs AS (
           SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(ws) - 2),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sh
           FROM (SELECT doc_id, string_split($Norm, ' ') AS ws FROM documents) t
           WHERE len(ws) >= 3),
         w AS (SELECT CAST(floor((MAX(doc_id) + 1) * 0.8) AS BIGINT) AS w
               FROM documents),
         corpus AS (SELECT DISTINCT shingle FROM
           (SELECT unnest(sh) AS shingle FROM docs, w WHERE doc_id < w)),
         batch AS (SELECT doc_id, unnest(sh) AS shingle
                   FROM docs, w WHERE doc_id >= w)
         SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN c.shingle IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           CAST(1 AS BIGINT) AS bloom_le_exact,
           CAST(1 AS BIGINT) AS shortfall_within_5pct
         FROM batch b LEFT JOIN corpus c ON b.shingle = c.shingle
         GROUP BY b.doc_id
         ORDER BY b.doc_id"""),
    // Survivorship: highest-quality doc per near-dup cluster. Clusters
    // from the exact-edge recursive CTE (== the LSH-fed assignment at
    // fixture similarity levels), score = the bit-exact cross-engine
    // composite q_quality_gate pins, winner by ROW_NUMBER with doc_id
    // tie-break.
    QueryRow("q_dedup_survivors", keepBest)(
      s"""$DupClustersCtes,
         clusters AS (
           SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id,
             CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
           FROM labeled),
         q AS (
           SELECT doc_id,
             (CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE)) * CAST(0.5 AS DOUBLE)
             + (CAST(len(list_filter(tk, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
                / CAST(len(tk) AS DOUBLE)) * CAST(0.3 AS DOUBLE)
             - (CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
                / CAST(greatest(length(text), 1) AS DOUBLE)) * CAST(0.2 AS DOUBLE) AS quality_score
           FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS tk FROM documents)),
         ranked AS (
           SELECT c.doc_id, c.cluster_id, c.cluster_size, q.quality_score,
             ROW_NUMBER() OVER (PARTITION BY c.cluster_id
               ORDER BY q.quality_score DESC, c.doc_id) AS rk
           FROM clusters c JOIN q ON q.doc_id = c.doc_id)
         SELECT doc_id, cluster_id, cluster_size, quality_score,
           rk = 1 AS keep
         FROM ranked
         ORDER BY doc_id"""),
    // Span-level exact dedup: multiple unnests in one DuckDB SELECT
    // zip positionally, which pairs each word with its index for the
    // 10-word chunking; (doc_id, pos) packs into one BIGINT exactly as
    // the Spark side does, so "global first occurrence" is the same
    // MIN on both engines.
    QueryRow("q_span_dedup", spanDedup(_, _))(
      """WITH c AS (
           SELECT doc_id, i // 10 AS pos,
             string_agg(word, ' ' ORDER BY i) AS chunk
           FROM (SELECT doc_id, unnest(ws) AS word,
                        unnest(range(len(ws))) AS i
                 FROM (SELECT doc_id, string_split(text, ' ') AS ws
                       FROM documents) t0
                 WHERE len(ws) > 0) t
           GROUP BY doc_id, i // 10),
         own AS (
           SELECT chunk, MIN(doc_id * 1000000 + pos) AS first
           FROM c GROUP BY chunk),
         j AS (
           SELECT c.doc_id, c.pos, c.chunk,
             (c.doc_id * 1000000 + c.pos = o.first) AS keep
           FROM c JOIN own o USING (chunk))
         SELECT doc_id,
           COALESCE(string_agg(chunk, ' ' ORDER BY pos)
             FILTER (WHERE keep), '') AS clean_text,
           CAST(COALESCE(SUM(CASE WHEN keep THEN 1 ELSE 0 END), 0) AS BIGINT) AS kept,
           CAST(COALESCE(SUM(CASE WHEN keep THEN 0 ELSE 1 END), 0) AS BIGINT) AS dropped
         FROM j GROUP BY doc_id ORDER BY doc_id"""),
    // C4 boilerplate rule: same chunking as q_span_dedup, but the
    // verdict is a DISTINCT-document frequency floor and removal is
    // total (first occurrence included) — a drifted df count or an
    // off-by-one threshold flips kept/dropped rows
    QueryRow("q_boilerplate", boilerplate(_, _))(
      s"""WITH c AS (
           SELECT doc_id, i // 10 AS pos,
             string_agg(word, ' ' ORDER BY i) AS chunk
           FROM (SELECT doc_id, unnest(ws) AS word,
                        unnest(range(len(ws))) AS i
                 FROM (SELECT doc_id, string_split(text, ' ') AS ws
                       FROM documents) t0
                 WHERE len(ws) > 0) t
           GROUP BY doc_id, i // 10),
         df AS (
           SELECT chunk, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
           FROM c GROUP BY chunk),
         j AS (
           SELECT c.doc_id, c.pos, c.chunk,
             (f.df < ${BoilerDocFreq}) AS keep
           FROM c JOIN df f USING (chunk))
         SELECT doc_id,
           COALESCE(string_agg(chunk, ' ' ORDER BY pos)
             FILTER (WHERE keep), '') AS clean_text,
           CAST(COALESCE(SUM(CASE WHEN keep THEN 1 ELSE 0 END), 0) AS BIGINT) AS kept,
           CAST(COALESCE(SUM(CASE WHEN keep THEN 0 ELSE 1 END), 0) AS BIGINT) AS dropped
         FROM j GROUP BY doc_id ORDER BY doc_id"""),
    // SimHash near-dup pairs, replayed OFF-ENGINE end to end: the
    // per-token 64 vote bits come from md5 hex halves (h1 = chars 1-8,
    // h2 = 9-16; token hash = h1<<32 | h2, so bit b<32 reads h2 and
    // bit 32+b reads h1), votes aggregate per (doc, bit), the
    // signature is the positive-vote bitstring, and the pair set is
    // every doc pair at hamming ≤ 3. Banding adds nothing to pin:
    // 3 differing bits touch ≤ 3 of the 4 16-bit bands, so ≥ 1 band
    // always collides (the pigeonhole spec) — the emitted set IS the
    // full hamming ball, banding-independent, hence exactly this SQL
    QueryRow("q_simhash_pairs", simhashPairs(_, _))(SimhashPairsSql),
    QueryRow("q_dup_methods", dupMethodAgreement)(DupMethodsSql),
    // Method-agreement triage: the three pair detectors' replays
    // (each individually pinned above/below) unioned and flagged —
    // one definition per leg, so a drifted leg fails BOTH its own
    // row and this one. The LSH-fed twin carries the SAME oracle
    // (the q_minhash_lsh argument: at the fixtures' similarity
    // levels the verified banded pipeline emits exactly the exact
    // pair set, so a banding miss is a row diff here too).
    QueryRow("q_dup_methods_lsh", dupMethodAgreementLsh)(DupMethodsSql)
  )
}
