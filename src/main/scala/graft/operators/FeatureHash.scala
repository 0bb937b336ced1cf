package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryRow, Tables}

/** Feature-hash ("hashing trick") document embeddings — the model-free
  * fallback every curation pipeline keeps for corpora where no neural
  * embedding exists yet: project a document's bag of words into a
  * fixed-width integer vector via a hash of each word (Weinberger et
  * al. 2009, the Vowpal Wabbit representation). The vectors are far
  * coarser than learned embeddings, but they are free (one token
  * aggregation, no model, no GPU), deterministic, and good enough to
  * drive duplicate triage before a real embedding run is budgeted.
  *
  * Everything is INTEGER and hash-derived (md5, available in both
  * engines — the same engine-portable-hash choice as the sampled
  * trainers), so the DuckDB oracle replays embeddings AND the
  * downstream near-dup verdicts bit-for-bit; no float appears in
  * either plan.
  *
  * Scale shape: the embedding is one (doc, word) partial-agg groupBy
  * followed by one (doc, dim) partial-agg groupBy — both map-side-
  * combinable, output bounded by docs × [[HashDims]], never
  * vocabulary-sized per doc. Near-dup candidate generation blocks on
  * each document's DOMINANT dimension (argmax |value|): one equality
  * shuffle, Σ block² pair work — the same cost argument as MinHash
  * banding, with the dominant dim playing the band role. The cosine
  * gate is evaluated as an integer square comparison
  * (100·dot² ≥ 81·|a|²·|b|² ⇔ cos ≥ 0.9), no sqrt, no float; the
  * comparison stays in BIGINT while dot < ~3·10⁹ and norm products
  * < ~10¹⁷ — beyond that (documents of ~10⁵ tokens at full vocab
  * collision load) promote the three factors to DECIMAL(38,0) in both
  * engines.
  */
object FeatureHash {

  /** Embedding width. 64 keeps the dense vector small enough that the
    * per-doc output is negligible next to the token stream while
    * leaving collision load at vocab/64 words per dimension —
    * production would use 2¹⁸⁺ dims; the machinery is identical. */
  val HashDims = 64

  /** Missing-second-dimension sentinel for the block key (a one-dim
    * document still blocks, on (d1, −1)). */
  val NoDim = -1L

  /** Cosine threshold for the near-dup verdict, as an integer ratio:
    * cos ≥ CosNum/CosDen (= 0.9). Interpolated into both engines via
    * the squared comparison CosDen²·dot² ≥ CosNum²·|a|²·|b|². */
  val CosNum = 9
  val CosDen = 10

  /** Per-(doc, dim) signed integer embedding values. Dimension and
    * sign both derive from md5(word): the first 8 hex chars pick the
    * dimension, the 9th picks the sign — the two-hash-function form
    * that makes the estimator unbiased (Weinberger et al.'s ξ). */
  private[graft] def embedFrom(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"),
          lit(0))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      .select(col("doc_id"),
        expr(s"cast(conv(substring(md5(w), 1, 8), 16, 10) as bigint)" +
          s" % $HashDims").as("dim"),
        expr("case when cast(conv(substring(md5(w), 9, 1), 16, 10)" +
          " as bigint) % 2 = 0 then tf else -tf end").as("sv"))
      .groupBy(col("doc_id"), col("dim"))
      .agg(sum(col("sv")).cast("long").as("val"))

  /** q_hash_embed: the sparse integer embedding table, one row per
    * (doc, non-empty dim) — sign cancellation can legitimately leave
    * val = 0; those rows stay (both engines emit the group). */
  def hashEmbed(spark: SparkSession, sf: String): DataFrame =
    embedFrom(Tables.load(spark, sf, "documents"))
      .orderBy(col("doc_id"), col("dim"))

  /** q_hash_embed_neardup: cosine ≥ 0.9 document pairs over the hash
    * embeddings, candidates blocked on the TOP-TWO dimension pair
    * (largest two |val| dims, ties to the smaller dim). One dominant
    * dim alone leaves only [[HashDims]] blocks — block size grows
    * linearly with the corpus and pair work quadratically; the
    * two-dim key squares the block count (64·63 + 64 keys), which is
    * exactly the band-count dial MinHash turns. Near-identical
    * documents agree on both top dims, so recall at the 0.9 gate is
    * unaffected (and the oracle replays the same blocking — the
    * candidate policy is part of the operator's definition, pinned,
    * not approximated). Output carries the exact integer evidence
    * (dot, both squared norms) so the verdict is auditable.
    */
  def hashEmbedNearDup(spark: SparkSession, sf: String): DataFrame =
    // SESSION-POOLED (r17): q_hash_embed_neardup and both dup-method
    // triage rows consume this detector's pair set.
    graft.CachePool.sessionCheckpoint("hash-embed-neardup", spark, sf) {
      hashEmbedNearDupBuild(spark, sf)
    }

  private def hashEmbedNearDupBuild(spark: SparkSession, sf: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    import org.apache.spark.sql.expressions.Window
    val emb = graft.CachePool.swapOne("hash-embed",
      embedFrom(Tables.load(spark, sf, "documents")))
    val norms = emb.groupBy(col("doc_id"))
      .agg(sum(col("val") * col("val")).cast("long").as("n2"))
    // per-doc window: bounded at HashDims rows per partition key, the
    // documented-safe window shape
    val ranked = emb.withColumn("rk", row_number().over(
      Window.partitionBy(col("doc_id"))
        .orderBy(abs(col("val")).desc, col("dim"))))
    val dom = ranked.filter(col("rk") <= 2)
      .groupBy(col("doc_id"))
      .agg(max(when(col("rk") === 1, col("dim"))).as("d1"),
        coalesce(max(when(col("rk") === 2, col("dim"))), lit(NoDim)).as("d2"))
    val pairs = dom.select(col("doc_id").as("doc_a"), col("d1"), col("d2"))
      .join(dom.select(col("doc_id").as("doc_b"), col("d1"), col("d2")),
        Seq("d1", "d2"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
    val dots = emb.select(col("doc_id").as("doc_a"), col("dim"),
        col("val").as("va"))
      .join(pairs, "doc_a")
      .join(emb.select(col("doc_id").as("doc_b"), col("dim"),
        col("val").as("vb")), Seq("doc_b", "dim"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("va") * col("vb")).cast("long").as("dot"))
    dots
      .join(norms.select(col("doc_id").as("doc_a"), col("n2").as("n2_a")),
        "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("n2").as("n2_b")),
        "doc_b")
      .filter(col("dot") > 0 &&
        col("dot") * col("dot") * (CosDen * CosDen) >=
          col("n2_a") * col("n2_b") * (CosNum * CosNum))
      .select(col("doc_a"), col("doc_b"), col("dot"),
        col("n2_a"), col("n2_b"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** DuckDB replay of [[hashEmbed]]. */
  def hashEmbedOracle: String =
    s"""WITH tok AS (
         SELECT doc_id,
           unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
         FROM documents),
       tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       hv AS (
         SELECT doc_id,
           ('0x' || substring(md5(w), 1, 8))::BIGINT % $HashDims AS dim,
           CASE WHEN ('0x' || substring(md5(w), 9, 1))::BIGINT % 2 = 0
             THEN tf ELSE -tf END AS sv
         FROM tf)
       SELECT doc_id, dim, CAST(SUM(sv) AS BIGINT) AS val
       FROM hv GROUP BY doc_id, dim
       ORDER BY doc_id, dim"""

  /** DuckDB replay of [[hashEmbedNearDup]]: same embedding CTEs, same
    * dominant-dim blocking, same integer square-comparison gate. */
  def hashEmbedNearDupOracle: String =
    s"""WITH tok AS (
         SELECT doc_id,
           unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
         FROM documents),
       tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       hv AS (
         SELECT doc_id,
           ('0x' || substring(md5(w), 1, 8))::BIGINT % $HashDims AS dim,
           CASE WHEN ('0x' || substring(md5(w), 9, 1))::BIGINT % 2 = 0
             THEN tf ELSE -tf END AS sv
         FROM tf),
       emb AS (SELECT doc_id, dim, CAST(SUM(sv) AS BIGINT) AS val
               FROM hv GROUP BY doc_id, dim),
       norms AS (SELECT doc_id, CAST(SUM(val * val) AS BIGINT) AS n2
                 FROM emb GROUP BY doc_id),
       rk AS (
         SELECT doc_id, dim,
           ROW_NUMBER() OVER (PARTITION BY doc_id
             ORDER BY abs(val) DESC, dim) AS rk
         FROM emb),
       dom AS (
         SELECT doc_id,
           MAX(CASE WHEN rk = 1 THEN dim END) AS d1,
           COALESCE(MAX(CASE WHEN rk = 2 THEN dim END), $NoDim) AS d2
         FROM rk WHERE rk <= 2 GROUP BY doc_id),
       pairs AS (
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM dom a JOIN dom b
           ON a.d1 = b.d1 AND a.d2 = b.d2 AND a.doc_id < b.doc_id),
       dots AS (
         SELECT p.doc_a, p.doc_b, CAST(SUM(ea.val * eb.val) AS BIGINT) AS dot
         FROM pairs p
         JOIN emb ea ON ea.doc_id = p.doc_a
         JOIN emb eb ON eb.doc_id = p.doc_b AND eb.dim = ea.dim
         GROUP BY p.doc_a, p.doc_b)
       SELECT d.doc_a, d.doc_b, d.dot, na.n2 AS n2_a, nb.n2 AS n2_b
       FROM dots d
       JOIN norms na ON na.doc_id = d.doc_a
       JOIN norms nb ON nb.doc_id = d.doc_b
       WHERE d.dot > 0
         AND d.dot * d.dot * ${CosDen * CosDen} >=
             na.n2 * nb.n2 * ${CosNum * CosNum}
       ORDER BY d.doc_a, d.doc_b"""

  /** This family's rows, each beside its DuckDB oracle. */
  val rows: Seq[QueryRow] = Seq(
    // Feature-hash embeddings: md5-derived dim/sign, integer values —
    // the whole representation replays bit-for-bit
    QueryRow("q_hash_embed", hashEmbed)(hashEmbedOracle),
    // ... and the near-dup screen over them: same top-two-dim
    // blocking, same integer square-comparison cosine gate
    QueryRow("q_hash_embed_neardup", hashEmbedNearDup)(hashEmbedNearDupOracle)
  )
}
