package graft.operators

import graft.sources.SnapshotStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PERSIST-AND-SERVE for trained index/model artifacts — the FAISS
  * `write_index`/`read_index` analog, and the completion of the delta
  * family: [[Similarity.deltaIvfAssign]] freezes centroids within a
  * run; this store freezes them ACROSS runs. Every trainer in the
  * repo hands off a driver-bounded artifact (k×dim centroid grids,
  * m×k×(dim/m) PQ codebooks, dim-row SQ grids, vocabulary-sized NB
  * frames), so the artifact writes are one tiny parquet file under a
  * [[SnapshotStore]]-versioned root — the same ledger the dump store
  * uses, giving trained indexes the same pin/time-travel/vacuum story
  * as data: a 100 TB deployment trains once, publishes `v=N`, and
  * every serving job loads the pinned version instead of re-running
  * Lloyd/EM per query.
  *
  * Round-trip contract (spec-pinned, and driver-pinned through
  * q_ann_ivf_saved): all artifact payloads are exact integers
  * (quantized longs / token counts), so save → load reproduces the
  * trained artifact BIT-IDENTICALLY and a query served from the
  * loaded artifact equals the train-in-place query row-for-row.
  *
  * Write ordering follows the job engine (`Job.scala`): data lands
  * under `v=<next>` FIRST, the ledger entry publishes after — a crash
  * between the two leaves an unreferenced dir, never a ledger entry
  * pointing at nothing. Single-writer per root (the trainer job);
  * concurrent writers would move the next-version claim into the
  * ledger lock.
  */
object IndexStore {

  /** Train `kind`'s artifact and publish it into a fresh store root;
    * returns (root, published version). Every `*_saved` row trains
    * and publishes on each call, so Bench times the path Verify
    * checks. */
  private[graft] def freshArtifact(kind: String)(
      build: String => Long): (String, Long) = {
    val root = graft.TempDirs.create(s"graft-$kind-artifact")
    (root, build(root))
  }

  private def nextVersion(spark: SparkSession, root: String): Long =
    SnapshotStore.readLedger(spark, root).map(_.version)
      .maxOption.getOrElse(0L) + 1

  private def latestVersion(spark: SparkSession, root: String): Long = {
    val vs = SnapshotStore.readLedger(spark, root).map(_.version)
    require(vs.nonEmpty, s"no versions in index store $root")
    vs.max
  }

  private def publish(spark: SparkSession, root: String, jobName: String,
      rows: DataFrame): Long = {
    val v = nextVersion(spark, root)
    // one file: every artifact here is driver-bounded by construction
    rows.coalesce(1).write.mode("overwrite")
      .parquet(SnapshotStore.versionDir(root, v))
    SnapshotStore.appendVersion(spark, root, jobName,
      java.time.Instant.now())
    v
  }

  // ---- IVF centroids -------------------------------------------------

  /** Train (or reuse the in-JVM memo of) the IVF centroid index for
    * `sfDir`'s embeddings and publish it as a versioned artifact:
    * one (cell, pos, v) row per centroid component. Returns the
    * published version. */
  def saveIvf(spark: SparkSession, sfDir: String, root: String): Long = {
    val cents = Similarity.centroidsFor(spark, sfDir)
    val rows = cents.zipWithIndex.flatMap { case (c, cell) =>
      c.zipWithIndex.map { case (v, pos) => (cell.toLong, pos.toLong, v) }
    }
    val spark2 = spark
    import spark2.implicits._
    publish(spark, root, "ivf-centroids", rows.toDF("cell", "pos", "v"))
  }

  /** Load a published centroid artifact (latest version unless
    * pinned) back into the trainer's in-memory shape — bit-identical
    * to what [[saveIvf]] trained, whatever JVM wrote it. */
  def loadIvfCentroids(spark: SparkSession, root: String,
      version: Option[Long] = None): Seq[Seq[Long]] = {
    val v = version.getOrElse(latestVersion(spark, root))
    val rows = spark.read.parquet(SnapshotStore.versionDir(root, v))
      .select(col("cell"), col("pos"), col("v")).collect()
    val byCell = rows.groupBy(_.getLong(0))
    (0L until byCell.size).map { cell =>
      byCell(cell).sortBy(_.getLong(1)).map(_.getLong(2)).toSeq
    }
  }

  // ---- PQ codebooks ---------------------------------------------------

  /** Publish trained product-quantization codebooks: one
    * (m, cell, pos, v) row per sub-codebook component. */
  def savePq(spark: SparkSession, sfDir: String, root: String): Long = {
    val books = Similarity.pqCodebooksFor(spark, sfDir)
    val rows = books.zipWithIndex.flatMap { case (book, m) =>
      book.zipWithIndex.flatMap { case (c, cell) =>
        c.zipWithIndex.map { case (v, pos) =>
          (m.toLong, cell.toLong, pos.toLong, v)
        }
      }
    }
    val spark2 = spark
    import spark2.implicits._
    publish(spark, root, "pq-codebooks", rows.toDF("m", "cell", "pos", "v"))
  }

  def loadPqCodebooks(spark: SparkSession, root: String,
      version: Option[Long] = None): Seq[Seq[Seq[Long]]] = {
    val v = version.getOrElse(latestVersion(spark, root))
    val rows = spark.read.parquet(SnapshotStore.versionDir(root, v))
      .select(col("m"), col("cell"), col("pos"), col("v")).collect()
    val byM = rows.groupBy(_.getLong(0))
    (0L until byM.size).map { m =>
      val byCell = byM(m).groupBy(_.getLong(1))
      (0L until byCell.size).map { cell =>
        byCell(cell).sortBy(_.getLong(2)).map(_.getLong(3)).toSeq
      }
    }
  }

  // ---- SQ grid ---------------------------------------------------------

  /** Publish the scalar-quantization grid: one (pos, lo, step) row
    * per embedding dimension. */
  def saveSq(spark: SparkSession, sfDir: String, root: String): Long = {
    val (lo, step) = Similarity.sqGridFor(spark, sfDir)
    val rows = lo.indices.map(i => (i.toLong, lo(i), step(i)))
    val spark2 = spark
    import spark2.implicits._
    publish(spark, root, "sq-grid", rows.toDF("pos", "lo", "step"))
  }

  def loadSqGrid(spark: SparkSession, root: String,
      version: Option[Long] = None): (IndexedSeq[Long], IndexedSeq[Long]) = {
    val v = version.getOrElse(latestVersion(spark, root))
    val rows = spark.read.parquet(SnapshotStore.versionDir(root, v))
      .select(col("pos"), col("lo"), col("step")).collect()
      .sortBy(_.getLong(0))
    (rows.map(_.getLong(1)).toIndexedSeq, rows.map(_.getLong(2)).toIndexedSeq)
  }

  // ---- tokenizer artifacts ---------------------------------------------

  /** Publish the trained BPE merge table (rank, left, right, merged,
    * pair_count — [[Corpus.bpeMerges]]'s exact frame) as a versioned
    * artifact: the SentencePiece-`.model`-file analog, THE
    * most-persisted artifact of a real training pipeline — the corpus
    * re-tokenizes on every data refresh, the tokenizer trains once. */
  def saveBpe(spark: SparkSession, sfDir: String, root: String): Long =
    publish(spark, root, "bpe-merges", Corpus.bpeMerges(spark, sfDir))

  /** Load a published merge table back into the encoder's shape:
    * (left, right) pairs in rank order — bit-identical to what the
    * trainer handed [[Corpus.bpeEncodeWith]], whatever JVM wrote it. */
  def loadBpeMerges(spark: SparkSession, root: String,
      version: Option[Long] = None): Array[(String, String)] = {
    val v = version.getOrElse(latestVersion(spark, root))
    spark.read.parquet(SnapshotStore.versionDir(root, v))
      .select(col("rank"), col("left"), col("right")).collect()
      .sortBy(_.getLong(0))
      .map(r => (r.getString(1), r.getString(2)))
  }

  /** Publish the trained unigram-LM piece table (piece, cnt, bits —
    * [[Corpus.unigramTrain]]'s exact frame). The `bits` column IS the
    * serving cost table, so a load needs no recount. */
  def saveUnigram(spark: SparkSession, sfDir: String, root: String): Long =
    publish(spark, root, "unigram-pieces", Corpus.unigramTrain(spark, sfDir))

  /** Load a published piece table as the (piece → bits) cost map
    * [[Corpus.unigramEncodeWith]] consumes. */
  def loadUnigramBits(spark: SparkSession, root: String,
      version: Option[Long] = None): Map[String, Long] = {
    val v = version.getOrElse(latestVersion(spark, root))
    spark.read.parquet(SnapshotStore.versionDir(root, v))
      .select(col("piece"), col("bits")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  // ---- MinHash signature index ------------------------------------------

  /** Publish the corpus's MinHash signature frame (doc_id, minhash) —
    * the dedup index artifact a pipeline persists so later deliveries
    * band against frozen signatures instead of re-shingling the
    * indexed corpus. Corpus-sized — executor-written, never
    * collected (the [[saveNb]] posture). */
  def saveMinhash(spark: SparkSession, sfDir: String, root: String): Long = {
    val signed = Dedup.minhashSignature(Dedup.shingledCached(spark, sfDir))
      .select(col("doc_id"), col("minhash"))
    val v = nextVersion(spark, root)
    signed.write.mode("overwrite")
      .parquet(SnapshotStore.versionDir(root, v))
    SnapshotStore.appendVersion(spark, root, "minhash-signatures",
      java.time.Instant.now())
    v
  }

  def loadMinhash(spark: SparkSession, root: String,
      version: Option[Long] = None): DataFrame = {
    val v = version.getOrElse(latestVersion(spark, root))
    spark.read.parquet(SnapshotStore.versionDir(root, v))
  }

  // ---- winnowing fingerprint index --------------------------------------

  /** Publish the corpus's winnowing fingerprint SET (doc_id, fp) —
    * the MOSS-index analog for the substring-overlap family: later
    * audits and deliveries probe the frozen index instead of
    * re-fingerprinting the corpus. Corpus-sized — executor-written,
    * never collected (the [[saveMinhash]] posture); the packed
    * fingerprints are exact integers, so the round-trip is
    * bit-identical. */
  def saveWinnow(spark: SparkSession, sfDir: String, root: String): Long = {
    // pooled census (r17): the publish writes the same session-pooled
    // fingerprint set the in-place rows read — one corpus pass
    val fps = Text.winnowFpSetCached(spark, sfDir)
    val v = nextVersion(spark, root)
    fps.write.mode("overwrite")
      .parquet(SnapshotStore.versionDir(root, v))
    SnapshotStore.appendVersion(spark, root, "winnow-fps",
      java.time.Instant.now())
    v
  }

  def loadWinnow(spark: SparkSession, root: String,
      version: Option[Long] = None): DataFrame = {
    val v = version.getOrElse(latestVersion(spark, root))
    spark.read.parquet(SnapshotStore.versionDir(root, v))
  }

  // ---- backoff LM -------------------------------------------------------

  /** Publish the trained Stupid-Backoff n-gram model (trigram /
    * bigram / unigram count frames — [[Text.backoffModel]]) as one
    * versioned dir with three subtrees: the KenLM-model-file analog.
    * All three frames are n-gram-vocabulary-sized — executor-written,
    * never collected (the [[saveNb]] posture). */
  def saveBackoffLm(spark: SparkSession, sfDir: String, root: String): Long = {
    val (tri, bigr, uni) = Text.backoffModel(spark, sfDir)
    val v = nextVersion(spark, root)
    val dir = SnapshotStore.versionDir(root, v)
    tri.write.mode("overwrite").parquet(s"$dir/tri")
    bigr.write.mode("overwrite").parquet(s"$dir/bi")
    uni.write.mode("overwrite").parquet(s"$dir/uni")
    SnapshotStore.appendVersion(spark, root, "backoff-lm",
      java.time.Instant.now())
    v
  }

  def loadBackoffLm(spark: SparkSession, root: String,
      version: Option[Long] = None): (DataFrame, DataFrame, DataFrame) = {
    val v = version.getOrElse(latestVersion(spark, root))
    val dir = SnapshotStore.versionDir(root, v)
    (spark.read.parquet(s"$dir/tri"), spark.read.parquet(s"$dir/bi"),
      spark.read.parquet(s"$dir/uni"))
  }

  // ---- NB model ---------------------------------------------------------

  /** Publish the trained Naive Bayes router (classes + counts frames —
    * the frozen artifact the streaming scorer already treats as
    * immutable) as one versioned dir with two subtrees. The counts
    * frame is vocabulary-sized — executor-written, never collected. */
  def saveNb(spark: SparkSession, sfDir: String, root: String): Long = {
    // pooled trainer (r17): publishing and in-JVM scoring share one
    // deterministic train per (dataset, session)
    val (classes, counts) = Text.nbModelShared(spark, sfDir)
    val v = nextVersion(spark, root)
    val dir = SnapshotStore.versionDir(root, v)
    classes.write.mode("overwrite").parquet(s"$dir/classes")
    counts.write.mode("overwrite").parquet(s"$dir/counts")
    SnapshotStore.appendVersion(spark, root, "nb-model",
      java.time.Instant.now())
    v
  }

  def loadNb(spark: SparkSession, root: String,
      version: Option[Long] = None): (DataFrame, DataFrame) = {
    val v = version.getOrElse(latestVersion(spark, root))
    val dir = SnapshotStore.versionDir(root, v)
    (spark.read.parquet(s"$dir/classes"), spark.read.parquet(s"$dir/counts"))
  }
}
