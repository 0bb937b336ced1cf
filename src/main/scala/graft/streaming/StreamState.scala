package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{LongType, StructType}

/** THE batchId-keyed store every streaming twin writes through: a
  * persistent index ([[LinkStream]]'s record/edge stores,
  * [[DocStream]]'s LSH band, winnow and substring indexes), a carried
  * scalar, or a twin's output dir. Each micro-batch lands one
  * `batch-N` subtree of parquet files whose rows carry the stored
  * `batch_id` column, plus the recurring COMPACTION pass that keeps a
  * long ingest's probe cost flat.
  *
  * The retry-idempotence contract lives here once: [[append]]
  * OVERWRITES batch N's own subtree (a micro-batch retried after its
  * write landed — crash between write and checkpoint commit — replaces
  * its rows instead of doubling them), and [[before]] shows batch N
  * only rows from STRICTLY EARLIER batches (the retry never probes its
  * own first attempt). The rule is a row predicate on the stored
  * column, not a subdir-name filter, so it survives [[compactState]]
  * renaming subtrees.
  */
object StreamState {

  /** `schema` plus the stored lineage column (as is when it has one). */
  private def withBatchId(schema: StructType): StructType =
    if (schema.fieldNames.contains("batch_id")) schema
    else schema.add("batch_id", LongType)

  private def fs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Land batch `batchId`'s rows of `df` under `dir/batch-<batchId>`,
    * stamped with the `batch_id` column; a rewrite of the same batch
    * replaces its subtree. Parent dirs are created by the write. */
  def append(dir: String, df: DataFrame, batchId: Long): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite").parquet(s"$dir/batch-$batchId")

  /** Every row of the store, read through `schema` (name `batch_id` in
    * it to get the lineage column). Extra physical columns are not read
    * (parquet column pruning), so adding a column to a store's schema
    * stays backward-compatible with older subtrees. A store that was
    * never written reads as an empty frame of `schema`, so no caller
    * creates a store dir up front. */
  def read(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    if (!fs(spark, dir).exists(new org.apache.hadoop.fs.Path(dir)))
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else scan(spark, schema, dir)

  /** Schema-pinned recursive read of the parquet files under `paths`. */
  private def scan(spark: SparkSession, schema: StructType,
      paths: String*): DataFrame =
    spark.read.schema(schema)
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.parquet").parquet(paths: _*)

  /** The store as batch `batchId` may see it: rows of strictly earlier
    * batches, `schema`'s columns only (the lineage column is dropped). */
  def before(spark: SparkSession, dir: String, schema: StructType,
      batchId: Long): DataFrame =
    read(spark, dir, withBatchId(schema))
      .filter(col("batch_id") < batchId)
      .select(schema.map(f => col(f.name)): _*)

  /** State COMPACTION for a grow-only store: each delivery appends a
    * `batch-N` subtree of micro-batch-sized parquet files, so after N
    * deliveries every index probe pays N× file-listing + footer
    * overhead — the same small-file accretion
    * [[graft.operators.Maintenance.compact]] exists for, applied to
    * streaming state. Rewrites the accumulated state into
    * size-targeted files under `batch--compacted-<pass>` (the `--`
    * keeps the name disjoint from any real batch id) and DELETES the
    * consumed subtrees only after the rewrite is fully published, so
    * no row is ever absent. A probe racing the swap can see rows
    * DUPLICATED (old tree + compacted copy); linkage tolerates that
    * outright (`matchedPairs` ends in `.distinct()`), while the
    * dedup/winnow probes count per-(doc, partner) rows, so callers
    * run compaction BETWEEN deliveries (the foreachBatch body is the
    * natural slot — nothing probes while it runs), never concurrently
    * with one.
    *
    * Rows are rewritten verbatim with the `batch_id` column (added to
    * `schema` when it does not name it), so [[before]]'s visibility
    * rule survives compaction unchanged. Callers that compact INSIDE a
    * foreachBatch body pass their own batch id as `ownBatch`: a
    * micro-batch retried after compaction already ran (crash between
    * index write and checkpoint commit) would otherwise find its first
    * attempt's rows folded into the compacted copy, re-create
    * `batch-N` on the retry's overwrite, and leave batch N's rows
    * DUPLICATED for every later probe — excluding the current batch's
    * subtree keeps the own-subdir overwrite idempotent through the
    * whole crash window.
    *
    * The next micro-batch keeps appending `batch-N` subtrees beside
    * the compacted file — compaction is a recurring maintenance pass,
    * not a terminal step. Returns (filesBefore, filesAfter) for the
    * receipt.
    *
    * TIERED consumption (the LSM/size-tiered posture): with
    * `maxCompactedTrees = 1` (the default) each pass consumes
    * EVERYTHING, previous compacted output included, so a long ingest
    * rewrites the whole accumulated store once per pass — O(N²) bytes
    * over N deliveries. A caller that compacts once per delivery (the
    * long-ingest compact twins) passes a higher bound: raw `batch-N`
    * subtrees are always consumed (the small-file accretion compaction
    * exists for), but prior `batch--compacted-*` trees are left in
    * place — already size-targeted, nothing to gain from re-copying
    * them — until their COUNT reaches the bound, at which point one
    * pass folds them all (the tier merge), so probe-side file count
    * stays bounded by `maxCompactedTrees + in-flight batches` while
    * total rewrite volume drops from O(N²) to O(N) per ingest. Pure
    * layout policy: visibility rides the stored `batch_id` column and
    * every row is still rewritten verbatim exactly once per fold, so
    * output is bit-identical for any bound (spec-pinned). */
  private[graft] def compactState(spark: SparkSession, dir: String,
      schema: StructType, targetFileBytes: Long = 128L << 20,
      ownBatch: Option[Long] = None,
      maxCompactedTrees: Int = 1): (Int, Int) = {
    import org.apache.hadoop.fs.Path
    val p = new Path(dir)
    val fs = this.fs(spark, dir)
    // a store that has never been written (edge dir before the first
    // delivery lands) has nothing to compact
    if (!fs.exists(p)) return (0, 0)
    def parquetCount(): Int = {
      val it = fs.listFiles(p, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .count(_.getPath.getName.endsWith(".parquet"))
    }
    val before = parquetCount()
    // snapshot the consumed subtrees FIRST: a micro-batch landing a
    // new batch-N while the rewrite runs is neither read nor deleted —
    // it simply survives into the next compaction pass
    val own = ownBatch.map(b => s"batch-$b")
    val all = fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch-") &&
        !own.contains(s.getPath.getName))
      .map(_.getPath)
    val (compactedTrees, rawTrees) =
      all.partition(_.getName.startsWith("batch--compacted-"))
    val consumed =
      if (compactedTrees.size >= maxCompactedTrees) all
      else rawTrees
    if (consumed.isEmpty) return (before, before)
    // read EXACTLY the consumed subtrees (never the whole dir): an
    // excluded own-subtree or a concurrently-landing batch must not
    // be rewritten into the compacted copy while its source survives
    val src = scan(spark, withBatchId(schema), consumed.map(_.toString): _*)
    val totalBytes = consumed.map { d =>
      val it = fs.listFiles(d, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    }.sum
    val nOut = math.max(1L,
      (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    // rewrite OUTSIDE the state dir (the recursive read must never
    // race its own output), then rename in under a pass-unique name —
    // a repeated compaction reads the previous pass's subtree like any
    // other consumed batch and never overwrites a tree mid-read
    val pass = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new Path(p.getParent, s"${p.getName}-compacting-$pass")
    src.repartition(nOut).write.mode("overwrite").parquet(tmp.toString)
    // publish-before-delete: the compacted subtree lands complete
    // (rename is atomic per dir) before any consumed subtree goes away.
    // Hadoop FS rename reports some failures as `false` WITHOUT
    // throwing — deleting the consumed subtrees after a silent rename
    // failure would lose the whole compacted slice, so an unpublished
    // rewrite aborts the pass: the tmp tree is deleted here and the
    // state dir is untouched (every consumed batch survives). A crash
    // BETWEEN the failed rename and this delete leaves an inert
    // orphan OUTSIDE the state dir — it matches neither the batch-*
    // glob nor any reader's path, so it wastes bytes until manually
    // swept but can never corrupt a read.
    if (!fs.rename(tmp, new Path(p, s"batch--compacted-$pass"))) {
      scala.util.Try(fs.delete(tmp, true))
      return (before, before)
    }
    consumed.foreach(d => fs.delete(d, true))
    (before, parquetCount())
  }
}
