package graft.streaming

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** THE bounded-stream runner every streaming twin goes through.
  *
  *  - [[drain]] is the one query driver: foreachBatch sink,
  *    AvailableNow trigger, checkpoint, block until drained, stop —
  *    plus the save/restore of the session confs the query captures at
  *    start. A query lifecycle fix, and the per-incarnation fixed cost,
  *    live here once.
  *  - [[replay]] is the one delivery replay: a bounded corpus lands as
  *    ordered deliveries, one parquet file each, file mtimes pinned so
  *    `maxFilesPerTrigger=1` replays them in delivery order (delivery
  *    i arrives as micro-batch i), optionally with a PROCESS RESTART
  *    between two incarnations of the query.
  *  - [[tableStream]] streams a whole sf table as one file source.
  *
  * `onBatch` writes batchId-keyed [[StreamState]] subtrees — the
  * retry-idempotence contract is the store's.
  */
object DeliveryHarness {

  /** Write one delivery as a single parquet file and pin its mtime.
    * Listing and timestamping go through the Hadoop FileSystem API,
    * not java.io.File — the scratch root may carry a non-local scheme
    * on a real cluster, where File.listFiles() returns null and the
    * ordering pin would silently become a no-op. */
  private def writeDelivery(df: DataFrame, dir: String,
      mtime: Long): Unit = {
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(
      df.sparkSession.sessionState.newHadoopConf())
    fs.listStatus(p)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .foreach(st => fs.setTimes(st.getPath, mtime, -1))
  }

  /** Run the bounded streaming query `stream` to completion: every
    * micro-batch goes to `onBatch` (on the driver), the query drains
    * AvailableNow from checkpoint `ckpt` and stops. `confs` are set for
    * the run and restored (or unset) after it — the query captures
    * them at start, and the stream-execution thread reads them
    * asynchronously while planning batch 0, so they are held until
    * the query has stopped. */
  private[streaming] def drain(stream: DataFrame, ckpt: String,
      confs: Map[String, String] = Map.empty,
      mode: OutputMode = OutputMode.Append())(
      onBatch: (DataFrame, Long) => Unit): Unit = {
    val spark = stream.sparkSession
    def setAll(kv: Map[String, Option[String]]): Unit = kv.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    setAll(confs.map { case (k, v) => k -> Some(v) })
    try {
      val q = stream.writeStream
        .outputMode(mode)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          onBatch(batch, batchId); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      try { q.processAllAvailable() } finally q.stop()
    } finally setAll(saved)
  }

  /** Land each part of `parts` in order under `root/landing`, stream
    * them back one file per trigger and run `onBatch` for each
    * micro-batch, blocking until drained. The landing schema is the
    * first part's (file sources read every column as nullable). The
    * caller owns `root` (TempDirs-created) so it can hang its stores
    * off the same lifetime.
    *
    * `restartAfter = Some(m)` is the PROCESS RESTART: the first
    * incarnation drains the first m deliveries and stops (its
    * in-memory state is gone), the remaining parts land while nothing
    * runs, and a NEW query recovers from the same checkpoint. The
    * file-source offset log must resume exactly where the first
    * incarnation committed — nothing re-reads, nothing skips, batch
    * ids continue — which is the recovery contract a long-running
    * ingest relies on; specs pin restarted runs bit-identical to the
    * single-process ones.
    *
    * `transform` rides the stream before the sink, in every
    * incarnation — a stateful stage (transformWithState) must rebuild
    * its store state in the second incarnation from the checkpoint.
    * `confs` go to [[drain]]. */
  def replay(spark: SparkSession, root: String, parts: Seq[DataFrame],
      restartAfter: Option[Int] = None,
      transform: DataFrame => DataFrame = identity,
      confs: Map[String, String] = Map.empty)(
      onBatch: (DataFrame, Long) => Unit): Unit = {
    require(restartAfter.forall(m => m > 0 && m < parts.length),
      s"restartAfter $restartAfter outside (0, ${parts.length})")
    val landing = s"$root/landing"
    val schema = parts.head.schema
    def land(from: Int, ds: Seq[DataFrame]): Unit =
      ds.zipWithIndex.foreach { case (d, i) =>
        writeDelivery(d, s"$landing/d${from + i}", (from + i + 1) * 1000000L)
      }
    def incarnation(): Unit =
      drain(transform(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .option("pathGlobFilter", "*.parquet")
          .parquet(s"$landing/*")), s"$root/ckpt", confs)(onBatch)
    val m = restartAfter.getOrElse(parts.length)
    land(0, parts.take(m))
    incarnation()
    if (m < parts.length) {
      land(m, parts.drop(m))
      incarnation()
    }
  }

  /** Streaming view of one sf table: a file source over the sf dir
    * filtered to the table's file (FileStreamSource needs a directory;
    * a real deployment points at a landing dir). */
  private[streaming] def tableStream(spark: SparkSession, sf: String,
      table: String): DataFrame = {
    // one footer read on the driver; inference would run a Spark job
    val path = Tables.path(sf, table)
    val schema = graft.sources.ParquetSchema.of(spark, path)
      .getOrElse(spark.read.parquet(path).schema)
    spark.readStream.schema(schema)
      .option("pathGlobFilter", s"$table.parquet")
      .parquet(sf.stripSuffix("/"))
  }
}
