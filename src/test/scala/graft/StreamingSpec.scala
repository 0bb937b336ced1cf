package graft

import graft.operators.Events
import graft.streaming.EventStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf

  test("streaming hourly counts equal the batch hourly counts") {
    val streamed = EventStream.hourlyViaStream(spark, sf)
      .select(col("hour"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      .toSet
    val batch = Events.hourlyStats(spark, sf)
      .select(col("hour"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      .toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming watermarked dedup emits exactly the distinct key set") {
    val streamed = EventStream.dedupViaStream(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val batch = Events.load(spark, sf)
      .select(col("user_id"), col("event_type")).distinct()
      .orderBy(col("user_id"), col("event_type"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(streamed.toSeq == batch.toSeq)
    assert(streamed.nonEmpty)
    // it actually deduplicated (events >> distinct keys)
    assert(streamed.length < Events.load(spark, sf).count())
  }

  test("exact dedup keeps a key arriving only behind the watermark, across micro-batches") {
    // Regression pin for the watermarked-dropDuplicates wrong-answer:
    // `withWatermark + dropDuplicates(keys-without-event-time)` does NOT
    // bound state but DOES drop late input, so a key whose only arrivals
    // are behind the watermark silently vanishes in any multi-batch run.
    // dedupExact (no watermark) must emit every distinct key exactly
    // once regardless of batch boundaries — the old form fails this test
    // (key 2 below never surfaces).
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val h = 3600L
    val stream = MemoryStream[(Long, String, Long)]
    val events = stream.toDF().toDF("user_id", "event_type", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val q = EventStream.dedupExact(events)
      .writeStream.format("memory").queryName("dedup_exact_stream")
      .outputMode("append").start()
    try {
      // batch 1: in-batch duplicate; max ts 10h (a 2h watermark would sit at 8h)
      stream.addData((1L, "view", 10 * h), (1L, "view", 10 * h + 300))
      q.processAllAvailable()
      // batch 2: cross-batch duplicate of key 1, plus key 2 whose ONLY
      // arrival is far behind batch 1's high-water mark
      stream.addData((1L, "view", 11 * h), (2L, "click", 1 * h))
      q.processAllAvailable()
      val rows = spark.table("dedup_exact_stream").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(rows.length == 2, s"expected one row per distinct key, got ${rows.toSeq}")
      assert(rows.toSet == Set((1L, "view"), (2L, "click")))
    } finally q.stop()
  }

  test("within-watermark dedup suppresses near re-deliveries, evicts state, re-emits after") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val h = 3600L; val day = 24 * h
    val stream = MemoryStream[(Long, String, Long)]
    val events = stream.toDF().toDF("user_id", "event_type", "sec")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val q = EventStream.dedupWithinWatermark(events, "2 hours")
      .writeStream.format("memory").queryName("dedup_wm_stream")
      .outputMode("append").start()
    try {
      stream.addData((1L, "view", 10 * h)) // first occurrence → emits
      q.processAllAvailable()
      stream.addData((1L, "view", 10 * h + 1800)) // re-delivery within delay → suppressed
      q.processAllAvailable()
      // unrelated key a day later advances the watermark past key 1's
      // expiry (first-seen 10h + 2h), evicting its state
      stream.addData((9L, "advance", day + 10 * h))
      q.processAllAvailable()
      stream.addData((1L, "view", day + 9 * h)) // state evicted → re-emits
      q.processAllAvailable()
      val rows = spark.table("dedup_wm_stream").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(rows.count(_ == (1L, "view")) == 2,
        s"expected suppress-then-re-emit for key 1, got ${rows.toSeq}")
      assert(rows.count(_ == (9L, "advance")) == 1)
      assert(rows.length == 3)
    } finally q.stop()
  }

  test("stream-static enrichment equals the batch join aggregate") {
    val streamed = EventStream.enrichViaStream(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val batch = Events.load(spark, sf)
      .join(Tables.load(spark, sf, "customer"),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming outlier gate lands exactly the batch outlier rows") {
    val streamed = EventStream.outliersViaStream(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val batch = Events.outliers(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(streamed.sameElements(batch))
    assert(streamed.nonEmpty)
  }

  test("stream-stream interval join equals the batch interval join rollup") {
    val streamed = EventStream.intervalJoinViaStream(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ev = Events.load(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("p_ts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
    val batch = p.join(v,
        col("user_id") === col("v_user") &&
          col("v_ts") <= col("p_ts") &&
          col("v_ts") >= col("p_ts") - expr("INTERVAL 24 HOURS"))
      .groupBy(col("event_id"), col("user_id"))
      .agg(count(lit(1)).as("n_views"))
      .orderBy(col("event_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(streamed.nonEmpty && streamed.sameElements(batch))
  }

  test("interval join keeps a view replayed 20h late in event time (multi-batch)") {
    // The watermark-covers-window guarantee, driven end-to-end: a
    // two-delivery replay where delivery 2 carries a view whose event
    // time is 20h OLDER than everything already processed. With a
    // view-side delay shorter than the join window (the pre-r8 2h),
    // the engine's watermark would already have passed it and the
    // join would silently drop it; the production topology
    // (delay = windowHours + 2) must keep it.
    import org.apache.spark.sql.types._
    val root = graft.TempDirs.create("graft-stream-late")
    val t0 = java.sql.Timestamp.valueOf("2025-06-01 00:00:00")
    def ts(hoursLater: Long) =
      new java.sql.Timestamp(t0.getTime + hoursLater * 3600 * 1000)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("ts", TimestampType)))
    def write(dir: String, rows: Seq[(Long, Long, String, java.sql.Timestamp)],
        mtime: Long): Unit = {
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(r =>
          org.apache.spark.sql.Row(r._1, r._2, r._3, r._4)), 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(dir)
      new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach(_.setLastModified(mtime))
    }
    // delivery 1: the purchase at T+100h and one in-window view at +99h
    write(s"$root/d1", Seq(
      (1L, 7L, "view", ts(99)), (100L, 7L, "purchase", ts(100))), 1000000L)
    // delivery 2: a view at +80h — 20h "late" relative to the already-
    // seen max event time, still inside the purchase's 24h window
    write(s"$root/d2", Seq((2L, 7L, "view", ts(80))), 2000000L)

    def src() = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"$root/*")
    val joined = EventStream.intervalJoinStreams(
      src().filter(col("event_type") === "view"),
      src().filter(col("event_type") === "purchase"), windowHours = 24)
    val out = EventStream.runToCompletion(spark, joined,
      org.apache.spark.sql.streaming.OutputMode.Append(),
      Seq("event_id", "v_ts")).collect()
    // both views joined the purchase — including the late one
    assert(out.length == 2, s"late view dropped: ${out.mkString(",")}")
    graft.TempDirs.delete(root)
  }

  test("stateful sessionization matches the batch session count per user") {
    import spark.implicits._
    implicit val s = spark
    val ds = EventStream.readEvents(spark, sf) // schema source
    // batch-drive the stateful operator through a streaming-compatible
    // Dataset (mapGroupsWithState also runs on batch Datasets)
    val evs = Events.load(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[EventStream.Ev]
    val stateful = EventStream.sessionizeStateful(evs).collect()
      .map(u => u.user_id -> u.session_id).toMap
    val batch = Events.sessionize(spark, sf)
      .groupBy(col("user_id")).agg(max(col("session_id")).as("n_sessions"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stateful == batch)
  }

  test("transformWithState sessionization on RocksDB matches batch row-for-row") {
    // the modern arbitrary-state API driven as a REAL streaming query
    // (transformWithState refuses the default HDFS-backed provider,
    // so a green run also proves the RocksDB state store path works)
    val tws = EventStream.sessionsViaTws(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getTimestamp(3), r.getTimestamp(4))).toSeq
    val batch = Events.sessionize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getTimestamp(3), r.getTimestamp(4))).toSeq
    assert(tws.nonEmpty && tws == batch)
    // the conf dance restored the session's provider
    assert(!spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      .exists(_.contains("RocksDB")))
  }

  test("transformWithState SCD2 on RocksDB matches the batch dimension rows") {
    val tws = EventStream.scd2ViaTws(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3), r.getTimestamp(4), r.getLong(5), r.getLong(6)))
      .toSeq
    val batch = Events.scd2(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3), r.getTimestamp(4), r.getLong(5), r.getLong(6)))
      .toSeq
    assert(tws.nonEmpty && tws == batch)
    assert(!spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      .exists(_.contains("RocksDB")))
  }

  test("flatMapGroupsWithState per-event session assignment matches batch") {
    import spark.implicits._
    implicit val s = spark
    val evs = Events.load(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[EventStream.Ev]
    val assigned = EventStream.assignSessions(evs).collect()
      .map { case (eid, uid, sid) => (uid, sid) }
      .groupBy(identity).view.mapValues(_.length).toMap
    val batch = Events.sessionize(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2).toInt))
      .toMap
    assert(assigned == batch)
  }

  // (the bucketed co-located join plan test lives in OperatorSpec,
  // which disables auto-broadcast so the SortMergeJoin path — the one
  // bucketing actually optimizes — is the plan under assertion)

  test("streaming near-dup ingest equals the batch delta classification row-for-row") {
    // the file-stream replay (corpus delivery then new delivery,
    // persistent LSH band index grown per micro-batch) must land on
    // exactly deltaNearDup's answer — statuses, partners, and all
    val streamed = graft.streaming.DocStream.nearDupViaStream(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    val batch = graft.operators.Dedup.deltaNearDup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(streamed.nonEmpty && streamed == batch)
    assert(streamed.exists(_._2 != "new"))
  }

  test("streaming token budget: carried state lands the one-shot prefix cutoff mid-second-delivery") {
    import graft.streaming.DocStream
    val streamed = DocStream.tokenBudgetViaStream(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // one-shot reference: prefix sum over doc_id order, admit while
    // within budget — computed directly, independent of the harness
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var cum = 0L
    val expected = docs.flatMap { case (id, n) =>
      cum += n
      if (cum <= DocStream.StreamTokenBudget) Some((id, n, cum)) else None
    }.toSeq
    assert(streamed == expected, "stream diverged from the prefix rule")
    // the receipt: the cutoff falls INSIDE delivery 1 — delivery 0
    // admitted whole (carry mattered), delivery 1 partially (gate shut)
    val w = (docs.map(_._1).max + 1) / 2
    assert(streamed.nonEmpty && streamed.last._1 >= w,
      "budget exhausted before delivery 1 — carry untested")
    assert(streamed.length < docs.length,
      "budget never exhausted — cutoff untested")
  }

  test("streaming winnow overlap equals the batch delta classification row-for-row") {
    // corpus delivery bootstraps the fingerprint index, the second
    // delivery classifies against it — must land on exactly
    // deltaWinnow's answer: statuses, partners, shared counts
    val streamed = graft.streaming.DocStream.winnowViaStream(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    val batch = graft.operators.Text.deltaWinnow(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(streamed.nonEmpty && streamed == batch)
    assert(streamed.exists(_._2 == "overlap_of_corpus"))
    assert(streamed.exists(_._2 == "new"))
  }

  test("streaming exact-substring audit equals the batch delta spans row-for-row") {
    // corpus delivery bootstraps the positioned anchor index + text
    // store, the second delivery probes them — must land on exactly
    // deltaSubstr's merged spans (the winnowing guarantee is
    // indifferent to which path found the anchor)
    val streamed = graft.streaming.DocStream.substrViaStream(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val batch = graft.operators.Text.deltaSubstr(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(streamed.nonEmpty && streamed == batch,
      s"stream/batch substring spans diverged: ${streamed.take(5)} vs ${batch.take(5)}")
  }

  test("retried delivery is idempotent: a batch never classifies against its own index subdir") {
    // the crash window under test: a micro-batch wrote its index
    // subdir, then died BEFORE the checkpoint committed — the retry
    // re-runs the same batchId over an index that already contains the
    // batch's own fingerprints. The stored batch_id predicate must
    // make the retry re-derive the first attempt's output exactly —
    // without it, every retried doc self-matches.
    import graft.streaming.DocStream
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val w = docs.agg(floor((max(col("doc_id")) + 1) * 0.8).cast("long"))
      .head().getLong(0)
    val corpus = docs.filter(col("doc_id") < w)
    val fresh = docs.filter(col("doc_id") >= w)

    // --- LSH band index (nearDup) ---
    val root = graft.TempDirs.create("graft-retry-neardup")
    val idx = s"$root/index"
    graft.operators.Dedup.signedBanded(corpus)
      .select(col("band"), col("band_key"), col("doc_id"), col("minhash"))
      .withColumn("batch_id", lit(0L))
      .write.parquet(s"$idx/batch-0")
    val firstAttempt = DocStream
      .classifyBatch(spark, fresh, idx, 0.5, batchId = 1L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    // the crash: batch 1's own subdir lands, checkpoint does not
    graft.operators.Dedup.signedBanded(fresh)
      .select(col("band"), col("band_key"), col("doc_id"), col("minhash"))
      .withColumn("batch_id", lit(1L))
      .write.parquet(s"$idx/batch-1")
    val retry = DocStream
      .classifyBatch(spark, fresh, idx, 0.5, batchId = 1L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(retry == firstAttempt,
      "retry diverged after its own index subdir landed")
    assert(!retry.exists(r => r._3 == r._1 && r._2 == "near_dup_of_corpus"),
      "a doc corpus-matched itself")

    // --- winnow fingerprint index ---
    import graft.operators.Text
    val root2 = graft.TempDirs.create("graft-retry-winnow")
    val idx2 = s"$root2/index"
    Text.winnowFpSet(corpus).withColumn("batch_id", lit(0L))
      .write.parquet(s"$idx2/batch-0")
    val freshFps = Text.winnowFpSet(fresh)
    val first2 = Text.classifyAgainstIndex(fresh.select(col("doc_id")),
        freshFps, DocStream.winnowIndexBefore(spark, idx2, 1L))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    freshFps.withColumn("batch_id", lit(1L)).write.parquet(s"$idx2/batch-1")
    val retry2 = Text.classifyAgainstIndex(fresh.select(col("doc_id")),
        freshFps, DocStream.winnowIndexBefore(spark, idx2, 1L))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(retry2 == first2,
      "winnow retry diverged after its own index subdir landed")
    assert(!retry2.exists(r => r._3 == r._1),
      "a doc overlap-matched itself")
  }

  test("near-dup band index compaction mid-ingest: classification is bit-identical") {
    val plain = graft.streaming.DocStream.nearDupViaStream(spark, sf)
      .collect().map(_.toSeq.toList).toSeq
    val compacted = graft.streaming.DocStream
      .nearDupViaStream(spark, sf, compactIndex = true)
      .collect().map(_.toSeq.toList).toSeq
    assert(compacted == plain,
      "compacting the band index between deliveries changed the output")
  }

  test("winnow long ingest (5 deliveries) with live compaction is bit-identical to the uncompacted run") {
    import graft.streaming.DocStream
    val plain = DocStream.winnowCompactViaStream(spark, sf,
        compactIndex = false)
      .collect().map(_.toSeq.toList).toSeq
    val compacted = DocStream.winnowCompactViaStream(spark, sf)
      .collect().map(_.toSeq.toList).toSeq
    assert(compacted == plain,
      "mid-ingest compaction changed the classification stream")
    // crash-recovery on the long-ingest shape: the query dies after 2
    // deliveries (in-memory state gone, delivery 0's subtree already
    // folded into a compacted copy), a fresh incarnation recovers the
    // remaining 3 from the checkpoint. Offset resume + the
    // stored-column visibility predicate must land bit-identically.
    val restarted = DocStream.winnowCompactViaStream(spark, sf,
        restartAfter = Some(2))
      .collect().map(_.toSeq.toList).toSeq
    assert(restarted == plain,
      "restart mid-ingest diverged from the single-process run")
    // the ingest actually exercised the long shape: every
    // post-bootstrap delivery produced rows, and both verdicts occur
    val deliveries = plain.map(_(1).asInstanceOf[Long]).toSet
    assert(deliveries == (1L until DocStream.CompactDeliveries).toSet,
      s"deliveries seen: $deliveries")
    val statuses = plain.map(_(2).asInstanceOf[String]).toSet
    assert(statuses == Set("overlap_of_corpus", "new"), statuses.toString)
  }

  test("streamed backoff scoring against the frozen LM artifact equals the batch scorer") {
    val streamed = graft.streaming.DocStream.backoffViaStream(spark, sf)
      .collect().map(_.toSeq.toList).toSeq
    val batch = graft.operators.Text.backoffScore(spark, sf)
      .collect().map(_.toSeq.toList).toSeq
    assert(streamed.nonEmpty && streamed == batch,
      "per-delivery LM scoring diverged from the batch pass")
  }

  test("streamed LM gate admits exactly the batch gate's set under the frozen cut") {
    val streamed = graft.streaming.DocStream.lmGateViaStream(spark, sf)
      .collect().map(_.toSeq.toList).toSeq
    val batch = graft.operators.Text.lmQualityGate(spark, sf)
      .collect().map(_.toSeq.toList).toSeq
    assert(streamed.nonEmpty && streamed == batch,
      "online gate diverged from the batch gate")
    // the gate is real: it drops the most-surprising quartile's worth
    val total = graft.Tables.load(spark, sf, "documents").count()
    assert(batch.size < total, "gate admitted everything — dead cut")
    // cut re-derives brute-force: the ⌊3n/4⌋-th smallest train score
    val scores = graft.operators.Text.backoffScore(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("mean_millibits"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val trainIds = graft.operators.Corpus
      .splitAssign(spark, sf).collect()
      .filter(_.getString(2) == "train").map(_.getLong(0))
    val ranked = trainIds.map(id => (scores(id), id)).sorted
    val cut = ranked(math.max(1, 3 * ranked.length / 4).toInt - 1)._1
    val expect = scores.filter(_._2 <= cut).keys.toSet
    assert(batch.map(_.head.asInstanceOf[Long]).toSet == expect,
      "admitted set is not the brute-force frozen-cut set")
  }

  test("substring long ingest (5 deliveries) with live two-store compaction is bit-identical to the uncompacted run") {
    import graft.streaming.DocStream
    val plain = DocStream.substrCompactViaStream(spark, sf,
        compactIndex = false)
      .collect().map(_.toSeq.toList).toSeq
    val compacted = DocStream.substrCompactViaStream(spark, sf)
      .collect().map(_.toSeq.toList).toSeq
    assert(plain.nonEmpty && compacted == plain,
      "mid-ingest compaction changed the span stream")
    // the ingest exercised the long shape: spans from more than one
    // post-bootstrap delivery (a single-delivery result would be the
    // two-delivery smoke in disguise)
    val deliveries = plain.map(_(1).asInstanceOf[Long]).toSet
    assert(deliveries.size > 1 &&
      deliveries.subsetOf((1L until DocStream.CompactDeliveries).toSet),
      s"deliveries seen: $deliveries")
  }

  test("streaming entity resolution equals the batch linkage row-for-row") {
    // registry delivery then dirty-feed delivery, edges emitted
    // incrementally (within-batch + batch-vs-index), one terminal CC —
    // must land on exactly the batch twin's cluster assignment
    val streamed = graft.streaming.LinkStream
      .entityResolutionViaStream(spark, sf)
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    val batch = graft.operators.Linkage.entityResolution(spark, sf)
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(streamed.nonEmpty && streamed == batch)
    // the link structure must actually cross deliveries: some dirty
    // record clusters with its delivery-0 original
    assert(streamed.exists(r => r._2 == "dirty" && r._4 >= 2L))
  }

  test("linkage block cap: stream and batch agree under an active cap") {
    // the cap decision must be a property of the block's FINAL size:
    // the dirty feed grows blocks past the cap after delivery 0
    // already probed them, so the terminal census gate — not the
    // per-delivery guard — is what keeps the twins identical
    import graft.operators.Linkage
    try {
      spark.conf.set(Linkage.MaxBlockConf, "2")
      val s = graft.streaming.LinkStream.entityResolutionViaStream(spark, sf)
        .collect().map(r =>
          (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
      val b = Linkage.entityResolution(spark, sf)
        .collect().map(r =>
          (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
      assert(s.nonEmpty && s == b)
      // the cap bit: some size-3 block (orig + dirty + decoy) was
      // purged, so at least one dirty record is now a singleton
      assert(s.exists(r => r._2 == "dirty" && r._4 == 1L))
      // while small blocks still link
      assert(s.exists(r => r._2 == "dirty" && r._4 >= 2L))
    } finally spark.conf.unset(Linkage.MaxBlockConf)
  }

  test("tiered state compaction: exactly-once rows per pass, bounded trees, fold at the tier bound") {
    // r18 storage contract for the tiered pass: after EVERY pass the
    // recursive read returns every written row exactly once (no loss,
    // no duplication — a fold rewrites verbatim, a delta pass leaves
    // compacted trees untouched), and the compacted-tree count never
    // exceeds the bound (the pass at the bound folds them all)
    import graft.streaming.StreamState
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("batch_id", LongType)))
    val root = graft.TempDirs.create("graft-tiertest")
    val dir = s"$root/state"
    def readAll(): Seq[(Long, Long)] = spark.read.schema(schema)
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.parquet").parquet(dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    def compactedTrees(): Int = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).count(s => s.isDirectory &&
        s.getPath.getName.startsWith("batch--compacted-"))
    }
    val want = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var sawFold = false
    (0L until 5L).foreach { b =>
      spark.range(b * 10, b * 10 + 10).toDF("id")
        .withColumn("batch_id", lit(b))
        .write.mode("overwrite").parquet(s"$dir/batch-$b")
      want ++= (b * 10 until b * 10 + 10).map(i => (i, b))
      val beforeTrees = compactedTrees()
      StreamState.compactState(spark, dir, schema, maxCompactedTrees = 3)
      if (beforeTrees >= 3) {
        sawFold = true
        assert(compactedTrees() == 1,
          "the at-bound pass must fold every compacted tree into one")
      }
      assert(compactedTrees() <= 3, "tier bound exceeded")
      assert(readAll() == want.sorted.toSeq, s"rows drifted after pass $b")
    }
    assert(sawFold, "5 passes at bound 3 never exercised the fold")
  }

  test("batchId-keyed store: a rewrite replaces its batch, before(N) sees only earlier batches, a missing store is empty") {
    // the one retry-idempotence contract every streaming twin writes
    // through (StreamState): append(N) twice leaves one copy of batch
    // N, before(N) is the strictly-earlier visibility rule — also after
    // compaction renamed the subtrees away — and a store nothing has
    // written yet reads as an empty frame with its declared schema
    import graft.streaming.StreamState
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(Seq(StructField("id", LongType)))
    val root = graft.TempDirs.create("graft-storetest")
    val dir = s"$root/store"
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.collect().map(_.getLong(0)).sorted.toSeq
    val missing = StreamState.read(spark, dir, schema)
    assert(missing.schema == schema && missing.isEmpty)
    assert(StreamState.before(spark, dir, schema, 3L).isEmpty)
    (0L until 3L).foreach { b =>
      StreamState.append(dir, spark.range(b * 10, b * 10 + 10).toDF("id"), b)
    }
    // the retry: batch 1 lands again (same rows) — no duplicate
    StreamState.append(dir, spark.range(10, 20).toDF("id"), 1L)
    val all = (0L until 30L).toSeq
    assert(ids(StreamState.read(spark, dir, schema)) == all)
    def check(stage: String): Unit = (0L to 3L).foreach { b =>
      val seen = StreamState.before(spark, dir, schema, b)
      assert(seen.schema.fieldNames.toSeq == Seq("id"), stage)
      assert(ids(seen) == all.take((b * 10).toInt),
        s"$stage: before($b) saw ${ids(seen).size} rows")
    }
    check("raw subtrees")
    val (filesBefore, filesAfter) =
      StreamState.compactState(spark, dir, schema, ownBatch = Some(2L))
    assert(filesAfter < filesBefore)
    check("after compaction")
    StreamState.compactState(spark, dir, schema)
    check("after a full compaction")
    graft.TempDirs.delete(root)
  }

  test("linkage state compaction: fewer files, bit-identical resolution, repeatable") {
    // the grow-only index/edge stores accrete one subtree per
    // delivery; the compaction pass must (a) strictly reduce file
    // count, (b) change NOTHING about the resolved output, and
    // (c) be safely repeatable (pass-unique subtree names — a second
    // pass reads the first pass's output like any consumed batch)
    import graft.streaming.LinkStream
    val (indexDir, edgeDir) = LinkStream.runStream(spark, sf)
    val before = LinkStream.resolveFrom(spark, indexDir, edgeDir)
      .collect().map(_.toSeq.toList).toSeq
    val ((ib, ia), (eb, ea)) =
      LinkStream.compactLinkageState(spark, indexDir, edgeDir)
    assert(ib >= 2, s"fixture lost its per-delivery index subtrees ($ib)")
    assert(ia < ib, s"index files $ib -> $ia not reduced")
    // the edge store may land as a single file per delivery at this
    // scale — require only that compaction never grows it
    assert(ea <= eb, s"edge files $eb -> $ea grew")
    val after = LinkStream.resolveFrom(spark, indexDir, edgeDir)
      .collect().map(_.toSeq.toList).toSeq
    assert(after == before, "compaction changed the resolved clusters")
    // second pass: idempotent-safe and still resolution-preserving
    val ((_, ia2), (_, ea2)) =
      LinkStream.compactLinkageState(spark, indexDir, edgeDir)
    assert(ia2 <= ia && ea2 <= ea)
    val again = LinkStream.resolveFrom(spark, indexDir, edgeDir)
      .collect().map(_.toSeq.toList).toSeq
    assert(again == before)
  }

  test("mid-ingest linkage compaction: probes read the compacted index through the batch_id filter") {
    // compaction runs LIVE at the start of each foreachBatch body, so
    // the dirty delivery's probe reads delivery 0's records out of a
    // COMPACTED subtree. The probe filters batch_id < current on the
    // stored lineage column — if the rewrite stripped it (the bare
    // RecordSchema), compacted rows would read back NULL, the filter
    // would drop the whole index, and no dirty record could link to
    // its registry original.
    val compacted = graft.streaming.LinkStream
      .entityResolutionViaStream(spark, sf, compactIndex = true)
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    val batch = graft.operators.Linkage.entityResolution(spark, sf)
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(compacted.nonEmpty && compacted == batch,
      "mid-ingest compaction changed the resolved clusters")
    // the load-bearing bit: a cross-delivery link exists, which can
    // only come from probing the compacted delivery-0 index
    assert(compacted.exists(r => r._2 == "dirty" && r._4 >= 2L),
      "no dirty record linked across the compacted index")
  }

  test("linkage survives a process restart between deliveries bit-identically") {
    // the query STOPS after the registry delivery; a new incarnation
    // recovers the dirty feed from the checkpoint. Equality with the
    // batch twin proves (a) the offset log resumed exactly (delivery 0
    // not re-read, delivery 1 not skipped) and (b) all linkage state
    // lives in the index/edge stores, none in query memory
    val restarted = graft.streaming.LinkStream
      .entityResolutionViaStream(spark, sf, restart = true)
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    val batch = graft.operators.Linkage.entityResolution(spark, sf)
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(restarted.nonEmpty && restarted == batch)
    assert(restarted.exists(r => r._2 == "dirty" && r._4 >= 2L))
  }

  test("RocksDB session state recovers across a mid-feed restart bit-identically") {
    // the feed is cut INSIDE the earliest within-session gap, so at
    // least one open session spans the simulated crash; equality with
    // the single-process TWS twin proves the ValueState (open session
    // id + last-seen ts + counter) was rebuilt from the checkpointed
    // store — lost state would re-number that user's sessions
    val restarted = graft.streaming.EventStream
      .sessionsViaTwsRestart(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getTimestamp(3), r.getTimestamp(4))).toSeq
    val single = graft.streaming.EventStream
      .sessionsViaTws(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getTimestamp(3), r.getTimestamp(4))).toSeq
    assert(restarted.nonEmpty && restarted == single)
    // the fixture has multi-event sessions, so the cut really does
    // split one: at least one user carries 2+ sessions or a session
    // with 2+ events (the recovery-sensitive shapes)
    assert(restarted.exists(_._3 >= 2L))
  }

  test("streaming heavy hitters equal the batch Misra-Gries survivors row-for-row") {
    val stream = graft.streaming.DocStream.heavyHittersViaStream(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val batch = graft.operators.Corpus.heavyHitters(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(stream.nonEmpty && stream == batch)
  }

  test("streaming split assignment equals the batch split (stateless corpus ops)") {
    // the corpus-prep projections are pure row-wise column algebra, so
    // they run UNCHANGED on a stream — demonstrated end-to-end: the
    // same splitAssignDf over a memory stream emits exactly the batch
    // assignment
    streamedSplitMatchesBatch()
  }

  test("streamed embedding drift: both deliveries scored, in-distribution halves stay near the reference") {
    val rows = graft.streaming.EmbedStream.embedDriftViaStream(spark, sf)
      .collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    assert(rows.map(_.getLong(1)).sum ==
      Tables.load(spark, sf, "embeddings").count())
    rows.foreach { r =>
      val c = r.getDouble(2)
      // halves OF the reference distribution must sit near cosine 1;
      // a sagging value here is exactly the alarm the monitor raises
      assert(c > 0.5 && c <= 1.0 + 1e-9, s"drift_cos $c")
    }
  }

  test("streamed NB scoring against the frozen model equals the batch classifier") {
    val streamed = graft.streaming.DocStream.nbClassifyViaStream(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSet
    val batch = graft.operators.Text.nbClassify(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  private def streamedSplitMatchesBatch(): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val batchDocs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val stream = MemoryStream[(Long, String)]
    stream.addData(batchDocs.toIndexedSeq)
    val q = graft.operators.Corpus
      .splitAssignDf(stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("split_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("split_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      val batch = graft.operators.Corpus.splitAssign(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(streamed == batch && streamed.nonEmpty)
    } finally q.stop()
  }
}
