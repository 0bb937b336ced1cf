package graft.streaming

import graft.{QueryRow, Tables}
import graft.operators.Events
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

import java.sql.Timestamp

/** Structured Streaming surface over the `events` table.
  *
  * The reference's asynchrony is job-level polling (job.py:317-320);
  * the engine's native stream path uses readStream → watermarked
  * windowed aggregation → sink, plus mapGroupsWithState for the
  * session semantics the batch `Events.sessionize` mirrors.
  *
  * At scale: state is partitioned by user_id (the group key), the
  * watermark bounds state size, and the windowed agg is an
  * incremental partial aggregation — the same shapes hold on a
  * 1000-executor cluster with a Kafka source swapped in for parquet.
  */
object EventStream {

  /** Streaming view of the events table. The ts column normalizes to
    * microsecond TimestampType whichever physical layout the source
    * carries (int64 nanos or timestamp[us] — see
    * [[graft.operators.Events.normalizeTs]]). */
  def readEvents(spark: SparkSession, sf: String): DataFrame = {
    graft.Sessions.ensureEventTimestampCompat(spark)
    graft.operators.Events.normalizeTs(
      DeliveryHarness.tableStream(spark, sf, "events"))
  }

  /** Tumbling 1-hour windowed counts with a 2-hour watermark —
    * the streaming twin of Events.hourlyStats (decimal sums for
    * order-independent exactness). */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("sum_value"))

  /** Run the full streaming hourly aggregation to completion over the
    * batch-bounded source and return the materialized result — a
    * queries() entry whose values are produced BY the streaming
    * engine and checked against the same DuckDB oracle as the batch
    * twin. */
  def hourlyViaStream(spark: SparkSession, sf: String): DataFrame =
    runToCompletion(spark, hourlyCounts(readEvents(spark, sf)),
      OutputMode.Complete(), Seq("hour", "event_type"))

  /** STREAMING 3-sigma outlier gate — the standard stream
    * anomaly-detection shape: per-type population stats come from the
    * reference (batch) view of the source and broadcast into a
    * STATELESS streaming filter, so each micro-batch pays a narrow
    * map — no streaming aggregation state at all. In production the
    * stats table is the periodically-refreshed model artifact; here
    * it derives from the same bounded source, making the stream
    * output provably equal to batch q_outliers (same DuckDB oracle,
    * StreamingSpec pins row-for-row equality). */
  def outliersViaStream(spark: SparkSession, sf: String): DataFrame = {
    import graft.operators.Events
    val stats = Events.outlierStats(
      Events.centsProjection(Events.load(spark, sf)))
    val stream = Events.centsProjection(readEvents(spark, sf))
      .join(broadcast(stats), "event_type")
      .filter(Events.outlierPredicate)
      .select(col("event_id"), col("event_type"), col("c").as("value_cents"))
    runToCompletion(spark, stream, OutputMode.Append(), Seq("event_id"))
  }

  /** Stateful-operator partition count: it should track KEY
    * CARDINALITY, not input parallelism — these aggregations group over
    * handfuls of keys, and 32 state-store partitions cost ~1 s of setup
    * per query for nothing. At production keyspaces, size this up. */
  private val StateConfs = Map("spark.sql.shuffle.partitions" -> "4")

  /** [[StateConfs]] on the RocksDB state store — the backend
    * transformWithState requires (see [[sessionsViaTws]]). */
  private val RocksDbConfs = StateConfs +
    ("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Drive a bounded streaming query to completion into a parquet
    * scratch store and hand back the result as a parquet-backed,
    * deterministically-ordered DataFrame. Shared by every
    * streaming-twin queries() entry over a whole table.
    *
    * foreachBatch→parquet, not a memory sink: the memory sink holds
    * the whole result on the driver, which caps the twin at driver-
    * sized outputs — the parquet sink is the shape a real delivery
    * lands in (executor-parallel write, consumer reads lazily).
    * Append-mode batches each land their own batchId-keyed subtree;
    * every Complete-mode batch carries the full updated result, so all
    * of them land in slot 0 and each replaces the last. The scratch
    * dir outlives the returned frame via the TempDirs shutdown hook. */
  private[graft] def runToCompletion(spark: SparkSession, stream: DataFrame,
      mode: OutputMode, sortCols: Seq[String],
      confs: Map[String, String] = StateConfs): DataFrame = {
    val root = graft.TempDirs.create("graft-eventstream")
    val outDir = s"$root/out"
    val complete = mode == OutputMode.Complete()
    DeliveryHarness.drain(stream, s"$root/ckpt", confs, mode) {
      (batch, batchId) =>
        StreamState.append(outDir, batch, if (complete) 0L else batchId)
    }
    StreamState.read(spark, outDir, stream.schema)
      .orderBy(sortCols.map(col): _*)
  }

  /** Stream-static enrichment: the event stream joins a static
    * dimension (customer) and aggregates per segment — the standard
    * streaming-ingest enrichment shape (the static side is re-read
    * per micro-batch by the engine). Customer SCALES with SF
    * (multi-TB at the 100 TB posture), so it is NOT broadcast-hinted:
    * the planner picks broadcast at fixture scale from the parquet
    * size statistics and a shuffled stream-static join at scale.
    * Deterministic aggregate output, DuckDB-checkable. */
  def enrichViaStream(spark: SparkSession, sf: String): DataFrame = {
    val customers = Tables.load(spark, sf, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = readEvents(spark, sf)
      .join(customers, col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("sum_value"))
    runToCompletion(spark, agg, OutputMode.Complete(), Seq("c_mktsegment"))
  }

  /** Streaming ingest-time dedup — the pipeline's first line of defense
    * against re-delivered input (at-least-once sources re-send; exact
    * dedup at ingest is cheaper than anything downstream). EXACT
    * distinct semantics: NO watermark, so no input is ever dropped as
    * late and each key emits exactly once regardless of how the input
    * splits into micro-batches. State is KEY-SET-sized (bounded by key
    * cardinality, not input volume) — the right trade for a bounded
    * materialization or a corpus-scale keyspace.
    *
    * A watermark here would be a wrong answer, not an optimization:
    * with no event-time column in the dedup keys Spark keeps the state
    * forever ANYWAY, while the watermark still silently drops a key
    * whose only arrivals are late (StreamingSpec pins the multi-batch
    * late-key case). For unbounded keyspaces with time-bounded
    * re-delivery, use [[dedupWithinWatermark]].
    *
    * The OUTPUT is the distinct key set — which row of a duplicate
    * group survives is arrival-order-dependent, the set of keys is not,
    * so this materialization stays deterministic and DuckDB-checkable
    * (`SELECT DISTINCT user_id, event_type`). */
  def dedupExact(events: DataFrame): DataFrame =
    events
      .dropDuplicates("user_id", "event_type")
      .select(col("user_id"), col("event_type"))

  def dedupViaStream(spark: SparkSession, sf: String): DataFrame =
    runToCompletion(spark, dedupExact(readEvents(spark, sf)),
      OutputMode.Append(), Seq("user_id", "event_type"))

  /** Bounded-state ingest dedup for UNBOUNDED keyspaces:
    * `dropDuplicatesWithinWatermark` suppresses re-deliveries arriving
    * within `delay` of a key's first occurrence and EVICTS the key's
    * state once the watermark passes first-seen + delay — state is
    * bounded by the keys active inside one watermark window, the shape
    * that survives an unbounded ingest stream where at-least-once
    * re-sends happen within minutes. A key recurring after eviction
    * re-emits (time-windowed dedup, not global DISTINCT), so this
    * variant is pinned by the multi-batch suppress/evict/re-emit
    * StreamingSpec case rather than a SQL oracle. */
  def dedupWithinWatermark(events: DataFrame,
      delay: String = "2 hours"): DataFrame =
    events.withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"), col("ts"))

  /** STREAM-STREAM event-time interval join: every purchase matches
    * the same user's view events from the preceding `windowHours`
    * hours — the attribution join shape (impression↔conversion,
    * quote↔trade) that only works as a stream-stream join with
    * event-time bounds. Both sides carry a watermark; the range
    * condition tells the engine exactly how long a view must be held
    * in join state (window + watermark delay), so state is bounded by
    * the ACTIVE window per key, never the stream's history — the shape
    * that survives an unbounded ingest pair at cluster scale.
    *
    * The streaming operator is the inner join itself (Append-mode
    * emission as matches form); the per-purchase rollup runs batch-side
    * on the materialized join output, because an unwindowed aggregate
    * after a stream-stream join has no Append-mode semantics — the
    * production form lands the joined rows and lets the consumer
    * aggregate. Pair set and rollup are deterministic → DuckDB-exact.
    */
  /** The interval-join topology over two already-filtered streaming
    * sides (views: user_id+ts, purchases: event_id+user_id+ts) —
    * shared by the sf-dir twin below and the multi-batch late-arrival
    * StreamingSpec case, so the watermark guarantee is pinned on the
    * PRODUCTION operator, not a test copy.
    *
    * The view-side watermark must COVER the join window: a view is
    * join-state the engine may still need until a purchase
    * windowHours later arrives, so a delay shorter than the window
    * would drop views replayed >delay late in event time and silently
    * diverge from the batch semantics on any multi-batch/unordered
    * source (a bounded single-file source masks this — one batch,
    * watermark 0). */
  def intervalJoinStreams(views: DataFrame, purchases: DataFrame,
      windowHours: Int): DataFrame = {
    val v = views
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
      .withWatermark("v_ts", s"${windowHours + 2} hours")
    val p = purchases
      .select(col("event_id"), col("user_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    p.join(v,
      col("user_id") === col("v_user") &&
        col("v_ts") <= col("p_ts") &&
        col("v_ts") >= col("p_ts") - expr(s"INTERVAL $windowHours HOURS"))
      .select(col("event_id"), col("user_id"), col("v_ts"))
  }

  def intervalJoinViaStream(spark: SparkSession, sf: String,
      windowHours: Int = 24): DataFrame = {
    val joined = intervalJoinStreams(
      readEvents(spark, sf).filter(col("event_type") === "view"),
      readEvents(spark, sf).filter(col("event_type") === "purchase"),
      windowHours)
    runToCompletion(spark, joined, OutputMode.Append(),
      Seq("event_id", "user_id", "v_ts"))
      .groupBy(col("event_id"), col("user_id"))
      .agg(count(lit(1)).as("n_views"))
      .orderBy(col("event_id"))
  }

  // ---- stateful sessionization (mapGroupsWithState) ----------------

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class SessionState(sessionId: Long, lastTs: Long, count: Long)
  case class SessionUpdate(user_id: Long, session_id: Long, n_events: Long)

  val GapMicros: Long = 30L * 60 * 1000000

  /** Microsecond instant of a Timestamp. getTime alone is millisecond-
    * precision (sub-ms components zeroed); the nanos field carries the
    * full sub-second part, so micros = whole-seconds + nanos/1000 —
    * keeping gap comparisons identical to the batch twin's unix_micros. */
  private def micros(ts: Timestamp): Long =
    math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  /** THE 30-minute-gap fold, in exactly one place: batch-sorted events
    * plus carried state → per-event session assignments and the final
    * state. All three stateful twins (`mapGroupsWithState`,
    * `flatMapGroupsWithState`, `transformWithState`) call this, so the
    * gap rule is pinned structurally — a tweak edited into one API
    * cannot silently desynchronize the others. */
  private def foldSessions(evs: Iterator[Ev],
      st0: Option[SessionState]): (Seq[(Ev, SessionState)], SessionState) = {
    val sorted = evs.toSeq.sortBy(e => (micros(e.ts), e.event_id))
    var s = st0.getOrElse(SessionState(0L, Long.MinValue, 0L))
    val out = sorted.map { e =>
      val t = micros(e.ts)
      s = if (s.lastTs == Long.MinValue || t - s.lastTs > GapMicros)
        SessionState(s.sessionId + 1, t, 1)
      else s.copy(lastTs = t, count = s.count + 1)
      (e, s)
    }
    (out, s)
  }

  /** Per-user session assignment with explicit state — the streaming
    * form of the 30-minute-gap rule. Events within a micro-batch are
    * sorted per user; state carries (session counter, last ts) across
    * batches. */
  def sessionizeStateful(events: Dataset[Ev])(
      implicit spark: SparkSession): Dataset[SessionUpdate] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionUpdate](
        GroupStateTimeout.NoTimeout) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          val (out, st) = foldSessions(evs, state.getOption)
          state.update(st)
          SessionUpdate(userId, st.sessionId,
            out.lastOption.map(_._2.count).getOrElse(0L))
      }
  }

  /** flatMapGroupsWithState twin: emits one record PER EVENT with its
    * assigned session id (mapGroupsWithState can only emit one record
    * per group per batch; flatMap streams the full assignment). */
  def assignSessions(events: Dataset[Ev])(
      implicit spark: SparkSession): Dataset[(Long, Long, Long)] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, (Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (userId: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          val (out, st) = foldSessions(evs, state.getOption)
          state.update(st)
          out.iterator.map { case (e, s) => (e.event_id, userId, s.sessionId) }
      }
  }

  // ---- stateful sessionization (transformWithState + RocksDB) ------

  /** One sessionized event: the [[assignSessions]] tuple plus the
    * timestamp, so the q_sessionize aggregate (count/min/max per
    * session) can be rebuilt from the stream's own output. */
  case class SessionEvent(event_id: Long, ts: Timestamp, user_id: Long,
      session_id: Long)

  /** The 30-minute-gap session rule as a [[StatefulProcessor]] — the
    * arbitrary-state API that supersedes `mapGroupsWithState`: state
    * is DECLARED (named, typed, per-kind TTL) instead of being one
    * opaque blob, which is what lets the engine store it row-wise in
    * RocksDB and evolve its schema. Identical fold to
    * [[assignSessions]], so the two APIs are pinned to each other and
    * to the batch window oracle.
    *
    * TTL is deliberately NONE here because the bounded replay must
    * assign every historical event; a production session store would
    * pass a TTL of a few gap-lengths so abandoned users age out of
    * RocksDB without a timer per key. */
  class SessionProcessor extends StatefulProcessor[Long, Ev, SessionEvent] {
    @transient private var st: ValueState[SessionState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SessionState]("session",
        org.apache.spark.sql.Encoders.product[SessionState], TTLConfig.NONE)
    override def handleInputRows(userId: Long, evs: Iterator[Ev],
        timers: TimerValues): Iterator[SessionEvent] = {
      val (out, s) =
        foldSessions(evs, if (st.exists()) Some(st.get()) else None)
      st.update(s)
      out.iterator.map { case (e, fs) =>
        SessionEvent(e.event_id, e.ts, userId, fs.sessionId) }
    }
  }

  /** q_sessionize's STREAMING twin through [[SessionProcessor]] on the
    * RocksDB state store — the state backend a 100 TB session store
    * actually needs (`transformWithState` requires it; the default
    * HDFS-backed store keeps every key in executor HEAP, so state is
    * memory-bound, while RocksDB spills to local SSD and checkpoints
    * changelogs, bounding memory by the working set). The stream emits
    * per-event assignments; the per-session aggregate over the
    * stream's OWN output rebuilds the exact q_sessionize shape, so the
    * same DuckDB window oracle pins the full pipeline end-to-end.
    *
    * The provider conf is set for the bounded run and restored
    * ([[RocksDbConfs]], through [[DeliveryHarness.drain]]). */
  /** The TWS sessionization stage — ONE definition shared by the
    * single-process twin and the restart receipt, so the processor
    * wiring (key, time mode, output mode) cannot drift between them. */
  private def sessionized(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.as[Ev]
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor,
        TimeMode.None(), OutputMode.Append())
      .toDF()
  }

  /** The per-session aggregate over the stream's own per-event
    * output — shared for the same no-drift reason. */
  private def sessionAggregate(perEvent: DataFrame): DataFrame =
    perEvent
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
      .orderBy(col("user_id"), col("session_id"))

  def sessionsViaTws(spark: SparkSession, sf: String): DataFrame = {
    val assigned = sessionized(readEvents(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value")))
    sessionAggregate(runToCompletion(spark, assigned, OutputMode.Append(),
      Seq("event_id"), RocksDbConfs))
  }

  /** [[sessionsViaTws]] with a PROCESS RESTART mid-feed — the receipt
    * that the RocksDB session store actually RECOVERS, not merely
    * exists: events split into two deliveries at a cut placed inside
    * the earliest within-session gap (so at least one OPEN session is
    * guaranteed to span the crash), the first query drains delivery 0
    * and stops, and a fresh incarnation resumes from the checkpoint.
    * transformWithState must rebuild every user's ValueState from the
    * store's checkpointed changelog: a spanning session's continuation
    * events have to extend the same session id the dead incarnation
    * opened, and every later session id chains off the recovered
    * counter — lost state would re-number from 1 and the spec's
    * equality against the single-process twin would fail. This is the
    * recovery path a long-running 100 TB session store exercises on
    * every executor loss and redeploy.
    */
  def sessionsViaTwsRestart(spark: SparkSession, sf: String): DataFrame = {
    val root = graft.TempDirs.create("graft-twsrestart")
    val outDir = s"$root/out"
    val evs = graft.operators.Events.load(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    // deterministic crash point: midpoint of the earliest gap that the
    // session rule considers WITHIN-session; falls back to the global
    // time midpoint on a corpus with no multi-event session
    val uw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val mcol = unix_micros(col("ts"))
    val pair = evs.withColumn("m", mcol)
      .withColumn("nm", lead(col("m"), 1).over(uw))
      // nm > m: a zero-width gap has no integer midpoint strictly
      // between the two events, which would silently void the
      // spanning-session guarantee (both land in delivery 0)
      .filter(col("nm") > col("m") && col("nm") - col("m") <= GapMicros)
      .agg(min(struct(col("m"), col("nm")))).head()
    val cut =
      if (pair.isNullAt(0)) {
        val b = evs.agg(min(mcol), max(mcol)).head()
        (b.getLong(0) + b.getLong(1)) / 2
      } else (pair.getStruct(0).getLong(0) + pair.getStruct(0).getLong(1)) / 2

    // the shared harness carries the TWS stage through the restart
    // (transform rides the stream, so the second incarnation must
    // rebuild the processor's state store from the checkpoint)
    DeliveryHarness.replay(spark, root,
      Seq(evs.filter(mcol <= cut), evs.filter(mcol > cut)),
      restartAfter = Some(1), transform = sessionized,
      confs = RocksDbConfs) { (batch, batchId) =>
      StreamState.append(outDir, batch, batchId)
    }
    sessionAggregate(StreamState.read(spark, outDir,
      org.apache.spark.sql.Encoders.product[SessionEvent].schema))
  }

  // ---- stateful SCD2 version assignment (transformWithState) -------

  /** Streaming SCD2 state: the version counter and the attribute value
    * the open version tracks. */
  case class Scd2State(version: Long, curType: String)

  /** One version-stamped change event — the streaming SCD2's per-event
    * output, from which the dimension rows aggregate. */
  case class VersionedEvent(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, version: Long)

  /** THE version-increment fold, shared semantics with the batch
    * [[graft.operators.Events.scd2]] lag+running-sum form: a version
    * bumps exactly when the tracked value CHANGES in (ts, event_id)
    * order, with state carrying the open version across batches. */
  private def foldVersions(evs: Iterator[Ev], st0: Option[Scd2State])
      : (Seq[VersionedEvent], Scd2State) = {
    val sorted = evs.toSeq.sortBy(e => (micros(e.ts), e.event_id))
    var s = st0.getOrElse(Scd2State(0L, null))
    val out = sorted.map { e =>
      if (s.curType == null || s.curType != e.event_type)
        s = Scd2State(s.version + 1, e.event_type)
      VersionedEvent(e.event_id, e.ts, e.user_id, e.event_type, s.version)
    }
    (out, s)
  }

  /** The change-detection rule as a [[StatefulProcessor]]: per-user
    * RocksDB state is just (open version, tracked value) — O(1) per
    * key no matter how long the history, which is what makes a
    * billion-entity dimension feed viable as a stream. */
  class Scd2Processor extends StatefulProcessor[Long, Ev, VersionedEvent] {
    @transient private var st: ValueState[Scd2State] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[Scd2State]("scd2",
        org.apache.spark.sql.Encoders.product[Scd2State], TTLConfig.NONE)
    override def handleInputRows(userId: Long, evs: Iterator[Ev],
        timers: TimerValues): Iterator[VersionedEvent] = {
      val (out, s) =
        foldVersions(evs, if (st.exists()) Some(st.get()) else None)
      st.update(s)
      out.iterator
    }
  }

  /** q_scd2's STREAMING twin: [[Scd2Processor]] stamps every change
    * event with its version incrementally (the part that needs carried
    * state), then the dimension rows — validity intervals chained
    * half-open, NULL valid_to on the open row — aggregate from the
    * stream's OWN output, exactly the incremental dim-merge a
    * warehouse loader runs downstream of a CDC feed. Same DuckDB
    * oracle as the batch form pins the whole pipeline. */
  def scd2ViaTws(spark: SparkSession, sf: String): DataFrame = {
    import spark.implicits._
    val assigned = readEvents(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Ev]
      .groupByKey(_.user_id)
      .transformWithState(new Scd2Processor,
        TimeMode.None(), OutputMode.Append())
      .toDF()
    // dimension rows come from THE shared aggregation (Events.scd2
    // calls the same method), so the twins cannot drift
    graft.operators.Events.scd2Dimension(runToCompletion(spark, assigned,
      OutputMode.Append(), Seq("event_id"), RocksDbConfs))
  }

  /** This family's rows, each beside its DuckDB oracle. */
  val rows: Seq[QueryRow] = Seq(
    QueryRow("q_stream_hourly", hourlyViaStream)(Events.HourlyEventsSql),
    // Streaming ingest dedup: the engine emits the distinct key set
    // (which duplicate row survives is arrival-order-dependent; the key
    // set is deterministic and hash-checkable).
    QueryRow("q_stream_dedup", dedupViaStream)(
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type"""),
    // Stream-static enrichment join (events stream × customer dim)
    // aggregated per segment.
    QueryRow("q_stream_enrich", enrichViaStream)(
      """SELECT c.c_mktsegment, COUNT(*) AS n,
         CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events e JOIN customer c ON e.user_id = c.c_custkey
         GROUP BY 1 ORDER BY 1"""),
    // Stream-stream event-time interval join: per purchase, the same
    // user's views in the trailing 24h. The streaming engine produces
    // the pair set; the rollup is deterministic on either engine.
    QueryRow("q_stream_interval", intervalJoinViaStream(_, _))(
      """SELECT p.event_id, p.user_id, CAST(COUNT(*) AS BIGINT) AS n_views
         FROM (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase') p
         JOIN (SELECT user_id, ts FROM events
               WHERE event_type = 'view') v
           ON p.user_id = v.user_id
          AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL 24 HOUR
         GROUP BY p.event_id, p.user_id
         ORDER BY p.event_id"""),
    // Streaming twin: the stream must land exactly the batch rows
    QueryRow("q_stream_outliers", outliersViaStream)(Events.OutliersSql),
    // the transformWithState/RocksDB streaming twin reproduces the
    // batch session aggregate exactly, so it shares the window oracle
    QueryRow("q_stream_sessions", sessionsViaTws)(Events.SessionizeSql),
    // the transformWithState streaming twin stamps versions with
    // carried RocksDB state and rebuilds the same dimension rows from
    // its own output, so it shares the batch SCD2 oracle verbatim
    QueryRow("q_stream_scd2", scd2ViaTws)(Events.Scd2Sql)
  )
}
