package graftbench

import java.nio.file.{Files, Paths}
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The benchmark's JVM side: one closed-loop client running one
  * operation at a time against the engine's public entry points
  * (`Protocol.handle` for pump jobs, `SparkEntry.queries` for queries).
  *
  * It prints `READY` once the session is warm, runs the workload, and
  * writes raw observations (op latencies, pass walls, spans, listener
  * events) to the JSON file named by `out=`. All arithmetic over them
  * lives in `metrics.py`, where it is unit-tested.
  *
  * Arguments are `key=value`: mode (setup|run), workload, inputs, root,
  * seconds, trace (0|1), seed, cores, out.
  */
object GraftBench {
  private val mapper = new ObjectMapper()

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val cores = args("cores").toInt
    val root = args("root")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config(graft.Sessions.NanosAsLongKey, "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // a warm session: its first job has run
    spark.range(0, 100000, 1, cores).selectExpr("sum(id)").collect()
    println("READY")
    Console.out.flush()
    try {
      if (args("mode") == "run") {
        val run = new Run(spark, args)
        Files.writeString(Paths.get(args("out")), mapper.writeValueAsString(run.execute()))
      }
    } finally spark.stop()
  }
}

/** One timed run of one workload. */
class Run(spark: SparkSession, args: Map[String, String]) {
  private val mapper = new ObjectMapper()
  private val workload = args("workload")
  private val inputs = args("inputs")
  private val root = args("root")
  private val seconds = args("seconds").toDouble
  private val cores = args("cores").toInt
  private val seed = args("seed").toLong
  private val traceOn = args("trace") == "1"

  private val out: ObjectNode = mapper.createObjectNode()
  private val opsOut: ArrayNode = out.putArray("ops")
  private val passesOut: ArrayNode = out.putArray("passes")
  private val failures: ArrayNode = out.putArray("failures")
  private val trace = new Trace

  private def now(): Long = Clock.now()
  private var currentLoop = "timed"
  private var listeners: Option[Listeners] = None

  def execute(): ObjectNode = {
    out.put("cores", cores)
    workload match {
      case "pump_bulk" => pump()
      case "query_corpus" => queries(Workloads.corpus)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    out.put("peak_rss_mb", vmHwmMb())
    out
  }

  // ---- timed loop --------------------------------------------------

  /** Run passes until `seconds` have elapsed (at least one). A traced
    * run follows the untraced loop with a traced one and then a second
    * untraced one, so the overhead of tracing is measured in-process
    * against untraced passes on both sides of it. */
  private def timedLoop(pass: (Int, Boolean) => Unit): Unit = {
    def loop(traced: Boolean, label: String): Unit = {
      currentLoop = label
      graft.CachePool.drainBuildLog() // builds before this loop are not its own
      val gc0 = gcMs()
      ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
      val t0 = System.nanoTime()
      var i = 0
      while (i == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
        val p0 = now()
        val span = if (traced) trace.open("pass", s"$label-$i") else -1
        pass(i, traced)
        if (traced) trace.close(span)
        val p = passesOut.addObject()
        p.put("loop", label); p.put("index", i)
        p.put("start_ns", p0); p.put("end_ns", now())
        i += 1
      }
      val loopOut = out.putObject(s"loop_$label")
      loopOut.put("gc_s", (gcMs() - gc0) / 1000.0)
      loopOut.put("heap_peak_mb", ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0)
    }
    loop(traced = false, "timed")
    if (traceOn) {
      val l = new Listeners(spark)
      listeners = Some(l)
      val runSpan = trace.open("run", workload)
      loop(traced = true, "traced")
      trace.close(runSpan)
      l.drainAndDetach()
      listeners = None
      out.set("trace", trace.toJson(mapper))
      out.set("events", l.toJson(mapper))
      loop(traced = false, "after")
    }
  }

  private def recordOp(name: String, family: String, loop: Int, t0: Long,
      t1: Long, ok: Boolean, extra: ObjectNode => Unit = _ => ()): Unit = {
    val o = opsOut.addObject()
    o.put("name", name); o.put("family", family); o.put("pass", loop)
    o.put("loop", currentLoop)
    o.put("start_ns", t0); o.put("end_ns", t1); o.put("ok", ok)
    extra(o)
  }

  private def fail(name: String, why: String): Unit = {
    val f = failures.addObject(); f.put("op", name); f.put("why", why.take(500))
  }

  // ---- pump workloads ----------------------------------------------

  /** FULL EXPORT of every source table with PARALLEL=cores, then FULL
    * IMPORT of the dump under REMAP_SCHEMA main->stage, replacing the
    * previous import. One round trip is one pass. */
  private def pump(): Unit = {
    val dump = s"$root/dump"
    val db = s"$root/db"
    val tables = Files.list(Paths.get(inputs)).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).toSeq.sorted
    val srcDigest = tables.map(t => t -> digest(spark.read.parquet(s"$inputs/$t.parquet"))).toMap
    val srcRows = srcDigest.map { case (t, (rows, _)) => t -> rows }
    out.put("source_rows", srcRows.values.sum)

    def request(source: String, target: String, op: String, directives: String) =
      s"""{"connection": {"source_dir": "$source", "target_dir": "$target", "schema": "main"},
         | "request": "SUBMIT", "payload": {"operation": "$op", "mode": "FULL", "wait": true,
         | "directives": [{"name": "PARALLEL", "value": "$cores"}$directives]}}""".stripMargin
    val exportReq = request(inputs, dump, "EXPORT", "")
    val importReq = request(dump, db, "IMPORT",
      """, {"name": "REMAP_SCHEMA", "old_value": "main", "value": "stage"},
        | {"name": "TABLE_EXISTS_ACTION", "value": "REPLACE"}""".stripMargin)

    def submit(kind: String, json: String, pass: Int, traced: Boolean): Unit = {
      val span = if (traced) trace.open("op", kind) else -1
      val t0 = now()
      if (traced) {
        val s = trace.open("request.parse", kind)
        graft.request.Protocol.parse(json)
        trace.close(s)
      }
      val rs = if (traced) trace.open("request", kind) else -1
      val resp = graft.request.Protocol.handle(spark, json)
      if (traced) trace.close(rs)
      val t1 = now()
      if (traced) trace.close(span)
      val objs = resp.detail.map(_.objects).getOrElse(Nil)
      val badRows = objs.filter(o => srcRows.get(o.objectName).exists(_ != o.rows))
      val ok = resp.state == "COMPLETED" && objs.size == tables.size && badRows.isEmpty
      if (!ok) fail(kind, s"state=${resp.state} objects=${objs.size} " +
        s"rows-mismatch=${badRows.map(_.objectName)} ${resp.error.getOrElse("")}")
      recordOp(kind, "job", pass, t0, t1, ok, { o =>
        val arr = o.putArray("objects")
        objs.foreach(ob => arr.add(ob.elapsedSec))
        o.put("rows", objs.map(_.rows).sum)
        o.put("workers", math.min(cores, math.max(1, tables.size)))
      })
      // a STATUS request after each job, as a client polling it would
      val st = if (traced) trace.open("request", "status") else -1
      val statusResp = graft.request.Protocol.handle(spark,
        s"""{"connection": {"source_dir": "$inputs"}, "request": "STATUS",
           | "payload": {"job_name": "${resp.jobName.getOrElse("")}"}}""".stripMargin)
      if (traced) trace.close(st)
      if (statusResp.state != resp.state)
        fail(s"$kind-status", s"STATUS says ${statusResp.state}, SUBMIT said ${resp.state}")
    }

    // untimed round trips: class loading, JIT, file-system caches
    for (_ <- 1 to 2) {
      TreeUtil.delete(dump)
      graft.request.Protocol.handle(spark, exportReq)
      graft.request.Protocol.handle(spark, importReq)
    }
    timedLoop { (i, traced) =>
      TreeUtil.delete(dump)
      submit("export", exportReq, i, traced)
      submit("import", importReq, i, traced)
    }
    // correctness gate: every table in the final import equals its source
    tables.foreach { t =>
      try {
        val (sc, sd) = srcDigest(t)
        val (ic, id) = digest(spark.read.parquet(s"$db/stage/$t"))
        if (sc != ic || sd != id)
          fail("gate:import", s"$t: source rows=$sc digest=$sd, imported rows=$ic digest=$id")
      } catch { case e: Exception => fail("gate:import", s"$t: $e") }
    }
  }

  /** Row count and an order-insensitive content digest. */
  private def digest(df: DataFrame): (Long, String) = {
    import org.apache.spark.sql.functions._
    val h = xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)")
    val r = df.agg(count(lit(1)), sum(h)).head()
    (r.getLong(0), String.valueOf(r.get(1)))
  }

  // ---- query workloads ---------------------------------------------

  /** Per loop, a fresh session runs every row cold, then five times
    * warm. Pooled kernels and the operators' other memos are keyed by
    * session, so the cold pass builds every one and the warm passes
    * serve them. Row order is drawn from the seed. */
  private def queries(list: Seq[(String, String)]): Unit = {
    val rng = new scala.util.Random(seed)
    val order = rng.shuffle(list)
    val oracle = out.putObject("oracle_sql")
    val results = s"$root/results"

    def runOne(session: SparkSession, name: String, family: String, pass: Int,
        traced: Boolean, phase: String): Unit = {
      val fn = graft.SparkEntry.queries(name)
      val span = if (traced) trace.open("op", name) else -1
      val t0 = now()
      val ok = try {
        val b = if (traced) trace.open("plan.build", name) else -1
        val df = fn(session, inputs)
        if (traced) {
          trace.close(b)
          val o = trace.open("plan.optimize", name)
          df.queryExecution.executedPlan
          trace.close(o)
        }
        val e = if (traced) trace.open("exec", name) else -1
        df.write.format("noop").mode("overwrite").save()
        if (traced) trace.close(e)
        true
      } catch {
        case e: Exception => fail(name, e.toString); false
      }
      val t1 = now()
      if (traced) {
        trace.close(span)
        val builds = graft.CachePool.drainBuildLog()
        trace.counts(span, "pool.builds", builds.size)
        trace.counts(span, "pool.build_s", builds.map(_._2).sum)
        trace.counts(span, "pool.storage_mb", spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum / 1048576.0)
      }
      recordOp(name, family, pass, t0, t1, ok, _.put("phase", phase))
    }

    // correctness gate and warm-up, outside the timed region and in a
    // session of its own: every row runs cold, then warm (served from
    // the kernels the cold pass pooled), and both results are written
    // for the DuckDB oracle compare; class loading and JIT are paid here
    val gateSession = spark.newSession()
    order.foreach { case (name, _) =>
      graft.SparkEntry.oracleSql.get(name).foreach(oracle.put(name, _))
    }
    for (phase <- Seq("cold", "warm")) order.foreach { case (name, _) =>
      try graft.SparkEntry.queries(name)(gateSession, inputs).coalesce(1)
        .write.mode("overwrite").parquet(s"$results/$phase/$name")
      catch { case e: Exception => fail(s"gate:$name", s"$phase: $e") }
    }
    timedLoop { (i, traced) =>
      val session = spark.newSession()
      if (traced) listeners.foreach(_.watch(session))
      order.foreach { case (n, f) => runOne(session, n, f, i, traced, "cold") }
      for (_ <- 1 to 5)
        order.foreach { case (n, f) => runOne(session, n, f, i, traced, "warm") }
    }
  }

  // ---- JVM ---------------------------------------------------------

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)
}

/** One clock for spans and listener events: epoch nanoseconds, read
  * through the monotonic timer. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def now(): Long = baseMs * 1000000L + (System.nanoTime() - baseNs)
}

object TreeUtil {
  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.delete(f))
      finally w.close()
    }
  }
}

/** In-memory spans: (id, parent, kind, label, start, end) plus counters
  * attached to a span. Written out once, at the end of the run. */
class Trace {
  private case class Span(id: Int, parent: Int, kind: String, label: String,
      start: Long, var end: Long)
  private val spans = ArrayBuffer.empty[Span]
  private val stack = scala.collection.mutable.Stack.empty[Int]
  private val counters = ArrayBuffer.empty[(Int, String, Double)]
  private def now(): Long = Clock.now()

  def open(kind: String, label: String): Int = {
    val id = spans.size
    spans += Span(id, stack.headOption.getOrElse(-1), kind, label, now(), -1L)
    stack.push(id)
    id
  }

  def close(id: Int): Unit = {
    spans(id).end = now()
    while (stack.nonEmpty && stack.pop() != id) ()
  }

  def counts(id: Int, name: String, v: Double): Unit = counters += ((id, name, v))

  def toJson(m: ObjectMapper): ObjectNode = {
    val o = m.createObjectNode()
    val arr = o.putArray("spans")
    spans.foreach { s =>
      val n = arr.addObject()
      n.put("id", s.id); n.put("parent", s.parent); n.put("kind", s.kind)
      n.put("label", s.label); n.put("start_ns", s.start); n.put("end_ns", s.end)
    }
    val c = o.putArray("counters")
    counters.foreach { case (id, name, v) =>
      val n = c.addObject(); n.put("span", id); n.put("name", name); n.put("value", v)
    }
    o
  }
}

/** Spark, SQL and streaming listeners. They record raw events with
  * their own timestamps; attribution to ops happens afterwards, by
  * interval, which is exact because one op runs at a time. */
class Listeners(spark: SparkSession) {
  private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Array[Double]]()
  private val stages = new java.util.concurrent.ConcurrentLinkedQueue[Array[Double]]()
  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Array[Double]]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[Array[Double]]()
  private val lifetimes = new java.util.concurrent.ConcurrentLinkedQueue[Array[Double]]()
  private val started = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Long]()

  private val sparkListener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val failed = e.reason != org.apache.spark.Success
      tasks.add(Array(e.taskInfo.launchTime.toDouble, e.taskInfo.finishTime.toDouble,
        if (m == null) 0 else m.executorRunTime.toDouble,
        if (m == null) 0 else m.inputMetrics.bytesRead.toDouble,
        if (m == null) 0 else m.inputMetrics.recordsRead.toDouble,
        if (m == null) 0 else m.shuffleReadMetrics.totalBytesRead.toDouble,
        if (m == null) 0 else m.shuffleWriteMetrics.bytesWritten.toDouble,
        if (m == null) 0 else (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
        if (failed) 1 else 0))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      stages.add(Array(s.submissionTime.getOrElse(0L).toDouble,
        s.completionTime.getOrElse(0L).toDouble, s.numTasks.toDouble))
    }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(Array(e.time.toDouble))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      started.put(e.runId, System.currentTimeMillis())
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      progress.add(Array(java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        d.getOrElse("triggerExecution", 0.0), d.getOrElse("addBatch", 0.0),
        d.getOrElse("walCommit", 0.0), d.getOrElse("queryPlanning", 0.0),
        d.getOrElse("latestOffset", 0.0)))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Option(started.remove(e.runId)).foreach { t0 =>
        lifetimes.add(Array(t0.toDouble, System.currentTimeMillis().toDouble))
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  private val watched = ArrayBuffer(spark)
  spark.sparkContext.addSparkListener(sparkListener)
  spark.streams.addListener(streamListener)

  /** Streaming events reach only listeners of the session that runs
    * the query, so each session the workload opens is watched too. */
  def watch(session: SparkSession): Unit = {
    session.streams.addListener(streamListener)
    watched += session
  }

  def drainAndDetach(): Unit = {
    org.apache.spark.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    watched.foreach(_.streams.removeListener(streamListener))
  }

  def toJson(m: ObjectMapper): ObjectNode = {
    val o = m.createObjectNode()
    def put(name: String, fields: Seq[String],
        q: java.util.concurrent.ConcurrentLinkedQueue[Array[Double]]): Unit = {
      o.putArray(s"${name}_fields").addAll(
        fields.map(f => m.getNodeFactory.textNode(f): com.fasterxml.jackson.databind.JsonNode).asJava)
      val arr = o.putArray(name)
      q.forEach { row => val r = arr.addArray(); row.foreach(v => r.add(v)) }
    }
    put("tasks", Seq("launch_ms", "finish_ms", "run_ms", "bytes_read", "records_read", "shuffle_read",
      "shuffle_write", "spill", "failed"), tasks)
    put("stages", Seq("submit_ms", "complete_ms", "num_tasks"), stages)
    put("jobs", Seq("time_ms"), jobs)
    put("progress", Seq("ts_ms", "trigger_ms", "add_batch_ms", "wal_commit_ms",
      "planning_ms", "latest_offset_ms"), progress)
    put("lifetimes", Seq("start_ms", "end_ms"), lifetimes)
    o
  }
}
