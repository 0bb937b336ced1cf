package graft

import java.util.concurrent.CountDownLatch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The session memo registry: every piece of work graft reuses across
  * queries lives in ONE map here — pooled kernels
  * ([[sessionCheckpoint]]), the shared shingle frame, the curate
  * upstreams, resolved table relations ([[Tables.load]]), trained
  * IVF/PQ/SQ artifacts, the bucketed and date-partitioned join
  * layouts, and the per-invocation persist generations of [[swap]].
  * One staleness rule, one [[clear]]. Published `*_saved` artifacts
  * are not memoized: every call trains and publishes afresh.
  *
  * KEY. One entry per string key: a kernel name, `relation:<path>`,
  * `swap:<key>`, …. An entry holds (session, input fingerprint, value,
  * release). A lookup serves it only when the request comes from the
  * SAME SparkSession object (`eq`: a restarted session never receives
  * a Dataset bound to a dead one) and the [[fingerprint]] of the input
  * path is unchanged. Otherwise the old entry is released and the key
  * rebuilt. Keeping one generation per key bounds residency at the
  * number of keys, so there is no LRU bound: eviction could free an
  * entry that a running query still holds as a lazy reference.
  *
  * FINGERPRINT. The sorted `path:length:mtime` of every file under the
  * input path (one recursive listing, no data read). An in-place
  * rewrite changes part-file names even inside the same millisecond,
  * and a file added to a nested `k=v` directory is listed although
  * the top-level mtime does not move. Reused work must be a pure
  * function of the bytes under the path and DETERMINISTIC (the r15
  * advisory): two call sites may share a key, and a released frame
  * that is still referenced recomputes from lineage, which must give
  * the same values.
  *
  * RELEASE. Each entry carries the function that frees what it holds:
  * unpersist (the shingle frame, [[swap]] generations), free the
  * local-checkpoint blocks or delete the `graft-pool` scratch dir
  * (pooled kernels), or nothing (driver values, relations, written
  * layouts, whose scratch dirs go at JVM exit as before). It runs when
  * the entry is superseded and on [[clear]]. A pooled kernel's build
  * also frees the [[scratch]] frames it made, once its own value is
  * materialized.
  *
  * BUILD LOG. Every [[memo]] build is timed and logged under the charge
  * label of the timed region that paid for it ([[charging]],
  * [[drainBuildLog]]), so the bench attributes each build to a query.
  * [[swap]] is not a build: it only registers a lazy persist.
  *
  * LOCKING (r17 advisory). The build runs OUTSIDE the registry's
  * monitor: the key is reserved under the lock (per-key in-flight
  * latch), built unlocked, published under the lock. A second request
  * for the key waits for the latch and is served the published value,
  * or takes over the build if the first one threw; one long build
  * never serializes unrelated keys.
  */
object CachePool {

  /** A value and the function that frees what it holds. */
  final case class Held[+A](value: A, release: () => Unit = () => ())

  /** `session` is null for [[swap]] generations, which [[memo]] never
    * serves. */
  private case class Entry(session: SparkSession, fp: String,
      held: Held[AnyRef])

  private val entries = scala.collection.mutable.HashMap.empty[String, Entry]
  private val inFlight =
    scala.collection.mutable.HashMap.empty[String, CountDownLatch]

  /** Every build this JVM has run: (key, build seconds, charge label).
    * The charge label is the timed region the harness opened with
    * [[charging]] — the bench wraps each timed run as "query@sweep" —
    * else [[Untimed]]. */
  private val buildLog =
    scala.collection.mutable.ArrayBuffer.empty[(String, Double, String)]

  /** Charge label of builds that run outside any timed region. */
  val Untimed = "untimed"
  @volatile private var charge: String = Untimed

  /** Run `body` as a timed region: builds inside it are charged to
    * `label` in [[drainBuildLog]], and builds after it to [[Untimed]]. */
  def charging[A](label: String)(body: => A): A = {
    charge = label
    try body finally charge = Untimed
  }

  /** Drain the build log (bench artifact emission). */
  def drainBuildLog(): Seq[(String, Double, String)] = synchronized {
    val out = buildLog.toList
    buildLog.clear()
    out
  }

  /** The input path itself plus the sorted `path:length:mtime` of every
    * file under it; a missing path lists nothing. Read through the
    * Hadoop FileSystem API, so a non-local scratch or data root works —
    * with `listStatus`, not `listFiles`: a located status loads file
    * permissions, which the local file system does by forking a shell
    * per file when the native library is absent. */
  private def fingerprint(spark: SparkSession, input: String): String = {
    val root = new org.apache.hadoop.fs.Path(input)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { s =>
        if (s.isDirectory) walk(s.getPath)
        else Seq(s"${s.getPath.toUri.getPath}:${s.getLen}:${s.getModificationTime}")
      }
    val files =
      try walk(root) catch { case _: java.io.FileNotFoundException => Nil }
    (input +: files.sorted).mkString("|")
  }

  /** The registry lookup: serve `key`'s entry if it was built by
    * `spark` over an unchanged `input`, else release it and build. */
  private[graft] def memo[A <: AnyRef](key: String, spark: SparkSession,
      input: String)(build: => Held[A]): A = {
    val fp = fingerprint(spark, input) // the listing runs unlocked
    while (true) {
      // reserve-or-serve under the lock; never run a Spark job here
      val decision: Either[AnyRef, Option[CountDownLatch]] = synchronized {
        entries.get(key) match {
          case Some(e) if (e.session eq spark) && e.fp == fp =>
            Left(e.held.value)
          case stale =>
            inFlight.get(key) match {
              case Some(latch) => Right(Some(latch))
              case None =>
                // drop the superseded entry BEFORE building: a build
                // that throws (the guarded exact kernels fail fast
                // past their broadcast bound) must not leave a
                // mapping to a value whose blocks were just freed
                stale.foreach(release)
                entries.remove(key)
                inFlight(key) = new CountDownLatch(1)
                Right(None)
            }
        }
      }
      decision match {
        case Left(v) => return v.asInstanceOf[A]
        case Right(Some(latch)) =>
          latch.await() // another thread is building this key — wait,
                        // then re-enter (serves the publish, or takes
                        // over the build if that thread's build threw)
        case Right(None) =>
          try {
            val t0 = System.nanoTime()
            val held = build // Spark job, UNLOCKED
            val dt = (System.nanoTime() - t0) / 1e9
            synchronized {
              entries(key) = Entry(spark, fp, held)
              buildLog += ((key, dt, charge))
            }
            return held.value
          } finally {
            synchronized { inFlight.remove(key).foreach(_.countDown()) }
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def release(e: Entry): Unit = { scala.util.Try(e.held.release()); () }

  /** Persist `frames` (MEMORY_AND_DISK) as the current generation for
    * `key`, releasing whatever generation held the key before. For a
    * kernel that persists a frame consumed on both sides of a
    * self-join but returns its RESULT lazily, so it can never
    * `unpersist()` before evaluation: a long-lived session holds at
    * most ONE generation of blocks per key instead of one per call.
    * Only frames this call persisted are released later: a frame
    * that arrives already persisted (the shingle frame passed through
    * a pool call) keeps its owner's pin. Returns the frames. */
  def swap(key: String, frames: DataFrame*): Seq[DataFrame] = synchronized {
    entries.remove(s"swap:$key").foreach(release)
    val owned = frames.filter(_.storageLevel == StorageLevel.NONE)
    owned.foreach(_.persist(StorageLevel.MEMORY_AND_DISK))
    entries(s"swap:$key") = Entry(null, "",
      Held(frames, () => owned.foreach(_.unpersist())))
    frames
  }

  /** Single-frame convenience over [[swap]]. */
  def swapOne(key: String, frame: DataFrame): DataFrame =
    swap(key, frame).head

  /** Release every entry (session hygiene, the specs, and the bench
    * COLD mode's per-query reset). */
  def clear(): Unit = synchronized {
    entries.valuesIterator.foreach(release)
    entries.clear()
  }

  /** Keys of the resident entries. */
  private[graft] def keys: Seq[String] = synchronized(entries.keys.toSeq.sorted)

  // ---- pooled kernels ------------------------------------------------

  /** One materialized frame per (kernel, dataset, session): several
    * declared queries consume the SAME expensive kernel output (the
    * MinHash-LSH verified pair set feeds the matrix, clustering,
    * survivor, triage and contamination rows), and re-deriving it per
    * row multiplies the round's dominant stage for zero oracle value.
    * At 100 TB this memo IS the production shape: a pipeline
    * materializes its pair/cluster artifact once to scratch storage
    * and runs every downstream analysis off the same bytes.
    * Materialized frames sit outside the catalog cache, so the bench's
    * per-query `catalog.clearCache()` cannot strip them; the
    * checkpoint is a materialization boundary, not a plan change. */
  def sessionCheckpoint(kernel: String, spark: SparkSession, sf: String)(
      build: => DataFrame): DataFrame =
    memo(kernel, spark, sf) {
      val outer = buildScratch.get
      buildScratch.set(Nil)
      try materialize(build)
      finally {
        buildScratch.get.foreach(r => scala.util.Try(r()))
        buildScratch.set(outer)
      }
    }

  /** The [[scratch]] releases of the innermost open [[sessionCheckpoint]]
    * build on this thread; null outside any build. */
  private val buildScratch = new ThreadLocal[List[() => Unit]]

  /** [[materialize]] `df` for a caller whose result still references
    * it lazily (a frame consumed several times, a fixpoint loop's last
    * round), so nothing can free it when the caller returns. */
  private[graft] def scratch(df: DataFrame): DataFrame =
    releasedByBuild(materialize(df))

  /** `held`'s frame, its (idempotent) release handed to the innermost
    * open [[sessionCheckpoint]] build on this thread. That build
    * materializes its value with truncated lineage, then runs the
    * release when it publishes or throws. Outside a build the
    * ContextCleaner frees the blocks once the frame is unreachable (a
    * `parquet` dir goes at JVM exit). */
  private[graft] def releasedByBuild(held: Held[DataFrame]): DataFrame = {
    Option(buildScratch.get).foreach(rs => buildScratch.set(held.release :: rs))
    held.value
  }

  /** Materialize per `spark.graft.pool.materialize` — pooled kernels,
    * [[scratch]] frames and every [[graft.operators.Rounds]] round; the
    * one place graft calls `localCheckpoint`:
    *
    *   - `localCheckpoint` (default, right for local mode): eager
    *     MEMORY_AND_DISK RDD blocks, NOT replicated, lineage truncated
    *     — on a real cluster, losing one executor after the build
    *     makes every later consumer fail. Released by freeing the
    *     checkpointed RDD, which `df.unpersist()` cannot reach.
    *   - `parquet`: write-through to a [[TempDirs]] `graft-pool` dir
    *     and re-read — consumers survive executor loss at the cost of
    *     one write+read. Every pooled frame is exact (longs, strings,
    *     IEEE754 doubles), so the served frame is bit-identical on
    *     either path (OperatorSpec's materialize-parity spec). Released
    *     by deleting the dir. */
  private[graft] def materialize(df: DataFrame): Held[DataFrame] = {
    val spark = df.sparkSession
    spark.conf.get("spark.graft.pool.materialize", "localCheckpoint") match {
      case "parquet" =>
        val dir = TempDirs.create("graft-pool")
        df.write.mode("overwrite").parquet(dir)
        Held(spark.read.parquet(dir), () => TempDirs.delete(dir))
      case _ =>
        val ck = df.localCheckpoint()
        Held(ck, () => ck.queryExecution.analyzed.foreach {
          case r: org.apache.spark.sql.execution.LogicalRDD =>
            org.apache.spark.sql.graftbridge.Bridge
              .unpersistRdd(spark.sparkContext, r.rdd.id)
          case _ => ()
        })
    }
  }
}
