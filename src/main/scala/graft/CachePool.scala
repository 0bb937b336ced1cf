package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** GENERATIONAL persist registry for per-invocation intermediate
  * frames — the lifecycle answer for kernels that must persist a
  * frame consumed on both sides of a self-join (the substring
  * family's anchor fingerprints, the served-NB model frames) but
  * whose RESULT is returned lazily, so the callee can never
  * `unpersist()` before evaluation.
  *
  * The [[graft.operators.Dedup.shingledCached]] memo solves this for
  * one shared frame; this pool generalizes the same bound to any
  * keyed frame set: `swap(key, frames…)` persists the new generation
  * and unpersists the PREVIOUS generation under the same key, so a
  * long-lived session (the Bench sweep loop, a notebook) holds at
  * most ONE generation of cached blocks per kernel instead of one
  * per invocation.
  *
  * CONTRACT (r15 advisory): pooled frames must be DETERMINISTIC —
  * two call sites may share a key (the substring family does), so
  * one operator's swap can strip the cache behind another's
  * still-unevaluated result, which then RECOMPUTES from lineage; a
  * nondeterministic frame would recompute to different values. The
  * pool also releases ONLY the frames it persisted itself: a frame
  * that arrives already persisted (an external memo like
  * `shingledCached` passed through a pool call) keeps its owner's
  * pin — the superseding swap must not clobber a cache it never
  * created.
  */
object CachePool {

  /** Current generation per key; the Boolean records whether THIS
    * pool issued the persist (and therefore owns the unpersist). */
  private val pool =
    scala.collection.mutable.HashMap.empty[String, Seq[(DataFrame, Boolean)]]

  /** Persist `frames` (MEMORY_AND_DISK) as the current generation for
    * `key`, releasing whatever generation held the key before —
    * pool-persisted frames only; externally persisted frames keep
    * their owner's pin. Returns the frames for inline use. */
  def swap(key: String, frames: DataFrame*): Seq[DataFrame] = synchronized {
    pool.get(key).foreach(_.foreach { case (f, ownedHere) =>
      if (ownedHere) scala.util.Try(f.unpersist())
    })
    pool(key) = frames.map { f =>
      val own = f.storageLevel == StorageLevel.NONE
      if (own) f.persist(StorageLevel.MEMORY_AND_DISK)
      (f, own)
    }
    frames
  }

  /** Single-frame convenience over [[swap]]. */
  def swapOne(key: String, frame: DataFrame): DataFrame =
    swap(key, frame).head

  /** Release the MEMORY_AND_DISK blocks behind LOCALLY-CHECKPOINTED
    * frames (the session-memo discipline: curate upstreams, pooled
    * pair legs). A localCheckpoint's blocks sit OUTSIDE the catalog
    * cache — that is why the memos use it — so `df.unpersist()`
    * cannot reach them; the checkpointed RDD hanging off the
    * `LogicalRDD` leaf holds the only handle. Without this, a long
    * session alternating datasets keeps superseded generations alive
    * until GC + ContextCleaner get around to them (the r16 advisory). */
  def freeLocalCheckpoint(frames: DataFrame*): Unit =
    frames.foreach { df =>
      scala.util.Try {
        df.queryExecution.analyzed.foreach {
          case r: org.apache.spark.sql.execution.LogicalRDD =>
            r.rdd.unpersist(blocking = false)
          case _ => ()
        }
      }
      ()
    }

  /** Release every pool-persisted generation (test/session hygiene). */
  def clear(): Unit = synchronized {
    pool.valuesIterator.foreach(_.foreach { case (f, ownedHere) =>
      if (ownedHere) scala.util.Try(f.unpersist())
    })
    pool.clear()
  }

  // ---- keyed session memos of materialized kernels -------------------

  /** One materialized frame per (kernel, dataset, session) — the
    * [[graft.operators.Corpus]] curateUpstream / dupMethodLegs
    * discipline as ONE shared helper instead of a per-operator memo
    * copy: several declared queries consume the SAME expensive kernel
    * output (the MinHash-LSH verified pair set feeds the matrix,
    * clustering, survivor, triage and contamination rows; the
    * cell-bucketed semantic clustering feeds semdedup / balance /
    * curate), and re-deriving it per row multiplies the round's
    * dominant stage for zero oracle value. At 100 TB this memo IS the
    * production shape: a pipeline materializes its pair/cluster
    * artifact once to scratch storage and runs every downstream
    * analysis off the same bytes.
    *
    * MATERIALIZATION (r18, the scale-honesty fix): the primitive is
    * conf-gated via `spark.graft.pool.materialize`:
    *
    *   - `localCheckpoint` (default, right for local mode): eager
    *     MEMORY_AND_DISK RDD blocks. Failure semantics AT SCALE: the
    *     blocks are NOT replicated and the lineage is truncated — on a
    *     real cluster, losing ONE executor after the build makes every
    *     later consumer of the pooled frame fail (there is nothing to
    *     recompute from). That is acceptable on local[n] (executor ==
    *     driver) and wrong for production.
    *   - `parquet`: write-through to scratch storage
    *     ([[TempDirs]]-registered dir) and re-read — the reliable
    *     production shape: consumers survive executor loss (the bytes
    *     live in storage, re-readable by any executor) at the cost of
    *     one write+read round trip. Every pooled frame is exact
    *     (longs / strings / IEEE754 doubles, all parquet-round-trip
    *     bit-exact), so the served frame is bit-identical on either
    *     path — pinned by OperatorSpec's materialize-parity spec.
    *
    * RESIDENCY BOUND (r18): `spark.graft.pool.maxResident` (default
    * 64) caps the number of resident pooled kernels; past it the
    * least-recently-SERVED entry is freed. Eviction has the same
    * failure semantics as dataset supersession: a consumer that still
    * holds a lazy, unevaluated reference to the evicted frame fails on
    * evaluation (localCheckpoint) or recomputes from scratch storage
    * until the dir is deleted (parquet) — safe between queries, which
    * is when the pool is quiescent; the default is sized above the
    * repo's whole kernel surface (~25) so local runs never evict.
    *
    * Semantics: single entry per kernel key; requesting a different
    * dataset (or the same one from a NEW session) rebuilds and
    * releases the superseded generation's blocks IMMEDIATELY
    * ([[freeLocalCheckpoint]] / scratch-dir delete, the r16 advisory
    * rule). Materialized frames sit outside the catalog cache, so the
    * bench harness's per-query `catalog.clearCache()` hygiene cannot
    * strip them. Frames must be pure functions of the immutable
    * fixture parquet (the shingledCached contract). The FIRST consumer
    * pays the build inside its own timed run — and r18 makes that
    * visible: every build is timed and logged ([[drainBuildLog]]), and
    * the bench artifact carries the per-kernel build cost plus a COLD
    * mode that clears the pool between queries, so the per-operator
    * signal survives pooling (the r17 verdict's top item). Verify and
    * the specs share the same memo, and outputs are bit-identical
    * either way because the checkpoint is a materialization boundary,
    * not a plan change.
    *
    * LOCKING (r17 advisory): the Spark build job runs OUTSIDE the
    * pool's monitor — the key is reserved under the lock (per-key
    * in-flight latch), built unlocked, published under the lock — so
    * one long-running build no longer serializes every unrelated
    * pooled kernel in concurrent sessions/notebooks. */
  private val ckMemo = scala.collection.mutable.HashMap
    .empty[String, Entry]
  private val inFlight = scala.collection.mutable.HashMap
    .empty[String, java.util.concurrent.CountDownLatch]
  private case class Entry(sf: String, df: DataFrame,
      scratchDir: Option[String], var lastServed: Long)
  private var serveTick = 0L

  /** Every pooled build this JVM has run: (kernel, build seconds,
    * charge label). The charge label is the timed region the harness
    * opened with [[charging]] — the bench wraps each timed run as
    * "query@sweep", so the artifact can attribute each build to the
    * query whose timed run paid for it — else [[Untimed]]. */
  private val buildLog =
    scala.collection.mutable.ArrayBuffer.empty[(String, Double, String)]

  /** Charge label of builds that run outside any timed region. */
  val Untimed = "untimed"
  @volatile private var charge: String = Untimed

  /** Run `body` as a timed region: pooled builds inside it are charged
    * to `label` in [[drainBuildLog]], and builds after it to
    * [[Untimed]]. */
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

  private def freeEntry(e: Entry): Unit = {
    e.scratchDir match {
      case Some(dir) => TempDirs.delete(dir)
      case None => freeLocalCheckpoint(e.df)
    }
  }

  /** Materialize per the conf (see the memo doc above). */
  private def materialize(df: DataFrame): (DataFrame, Option[String]) = {
    val spark = df.sparkSession
    spark.conf.get("spark.graft.pool.materialize", "localCheckpoint") match {
      case "parquet" =>
        val dir = TempDirs.create("graft-pool")
        df.write.mode("overwrite").parquet(dir)
        (spark.read.parquet(dir), Some(dir))
      case _ => (df.localCheckpoint(), None)
    }
  }

  def sessionCheckpoint(kernel: String, spark: SparkSession, sf: String)(
      build: => DataFrame): DataFrame = {
    while (true) {
      // reserve-or-serve under the lock; never run a Spark job here
      val decision: Either[DataFrame,
          Option[java.util.concurrent.CountDownLatch]] = synchronized {
        ckMemo.get(kernel) match {
          case Some(e) if e.sf == sf && (e.df.sparkSession eq spark) =>
            serveTick += 1; e.lastServed = serveTick
            Left(e.df)
          case stale =>
            inFlight.get(kernel) match {
              case Some(latch) => Right(Some(latch))
              case None =>
                // drop the superseded entry BEFORE building: a build
                // that throws (the guarded exact kernels fail fast
                // past their broadcast bound) must not leave a stale
                // mapping to a frame whose blocks were just freed
                stale.foreach(freeEntry)
                ckMemo.remove(kernel)
                val l = new java.util.concurrent.CountDownLatch(1)
                inFlight(kernel) = l
                Right(None)
            }
        }
      }
      decision match {
        case Left(df) => return df
        case Right(Some(latch)) =>
          latch.await() // another thread is building this key — wait,
                        // then re-enter (serves the publish, or takes
                        // over the build if that thread's build threw)
        case Right(None) =>
          try {
            val t0 = System.nanoTime()
            val (df, dir) = materialize(build) // Spark job, UNLOCKED
            val dt = (System.nanoTime() - t0) / 1e9
            synchronized {
              serveTick += 1
              ckMemo(kernel) = Entry(sf, df, dir, serveTick)
              buildLog += ((kernel, dt, charge))
              evictPast(spark.conf
                .get("spark.graft.pool.maxResident", "64").toInt)
            }
            return df
          } finally {
            synchronized { inFlight.remove(kernel).foreach(_.countDown()) }
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Free least-recently-served entries past the residency bound —
    * caller holds the monitor. */
  private def evictPast(maxResident: Int): Unit =
    if (ckMemo.size > maxResident) {
      ckMemo.toSeq.sortBy(_._2.lastServed)
        .take(ckMemo.size - maxResident)
        .foreach { case (k, e) => freeEntry(e); ckMemo.remove(k) }
    }

  /** Release every kernel session memo (test/session hygiene, and the
    * bench COLD mode's per-query reset). */
  def clearSessionCheckpoints(): Unit = synchronized {
    ckMemo.valuesIterator.foreach(freeEntry)
    ckMemo.clear()
  }
}
