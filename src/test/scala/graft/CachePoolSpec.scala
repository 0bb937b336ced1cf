package graft

import graft.operators.{Corpus, Dedup, Similarity}
import java.nio.file.{Files, Paths}
import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The session memo registry: one staleness rule (session `eq` and the
  * input fingerprint), the reserve / build / publish lock protocol, and
  * one `clear()` that frees everything the registry holds. */
class CachePoolSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf

  private def embeddings(seed: Int): DataFrame = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until 64).map(i => (seed * 1000L + i, i % 4,
        Array.fill(64)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "label", "embedding")
  }

  private def ids(df: DataFrame): Set[Long] =
    df.select(col("vec_id")).collect().map(_.getLong(0)).toSet

  /** A relation, a pooled kernel and the IVF trainer over `dir`, each
    * checked to rebuild after `change` and to serve `want` ids. */
  private def assertRebuilds(dir: String, change: () => Unit,
      want: Set[Long]): Unit = {
    def kernel() = CachePool.sessionCheckpoint("spec-stale-kernel", spark,
      dir)(Tables.load(spark, dir, "embeddings").select(col("vec_id")))
    val before = ids(Tables.load(spark, dir, "embeddings"))
    assert(ids(kernel()) == before)
    val c1 = Similarity.centroidsFor(spark, dir)
    CachePool.drainBuildLog()
    change()
    val p = Tables.path(dir, "embeddings")
    assert(ids(Tables.load(spark, dir, "embeddings")) == want,
      "Tables.load served a stale relation")
    assert(ids(kernel()) == want, "pooled kernel served stale rows")
    val c2 = Similarity.centroidsFor(spark, dir)
    val built = CachePool.drainBuildLog().map(_._1)
    Seq(s"relation:$p", "spec-stale-kernel", "ivf-centroids").foreach { k =>
      assert(built.contains(k), s"$k was not rebuilt: $built")
    }
    assert(c2 ne c1)
    CachePool.clear()
    assert(Similarity.centroidsFor(spark, dir) == c2,
      "retrained centroids differ from a from-scratch training")
  }

  test("staleness: an in-place rewrite is seen although the table dir mtime is set back") {
    val dir = TempDirs.create("graft-stale")
    val table = Paths.get(Tables.path(dir, "embeddings"))
    embeddings(1).write.parquet(table.toString)
    try assertRebuilds(dir, () => {
      // the same-millisecond case, made deterministic
      val mtime = Files.getLastModifiedTime(table)
      embeddings(2).write.mode("overwrite").parquet(table.toString)
      Files.setLastModifiedTime(table, mtime)
    }, (2000L until 2064L).toSet)
    finally { CachePool.clear(); TempDirs.delete(dir) }
  }

  test("staleness: a file added to a nested k=v partition dir is seen although the top-level mtime does not move") {
    val dir = TempDirs.create("graft-stale-nested")
    val extra = TempDirs.create("graft-stale-extra")
    val table = Paths.get(Tables.path(dir, "embeddings"))
    embeddings(1).write.partitionBy("label").parquet(table.toString)
    val added = embeddings(3).filter(col("label") === 0)
    added.drop("label").coalesce(1).write.parquet(s"$extra/t")
    try assertRebuilds(dir, () => {
      val mtime = Files.getLastModifiedTime(table)
      val part = Files.list(Paths.get(s"$extra/t"))
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst.get
      Files.copy(part, table.resolve("label=0").resolve("part-added.parquet"))
      assert(Files.getLastModifiedTime(table) == mtime)
    }, (1000L until 1064L).toSet ++ ids(added))
    finally {
      CachePool.clear(); TempDirs.delete(dir); TempDirs.delete(extra)
    }
  }

  test("registry: concurrent requests for one key build once and share the value") {
    CachePool.clear()
    val builds = new AtomicInteger
    val entered = new CountDownLatch(1)
    def request(): AnyRef = CachePool.memo("spec-concurrent", spark, sf) {
      builds.incrementAndGet()
      entered.countDown()
      Thread.sleep(500) // the second request arrives mid-build
      CachePool.Held(new Object)
    }
    val got = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]
    val a = new Thread(() => { got.add(request()); () })
    a.start()
    entered.await()
    val b = new Thread(() => { got.add(request()); () })
    b.start()
    a.join(); b.join()
    try {
      assert(builds.get == 1)
      val Array(x, y) = got.toArray
      assert(x eq y)
    } finally CachePool.clear()
  }

  test("registry: a build that throws leaves no entry, and the waiting request takes over the build") {
    CachePool.clear()
    val key = "spec-throwing"
    val attempts = new AtomicInteger
    val entered = new CountDownLatch(1)
    val failure = new AtomicReference[Throwable]
    val served = new AtomicReference[AnyRef]
    val a = new Thread(() => try {
      CachePool.memo[AnyRef](key, spark, sf) {
        attempts.incrementAndGet()
        entered.countDown()
        Thread.sleep(500)
        throw new IllegalStateException("build failed")
      }; ()
    } catch { case e: Throwable => failure.set(e) })
    a.start()
    entered.await()
    val b = new Thread(() => served.set(CachePool.memo(key, spark, sf) {
      attempts.incrementAndGet()
      CachePool.Held("taken over")
    }))
    b.start()
    a.join(); b.join()
    try {
      assert(failure.get.getMessage == "build failed")
      assert(served.get == "taken over" && attempts.get == 2)
      // a stale entry whose rebuild throws is gone too, not served
      intercept[IllegalStateException] {
        CachePool.memo[AnyRef](key, spark, TempDirs.create("graft-other"))(
          throw new IllegalStateException("rebuild failed"))
      }
      assert(!CachePool.keys.contains(key), CachePool.keys)
    } finally CachePool.clear()
  }

  test("clear() empties the registry, unpersists every RDD it pinned and deletes its pool scratch dirs") {
    CachePool.clear()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    Dedup.shingledCached(spark, sf).count() // persisted shingle frame
    Corpus.curateV2(spark, sf).count() // locally checkpointed upstream
    CachePool.swapOne("spec-swap", spark.range(100).toDF()).count()
    Tables.load(spark, sf, "region").count() // resolved relation
    spark.conf.set("spark.graft.pool.materialize", "parquet")
    val kernel = try Similarity.knnBruteForce(spark, sf, k = 5)
      finally spark.conf.unset("spark.graft.pool.materialize")
    kernel.count()
    val poolDirs = kernel.inputFiles
      .map(f => Paths.get(new java.net.URI(f)).getParent).distinct
    assert(poolDirs.nonEmpty &&
      poolDirs.forall(_.getFileName.toString.startsWith("graft-pool")),
      poolDirs.toSeq)
    // the builds' unreferenced intermediates (the clustering loop's
    // per-round checkpoints) are the ContextCleaner's: collect them
    // first, so `pinned` is what the registry still references
    def persisted = sc.getPersistentRDDs.keySet.toSet
    var settled = Set.empty[Int]
    val settleBy = System.nanoTime() + 20e9.toLong
    while (persisted != settled && System.nanoTime() < settleBy) {
      settled = persisted
      System.gc()
      Thread.sleep(500)
    }
    val pinned = persisted -- before
    Seq("shingled", "curate-base", "swap:spec-swap", "knn-brute-top:5")
      .foreach(k => assert(CachePool.keys.contains(k), k))
    assert(CachePool.keys.exists(_.startsWith("relation:")))
    assert(pinned.nonEmpty)

    CachePool.clear()
    assert(CachePool.keys.isEmpty, CachePool.keys)
    // unpersist is non-blocking: poll
    val deadline = System.nanoTime() + 10e9.toLong
    while ((persisted intersect pinned).nonEmpty &&
        System.nanoTime() < deadline) Thread.sleep(100)
    assert((persisted intersect pinned).isEmpty,
      s"still persisted: ${persisted intersect pinned}")
    poolDirs.foreach(d => assert(!Files.exists(d), s"$d not deleted"))
  }
}
