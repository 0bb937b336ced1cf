package graft

import graft.operators.{Dedup, Rounds}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The fixpoint-round driver: which rounds it materializes, that it
  * frees every superseded round without waiting on a GC, that a pooled
  * build frees its scratch frames, and that `parquet` rounds match
  * `localCheckpoint` rounds. */
class RoundsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf
  private val PoolMode = "spark.graft.pool.materialize"

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Ids of the locally checkpointed RDDs `df`'s plan reads. */
  private def checkpointRdds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }.toSet

  private def isMaterialized(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LogicalRDD]

  /** The `graft-pool` dirs `df` reads. */
  private def poolDirs(df: DataFrame): Set[Path] =
    df.inputFiles.map(f => Paths.get(new java.net.URI(f)).getParent).toSet

  /** A path graph 1 – 2 – … – n as (docs, pairs). */
  private def chain(n: Long): (DataFrame, DataFrame) = {
    val s = spark
    import s.implicits._
    ((1L to n).toDF("doc_id"),
      (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b"))
  }

  /** `body`'s value and the lines it logged on `graft.operators.Rounds`
    * (raised to INFO for the call). */
  private def roundLog[A](body: => A): (A, Seq[String]) = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    val name = "graft.operators.Rounds"
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val app = new AbstractAppender("spec-rounds", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        lines.add(e.getMessage.getFormattedMessage); ()
      }
    }
    app.start()
    Configurator.setLevel(name, Level.INFO)
    val ctx = LoggerContext.getContext(false)
    val conf = ctx.getConfiguration.getLoggerConfig(name)
    conf.addAppender(app, null, null)
    conf.setAdditive(false)
    ctx.updateLoggers()
    try (body, lines.asScala.toSeq)
    finally {
      ctx.getConfiguration.removeLogger(name)
      ctx.updateLoggers()
      app.stop()
    }
  }

  test("clustersFrom frees each superseded round as it goes: the RDDs it leaves persisted are the ones its result reads") {
    val (docs, pairs) = chain(40)
    val before = persisted
    val (out, lines) = roundLog(Dedup.clustersFrom(docs, pairs))
    // no System.gc(): a round is freed when the next one is
    // materialized, not when the ContextCleaner gets to it
    val left = persisted -- before
    val rounds = lines.filter(_.startsWith("cc round="))
    assert(rounds.size > 3, lines)
    assert(rounds.last.startsWith(s"cc round=${rounds.size} changed=0 "), lines)
    assert(left.nonEmpty && left == checkpointRdds(out), (left, checkpointRdds(out)))
    assert(out.collect().forall(r => r.getLong(1) == 1L && r.getLong(2) == 40L))
  }

  test("a pooled build frees its scratch frames when it publishes, and when it throws") {
    CachePool.clear()
    var outer = Set.empty[Int]
    var inner = Set.empty[Int]
    try {
      val v = CachePool.sessionCheckpoint("spec-scratch", spark, sf) {
        val a = CachePool.scratch(spark.range(10).toDF("x"))
        val b = CachePool.scratch(a.select((col("x") + 10).as("x")))
        outer = checkpointRdds(a) ++ checkpointRdds(b)
        val c = CachePool.sessionCheckpoint("spec-scratch-inner", spark, sf) {
          val c = CachePool.scratch(b.select((col("x") + 10).as("x")))
          inner = checkpointRdds(c)
          c
        }
        // the inner build published: its scratch is gone, ours is live
        assert(inner.nonEmpty && (persisted intersect inner).isEmpty)
        assert(outer.size == 2 && outer.subsetOf(persisted))
        a.union(b).union(c)
      }
      assert((persisted intersect outer).isEmpty, outer)
      assert(v.collect().map(_.getLong(0)).sorted.toSeq == (0L until 30L))
      var thrown = Set.empty[Int]
      intercept[IllegalStateException] {
        CachePool.sessionCheckpoint("spec-scratch-throws", spark, sf) {
          thrown = checkpointRdds(CachePool.scratch(spark.range(5).toDF("x")))
          throw new IllegalStateException("build failed")
        }
      }
      assert(thrown.nonEmpty && (persisted intersect thrown).isEmpty)
    } finally CachePool.clear()
  }

  test("everyK = 2 materializes and tests rounds 2, 4, … and the last round only") {
    var round = 0
    val inputs = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    val tested = scala.collection.mutable.ArrayBuffer.empty[(Int, Set[Int])]
    val out = Rounds.iterate("spec-everyk",
        CachePool.Held(spark.range(4).toDF("x")), 5, everyK = 2) { s =>
      round += 1
      inputs += isMaterialized(s)
      CachePool.Held(s.select((col("x") + 1).as("x")))
    } { s =>
      assert(isMaterialized(s))
      tested += round -> checkpointRdds(s)
      Rounds.Verdict(-1L, halt = false)
    }
    assert(tested.map(_._1).toSeq == Seq(2, 4, 5))
    assert(inputs.toSeq == Seq(false, false, true, false, true))
    assert(!out.halted && checkpointRdds(out.state) == tested.last._2)
    // superseded rounds are freed, the last one is the caller's
    assert((persisted intersect tested.init.flatMap(_._2).toSet).isEmpty)
    assert(tested.last._2.subsetOf(persisted))
    assert(out.state.collect().map(_.getLong(0)).sorted.toSeq == (5L until 9L))
    // a halting test stops the loop at the first round it accepts
    round = 0
    val early = Rounds.iterate("spec-halt",
        CachePool.Held(spark.range(4).toDF("x")), 9, everyK = 2) { s =>
      round += 1
      CachePool.Held(s.select((col("x") + 1).as("x")))
    }(_ => Rounds.Verdict(0L, halt = true))
    assert(early.halted && round == 2)
  }

  test("parquet-mode rounds give the localCheckpoint rows and delete their superseded dirs") {
    val (docs, pairs) = chain(40)
    val local = Dedup.clustersFrom(docs, pairs).collect().toSeq
    val dirs = scala.collection.mutable.ArrayBuffer.empty[Set[Path]]
    spark.conf.set(PoolMode, "parquet")
    val (halving, cc) = try {
      val halving = Rounds.iterate("spec-parquet",
          CachePool.Held(spark.range(64).toDF("x")), 20) { s =>
        CachePool.Held(s.select(expr("x div 2").as("x")))
      } { s =>
        dirs += poolDirs(s)
        val n = s.filter(col("x") > 0).count()
        Rounds.Verdict(n, n == 0L)
      }
      (halving, Dedup.clustersFrom(docs, pairs))
    } finally spark.conf.unset(PoolMode)
    assert(cc.collect().toSeq == local)
    assert(poolDirs(cc).exists(_.getFileName.toString.startsWith("graft-pool")))
    assert(halving.halted && dirs.size == 6, dirs) // 63 → 31 → … → 0
    assert(dirs.forall(d => d.size == 1 &&
      d.head.getFileName.toString.startsWith("graft-pool")), dirs)
    dirs.init.flatten.foreach(d => assert(!Files.exists(d), s"$d not deleted"))
    assert(poolDirs(halving.state) == dirs.last && Files.exists(dirs.last.head))
    assert(halving.state.collect().forall(_.getLong(0) == 0L))
  }
}
