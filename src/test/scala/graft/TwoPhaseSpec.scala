package graft

import graft.operators.TwoPhase
import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

/** [[TwoPhase.prefix]] against its definition — the single-window
  * `sum(weight) OVER (PARTITION BY by ORDER BY order ROWS UNBOUNDED
  * PRECEDING)`, replayed on the driver — and the plan guard for every
  * row built on it. */
class TwoPhaseSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf

  /** One generated frame: rows of (group, id, key, weight) plus the
    * shape knobs the primitive must be indifferent to. */
  private case class Case(rows: Seq[(String, Long, Long, Long)],
      grouped: Boolean, buckets: Int, desc: Boolean, splitBucket: Boolean)

  private val genCase: Gen[Case] = for {
    n <- Gen.frequency(1 -> Gen.const(0), 1 -> Gen.const(1),
      8 -> Gen.choose(2, 200))
    grouped <- Gen.oneOf(true, false)
    groups <- Gen.choose(1, 4)
    // dense ids, or sparse snowflake-style ids whose gaps leave most
    // equal-width buckets empty
    sparse <- Gen.oneOf(true, false)
    gaps <- Gen.listOfN(n,
      if (sparse) Gen.choose(1L, 1000000000L) else Gen.const(1L))
    // the sort key: the id itself, or a narrow domain (heavy ties,
    // broken by id); a single-value domain puts every row in bucket 0
    keyDomain <- Gen.oneOf(0L, 1L, 10L)
    keys <- Gen.listOfN(n, Gen.choose(0L, math.max(0L, keyDomain - 1)))
    weightKind <- Gen.oneOf("zero", "one", "small")
    weights <- Gen.listOfN(n, weightKind match {
      case "zero" => Gen.const(0L)
      case "one" => Gen.const(1L)
      case _ => Gen.choose(0L, 5L)
    })
    gs <- Gen.listOfN(n, Gen.choose(0, groups - 1))
    buckets <- Gen.choose(1, 64)
    desc <- Gen.oneOf(true, false)
    splitBucket <- Gen.oneOf(true, false)
  } yield {
    val ids = gaps.scanLeft(1L << 40)(_ + _).tail
    val rows = ids.indices.map { i =>
      val key = if (keyDomain == 0L) ids(i) else keys(i)
      (s"g${gs(i)}", ids(i), key, weights(i))
    }
    Case(rows, grouped, buckets, desc, splitBucket)
  }

  /** The definition, on the driver: sort within the group by
    * (key, id) — key descending when `desc` — and accumulate. */
  private def reference(c: Case): Seq[(Long, Long)] =
    c.rows.groupBy(r => if (c.grouped) r._1 else "").values.toSeq
      .flatMap { rs =>
        val sorted = rs.sortBy(r => (if (c.desc) -r._3 else r._3, r._2))
        sorted.map(_._2).zip(sorted.map(_._4).scanLeft(0L)(_ + _).tail)
      }.sortBy(_._1)

  private def viaPrefix(c: Case): Seq[(Long, Long)] = {
    import spark.implicits._
    val df = c.rows.toDF("g", "id", "k", "w")
    // equal-width key ranges from broadcast extremes, measured in the
    // order's direction — the callers' bucket shape
    val dist = if (c.desc) "mx - k" else "k - mn"
    val ext = df.agg(min(col("k")).as("mn"), max(col("k")).as("mx"))
    val ranged = df.crossJoin(broadcast(ext))
      .withColumn("b", expr(
        s"($dist) div cast(ceil((mx - mn + 1) / ${c.buckets}.0) as bigint)"))
      .drop("mn", "mx")
    // a two-column bucket (coarse, fine) is the Dedup (df, prefix) shape
    val (framed, bucket) =
      if (c.splitBucket)
        (ranged.withColumn("b_hi", expr("b div 8"))
          .withColumn("b_lo", expr("b % 8")), Seq("b_hi", "b_lo"))
      else (ranged, Seq("b"))
    val order = Seq(if (c.desc) col("k").desc else col("k"), col("id"))
    val out = TwoPhase.prefix(framed, if (c.grouped) Seq("g") else Nil,
      bucket, order, col("w"), "out")
    assert(out.columns.toSeq == framed.columns.toSeq :+ "out")
    out.select("id", "out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
  }

  test("prefix equals the single-window running sum on generated frames") {
    val prop = Prop.forAll(genCase) { c =>
      val got = viaPrefix(c)
      val want = reference(c)
      Prop(got == want) :| s"got $got want $want for $c"
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(30).withWorkers(1)
      .withInitialSeed(org.scalacheck.rng.Seed(20261017L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("building a prefix frame runs no Spark job") {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), length(col("text")).cast("long").as("n"))
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val ext = docs.agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      val built = TwoPhase.prefix(
        docs.crossJoin(broadcast(ext))
          .withColumn("bucket", expr("(doc_id - mn) div 16")),
        Nil, Seq("bucket"), Seq(col("doc_id")), col("n"), "cum")
      built.queryExecution.optimizedPlan
      // a sentinel job: the bus delivers job starts in order, so once
      // the sentinel's start arrives, every earlier start has too
      spark.sparkContext.setJobGroup("two-phase-sentinel", "sentinel")
      try spark.range(1).count()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.currentTimeMillis() + 10000
      while (!jobs.contains("two-phase-sentinel") &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(jobs.contains("two-phase-sentinel"), "listener saw no sentinel")
      assert(jobs.peek() == "two-phase-sentinel",
        s"frame construction ran jobs: $jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Every row built on the primitive, and the plans it runs: the
    * row's own query plus every checkpoint, pooled build and driver
    * collect made while building it. */
  private val PrefixRows = Seq("q_pack_chunks", "q_epoch_shuffle",
    "q_token_budget", "q_shard_assign", "q_systematic_sample",
    "q_stratified_kfold", "q_curate_v3_sweep", "q_allpairs",
    "q_containment_prefix", "q_skew_profile", "q_ppl_buckets",
    "q_nb_reliability")

  test("primitive-backed rows: no plan holds a Window without a partition spec") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(qe)
    }
    spark.listenerManager.register(listener)
    val offenders = try PrefixRows.flatMap { name =>
      seen.clear()
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val deadline = System.currentTimeMillis() + 10000
      while (!seen.contains(df.queryExecution) &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(seen.contains(df.queryExecution), s"$name: no execution event")
      // the analyzed plan still shows what a cached or pooled frame
      // was built from; the optimized plan is what ran
      seen.toArray(Array.empty[QueryExecution]).toSeq
        .flatMap(qe => Seq(qe.analyzed, qe.optimizedPlan))
        .flatMap(_.collect { case w: LWindow if w.partitionSpec.isEmpty => w })
        .headOption.map(w => s"$name: ${w.simpleString(200)}")
    } finally spark.listenerManager.unregister(listener)
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
