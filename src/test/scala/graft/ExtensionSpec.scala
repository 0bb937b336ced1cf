package graft

import graft.directives.ObjectTypeValidator
import graft.functions.GraftExtensions
import graft.model.{JobMode, JobState}
import graft.sources.RemoteFile
import graft.status.JobRegistry
import org.scalatest.funsuite.AnyFunSuite

import java.time.Instant

class ExtensionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("custom expressions are callable from SQL after registration") {
    GraftExtensions.registerAll(spark)
    val dot = spark.sql(
      "SELECT dot_long(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d")
      .collect()(0).getLong(0)
    assert(dot == 4 + 10 + 18)
    val sh = spark.sql(
      "SELECT shingles(array('a','b','c','d'), 3) AS s")
      .collect()(0).getSeq[String](0)
    assert(sh == Seq("a b c", "b c d"))
    val sim = spark.sql(
      "SELECT simhash_sig(array(7L)) AS s").collect()(0).getLong(0)
    assert(sim == 7L) // single hash: its own bits win every vote
  }

  test("fused string-hash signatures equal the unfused hash-array forms") {
    import org.apache.spark.sql.functions._
    import graft.functions.ArrayOps
    val as = Seq(3L, 5L, 97L); val bs = Seq(7L, 11L, 13L)
    val p = 4294967311L
    val toks = Tables.load(spark, SparkTestBase.sf, "documents")
      .select(col("doc_id"), array_distinct(
        split(graft.operators.Text.normalized(col("text")), " ")).as("toks"))
    val both = toks.select(
      ArrayOps.minhash_sig_str(col("toks"), as, bs, p).as("fused_mh"),
      ArrayOps.minhash_sig(
        transform(col("toks"), t => pmod(xxhash64(t), lit(1L << 31))),
        as, bs, p).as("plain_mh"))
    assert(both.filter(col("fused_mh") =!= col("plain_mh")).count() == 0)
    assert(both.count() > 0)
  }

  test("md5-bit simhash equals the pure-SQL conv(md5(w)) construction") {
    // the replayability contract behind the q_simhash_pairs oracle:
    // the fused simhash_sig_md5 bits must equal simhash_sig over token
    // hashes built ONLY from builtin md5/conv/shift — the same
    // construction the DuckDB oracle spells with strpos/list_reduce
    import org.apache.spark.sql.functions._
    import graft.functions.ArrayOps
    val toks = Tables.load(spark, SparkTestBase.sf, "documents")
      .select(col("doc_id"), array_distinct(
        split(graft.operators.Text.normalized(col("text")), " ")).as("toks"))
    def md5h(w: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      shiftleft(conv(substring(md5(w), 1, 8), 16, 10).cast("long"), 32)
        .bitwiseOR(conv(substring(md5(w), 9, 8), 16, 10).cast("long"))
    val both = toks.select(
      ArrayOps.simhash_sig_md5(col("toks")).as("fused"),
      ArrayOps.simhash_sig(transform(col("toks"), w => md5h(w))).as("plain"))
    assert(both.filter(col("fused") =!= col("plain")).count() == 0)
    assert(both.count() > 0)
  }

  test("quantize_q equals the HOF form and JVM math across a seeded sweep") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val arrays: Seq[Seq[Float]] = (1 to 200).map { _ =>
      Seq.fill(rnd.nextInt(8) + 1)(
        (rnd.nextDouble() * 4 - 2).toFloat) // [-2, 2), incl. negatives
    }
    val q = graft.operators.Similarity.Q
    val df = arrays.toDF("xs")
      .select(col("xs"),
        graft.functions.ArrayOps.quantize_q(col("xs"), q).as("fused"),
        transform(col("xs"),
          x => floor(x.cast("double") * q).cast("long")).as("hof"))
    val rows = df.collect()
    assert(rows.length == 200)
    rows.foreach { r =>
      val xs = r.getSeq[Float](0)
      val fused = r.getSeq[Long](1)
      val hof = r.getSeq[Long](2)
      assert(fused == hof)
      assert(fused == xs.map(x => math.floor(x.toDouble * q).toLong))
    }
  }

  test("bloom_probe_bucketed: codegen == interpreted, null shard probes false, cache spans buckets") {
    import org.apache.spark.sql.functions._
    import graft.functions.BloomProbe.bloom_probe_bucketed
    import spark.implicits._
    // two real shards with disjoint contents + one bucket with no shard
    def sketch(items: Seq[Long]): Array[Byte] = {
      val bf = org.apache.spark.util.sketch.BloomFilter.create(100, 0.01)
      items.foreach(bf.putLong)
      val out = new java.io.ByteArrayOutputStream()
      bf.writeTo(out); out.toByteArray
    }
    val s0 = sketch(Seq(1L, 2L, 3L)); val s1 = sketch(Seq(100L, 200L))
    val rows = Seq(
      (0L, Some(s0), 1L, true),    // present in its shard
      (0L, Some(s0), 100L, false), // present only in the OTHER shard
      (1L, Some(s1), 100L, true),
      (1L, Some(s1), 1L, false),
      (2L, None, 1L, false))       // bucket with no corpus shard
    val df = rows.toDF("bucket", "bf", "h", "want")
      .withColumn("got", bloom_probe_bucketed(col("bucket"), col("bf"), col("h")))
    // codegen path (wholestage projection over a local relation)
    df.collect().foreach(r =>
      assert(r.getBoolean(4) == r.getBoolean(3), s"codegen row $r"))
    // interpreted path: evaluate the expression directly per row
    val expr = graft.functions.BloomProbeBucketed(
      org.apache.spark.sql.catalyst.expressions.BoundReference(0,
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.catalyst.expressions.BoundReference(1,
        org.apache.spark.sql.types.BinaryType, nullable = true),
      org.apache.spark.sql.catalyst.expressions.BoundReference(2,
        org.apache.spark.sql.types.LongType, nullable = false))
    rows.foreach { case (b, bf, h, want) =>
      val row = org.apache.spark.sql.catalyst.InternalRow(b, bf.orNull, h)
      assert(expr.eval(row) == want, s"interpreted ($b, $h)")
    }
    // result is non-nullable by contract (missing shard == not seen)
    assert(!df.schema("got").nullable)
  }

  test("LobStream invariants hold across payload/chunk-size sweep") {
    val dir = graft.TempDirs.create("lobsweep")
    val rnd = new scala.util.Random(11)
    val cases = Seq(0, 1, 31, 32, 33, 64, 1000) ++ Seq.fill(5)(rnd.nextInt(5000))
    cases.zipWithIndex.foreach { case (n, i) =>
      val payload = Array.fill[Byte](n)(rnd.nextInt().toByte)
      val chunk = 1 + rnd.nextInt(64)
      val path = s"$dir/p$i.bin"
      RemoteFile.writeChunks(spark, path,
        payload.grouped(math.max(1, chunk)).map(identity))
      val st = RemoteFile.openChunked(spark, path, chunk)
      try {
        val got = st.chunks().toArray
        assert(got.forall(_.length <= chunk), s"case $n/$chunk")
        assert(got.map(_.length).sum == n)
        assert(java.util.Arrays.equals(got.flatten, payload))
        assert(st.complete && st.position == n.toLong)
        // one more read after completion stays None
        assert(st.read().isEmpty)
      } finally st.close()
    }
  }

  test("band_keys equals the builtin xxhash64-over-slice form") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val sigs: Seq[Seq[Long]] = (1 to 100).map(_ => Seq.fill(64)(rnd.nextLong()))
    val bands = 16; val rpb = 4
    val df = sigs.toDF("sig").select(
      graft.functions.ArrayOps.band_keys(col("sig"), bands, rpb).as("fused"),
      transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(b, slice(col("sig"), b * rpb + 1, lit(rpb)))).as("hof"))
    assert(df.filter(col("fused") =!= col("hof")).count() == 0)
    assert(df.count() == 100)
  }

  test("agree_count equals the zip_with+filter+size HOF form") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    // mix agreeing and differing slots, plus unequal lengths
    val pairs: Seq[(Seq[Long], Seq[Long])] = (1 to 100).map { _ =>
      val a = Seq.fill(64)(rnd.nextInt(4).toLong)
      val b = a.map(x => if (rnd.nextBoolean()) x else rnd.nextInt(4).toLong)
      (a, if (rnd.nextInt(10) == 0) b.take(50) else b)
    }
    val df = pairs.toDF("a", "b").select(
      graft.functions.ArrayOps.agree_count(col("a"), col("b")).as("fused"),
      size(filter(zip_with(col("a"), col("b"), (x, y) => x === y), v => v))
        .cast("long").as("hof"))
    assert(df.filter(col("fused") =!= col("hof")).count() == 0)
    assert(df.count() == 100)
  }

  test("whole-stage codegen keeps agree_count inline (no fallback)") {
    GraftExtensions.registerAll(spark)
    val plan = spark.sql(
      """SELECT agree_count(array(l_orderkey, l_partkey),
                            array(l_partkey, l_orderkey)) AS c
         FROM parquet.`/root/testdata/sf0.001/lineitem.parquet`""")
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [agree_count"), plan.take(500))
  }

  test("sq_wdot equals the explicit unpack-and-multiply form") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val rows: Seq[(Seq[Long], Seq[Long])] = (1 to 100).map { _ =>
      val codes = Seq.fill(64)(rnd.nextInt(256))
      val packed = (0 until 8).map(j =>
        (0 until 8).map(b => codes(j * 8 + b).toLong << (8 * b))
          .reduce(_ | _))
      val w = Seq.fill(64)((rnd.nextInt(1 << 20) - (1 << 19)).toLong * 1000L)
      (w, packed)
    }
    // byte-unpacking has no clean HOF twin, so the reference is a
    // driver-side recomputation over the same rows (codegen batch path)
    val got = rows.toDF("w", "packed")
      .select(graft.functions.ArrayOps.sq_wdot(col("w"), col("packed")))
      .collect().map(_.getLong(0)).toSeq
    val want = rows.map { case (w, packed) =>
      (0 until 64).map { i =>
        w(i) * ((packed(i / 8) >>> (8 * (i % 8))) & 0xFFL)
      }.sum
    }
    assert(got == want)
    // shape mismatch fails fast, not silently (surfaced directly on the
    // local-relation path, wrapped in SparkException on the executor path)
    val e = intercept[Throwable](
      Seq((Seq(1L, 2L), Seq(0L))).toDF("w", "p")
        .select(graft.functions.ArrayOps.sq_wdot(col("w"), col("p")))
        .collect())
    val msg = Option(e.getCause).getOrElse(e).getMessage
    assert(msg.contains("8 entries per packed long"), msg)
  }

  test("whole-stage codegen keeps sq_wdot inline (no fallback)") {
    GraftExtensions.registerAll(spark)
    val plan = spark.sql(
      """SELECT sq_wdot(array(l_orderkey, l_partkey, l_suppkey, l_orderkey,
                              l_partkey, l_suppkey, l_orderkey, l_partkey),
                        array(l_suppkey)) AS s
         FROM parquet.`/root/testdata/sf0.001/lineitem.parquet`""")
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [sq_wdot"), plan.take(500))
  }

  test("whole-stage codegen keeps dot_long inline (no fallback)") {
    GraftExtensions.registerAll(spark)
    val plan = spark.sql(
      """SELECT dot_long(array(l_orderkey, l_partkey),
                         array(l_partkey, l_orderkey)) AS d
         FROM parquet.`/root/testdata/sf0.001/lineitem.parquet`""")
      .queryExecution.executedPlan.toString
    // `*(n)` prefixes mark operators inside a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [dot_long"), plan.take(500))
  }

  test("object-type validation fails fast with the valid list") {
    assert(ObjectTypeValidator.validate(JobMode.Table, "index") == "INDEX")
    val e = intercept[IllegalArgumentException](
      ObjectTypeValidator.validate(JobMode.Table, "TABLESPACE"))
    assert(e.getMessage.contains("Valid types:"))
    // mode-specific: USER is valid for SCHEMA jobs, not TABLE jobs
    assert(ObjectTypeValidator.validate(JobMode.Schema, "USER") == "USER")
    intercept[IllegalArgumentException](
      ObjectTypeValidator.validate(JobMode.Table, "USER"))
  }

  test("remote file wrappers round-trip text and binary") {
    val dir = graft.TempDirs.create("remotefile")
    val w = RemoteFile.createText(spark, s"$dir/log.txt")
    w.write("line one\nORA-12345: boom\n"); w.close()
    assert(RemoteFile.readLines(spark, s"$dir/log.txt") ==
      Seq("line one", "ORA-12345: boom"))
    assert(RemoteFile.readAllText(spark, s"$dir/log.txt")
      .startsWith("line one"))
    val out = RemoteFile.createBinary(spark, s"$dir/raw.bin")
    out.write(Array[Byte](1, 2, 3)); out.close()
    val in = RemoteFile.openBinary(spark, s"$dir/raw.bin")
    try assert(in.readAllBytes().toSeq == Seq[Byte](1, 2, 3))
    finally in.close()
  }

  test("URI-scheme handler registry dispatches by scheme with Hadoop fallback") {
    // fake in-memory scheme (handlers.py:114-135 parity)
    val store = scala.collection.concurrent.TrieMap.empty[String, Array[Byte]]
    object MemHandler extends RemoteFile.FileHandler {
      def openBinary(s: org.apache.spark.sql.SparkSession, path: String) =
        new java.io.ByteArrayInputStream(
          store.getOrElse(path, sys.error(s"no such mem file $path")))
      def createBinary(s: org.apache.spark.sql.SparkSession, path: String,
          overwrite: Boolean) =
        new java.io.ByteArrayOutputStream() {
          override def close(): Unit = { super.close(); store(path) = toByteArray }
        }
    }
    try {
      assert(RemoteFile.register("mem", MemHandler).isEmpty)
      val w = RemoteFile.createText(spark, "mem://bucket/hello.txt")
      w.write("via mem scheme"); w.close()
      assert(RemoteFile.readAllText(spark, "mem://bucket/hello.txt") ==
        "via mem scheme")
      // schemeless paths still hit the Hadoop handler
      val dir = graft.TempDirs.create("schemereg")
      val w2 = RemoteFile.createText(spark, s"$dir/plain.txt")
      w2.write("hadoop"); w2.close()
      assert(RemoteFile.readAllText(spark, s"$dir/plain.txt") == "hadoop")
      assert(RemoteFile.schemeOf(s"$dir/plain.txt").isEmpty)
      assert(RemoteFile.schemeOf("s3a://b/k").contains("s3a"))
      // unregistered scheme falls back to Hadoop (and fails on a bogus FS)
      assert(RemoteFile.handlerFor("mem://x") eq MemHandler)
      assert(RemoteFile.handlerFor("/tmp/x") eq RemoteFile.HadoopHandler)
    } finally RemoteFile.unregister("mem")
  }

  test("concurrent versioned appends both land in the ledger") {
    val root = graft.TempDirs.create("ledger")
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        graft.sources.SnapshotStore.appendVersion(
          spark, root, s"JOB-$i", Instant.now())
        ()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val ledger = graft.sources.SnapshotStore.readLedger(spark, root)
    assert(ledger.map(_.version).sorted == Seq(1L, 2L, 3L, 4L))
    assert(ledger.map(_.jobName).toSet.size == 4)
  }

  test("orphan cleanup drops terminal jobs but spares KEEP_MASTER retainees") {
    JobRegistry.clear()
    JobRegistry.register(graft.status.JobStatusInfo("J1", "o", "EXPORT",
      "TABLE", JobState.Completed, 100, Nil, Nil, Instant.now(), None))
    JobRegistry.register(graft.status.JobStatusInfo("J2", "o", "EXPORT",
      "TABLE", JobState.Executing, 50, Nil, Nil, Instant.now(), None))
    JobRegistry.register(graft.status.JobStatusInfo("J3", "o", "EXPORT",
      "TABLE", JobState.Completed, 100, Nil, Nil, Instant.now(), None))
    JobRegistry.retain("J3") // KEEP_MASTER analog
    val dropped = JobRegistry.cleanupOrphans()
    assert(dropped == Seq("J1"))
    assert(JobRegistry.get("J1").isEmpty && JobRegistry.get("J2").nonEmpty)
    assert(JobRegistry.get("J3").nonEmpty)
  }

  test("KEEP_MASTER directive retains the finished job through orphan GC") {
    JobRegistry.clear()
    val out = graft.TempDirs.create("keepmaster")
    val sf = SparkTestBase.sf
    val kept = graft.job.DataPumpJob(
      graft.model.Operation.Export, graft.model.JobMode.Table, sf, s"$out/a",
      directives = Seq(graft.directives.IncludeTable(Seq("region")),
        graft.directives.KeepMaster(true))).run(spark)
    val plain = graft.job.DataPumpJob(
      graft.model.Operation.Export, graft.model.JobMode.Table, sf, s"$out/b",
      directives = Seq(graft.directives.IncludeTable(Seq("region"))),
      tag = Some("plain")).run(spark)
    JobRegistry.cleanupOrphans()
    assert(JobRegistry.get(kept.jobName).nonEmpty)
    assert(JobRegistry.get(plain.jobName).isEmpty)
  }

  test("custom expressions handle edge inputs") {
    GraftExtensions.registerAll(spark)
    // empty arrays (typed — array() alone is array<void>)
    assert(spark.sql(
      "SELECT dot_long(CAST(array() AS ARRAY<BIGINT>), CAST(array() AS ARRAY<BIGINT>))")
      .collect()(0).getLong(0) == 0L)
    // mismatched lengths: dot over common prefix
    assert(spark.sql("SELECT dot_long(array(2L, 3L), array(10L))")
      .collect()(0).getLong(0) == 20L)
    // nulls propagate
    assert(spark.sql(
      "SELECT dot_long(CAST(NULL AS ARRAY<BIGINT>), array(1L))")
      .collect()(0).isNullAt(0))
    // shingles shorter than k: empty result
    assert(spark.sql("SELECT shingles(array('a','b'), 3)")
      .collect()(0).getSeq[String](0).isEmpty)
    // a bigint k reads the same as an int k
    assert(spark.sql("SELECT shingles(array('a','b','c','d'), 3L)")
      .collect()(0).getSeq[String](0) == Seq("a b c", "b c d"))
    // simhash of empty tokens: all votes -1 => zero bits? votes start 0,
    // no tokens => votes all 0 => no bits set
    assert(spark.sql("SELECT simhash_sig(CAST(array() AS ARRAY<BIGINT>))")
      .collect()(0).getLong(0) == 0L)
  }
}
