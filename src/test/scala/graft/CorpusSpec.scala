package graft

import graft.operators.Corpus
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants for the corpus-preparation operators — in particular
  * that each scale-path formulation (salted pre-cap, distributed
  * prefix sum) is EXACTLY equivalent to its naive single-partition
  * form. (Value-exactness vs DuckDB is covered by Verify.)
  */
class CorpusSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf

  test("split assignment partitions the corpus deterministically ~80/10/10") {
    val rows = Corpus.splitAssign(spark, sf).collect()
    val n = rows.length.toDouble
    val frac = rows.groupBy(_.getString(2)).view.mapValues(_.length / n).toMap
    assert(math.abs(frac("train") - 0.8) < 0.06, frac)
    assert(math.abs(frac("val") - 0.1) < 0.04, frac)
    assert(math.abs(frac("test") - 0.1) < 0.04, frac)
    // content-hashed: a second run is bit-identical
    assert(Corpus.splitAssign(spark, sf).collect().sameElements(rows))
  }

  test("gopher rule battery: seeded degenerate docs trip exactly their rule, flags re-derive by hand") {
    import graft.operators.Text
    val passing = Seq.fill(6)(
      "the code and tests run with that have be of good tests").mkString(" ")
    val bullets = "- the bullet item one with have\n" +
      "- the bullet item two of\n- more of the bullets and that"
    val symbols = (Seq.fill(48)("word") ++ Seq.fill(12)("#")).mkString(" ")
    val ellipsis = "the words trail off... and more of them do too...\n" +
      "another line that also ends..."
    val docs = spark.createDataFrame(Seq(
      (1L, passing), (2L, "tiny doc the of"), (3L, bullets),
      (4L, symbols), (5L, ellipsis)))
      .toDF("doc_id", "text")
    val got = Text.gopherRulesFrom(docs).collect()
      .map(r => r.getLong(0) -> r).toMap

    // doc 1 passes everything; its ratios re-derive by hand
    val ws = passing.split(" ")
    assert(got(1L).getAs[Long]("n_words") == ws.length)
    assert(got(1L).getAs[Long]("word_len_pm") ==
      ws.map(_.length).sum.toLong * 1000 / ws.length)
    assert(got(1L).getAs[Long]("alpha_word_bp") == 10000L)
    assert(got(1L).getAs[Long]("stop_hits") >= 2L)
    assert(got(1L).getAs[Long]("gopher_pass") == 1L)

    // each degenerate doc trips its own rule
    assert(got(2L).getAs[Long]("n_words") < Text.GopherMinWords &&
      got(2L).getAs[Long]("gopher_pass") == 0L)
    assert(got(3L).getAs[Long]("bullet_bp") == 10000L &&
      got(3L).getAs[Long]("gopher_pass") == 0L)
    assert(got(4L).getAs[Long]("symbol_bp") == 2000L &&
      got(4L).getAs[Long]("symbol_bp") > Text.GopherMaxSymbolBp &&
      got(4L).getAs[Long]("gopher_pass") == 0L)
    assert(got(5L).getAs[Long]("ellipsis_bp") == 10000L &&
      got(5L).getAs[Long]("ellipsis_bp") > Text.GopherMaxEllipsisBp &&
      got(5L).getAs[Long]("gopher_pass") == 0L)
    // and the real corpus is non-degenerate: both verdicts occur
    val corpus = Text.gopherRules(spark, sf)
      .groupBy("gopher_pass").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(corpus.keySet == Set(0L, 1L), corpus.toString)
  }

  test("unigram tokenizer: total segmentation, real compression, deterministic, coherent with encode") {
    val table = Corpus.unigramTrain(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(table.nonEmpty)
    // totality: every character of every corpus word is in the table
    val words = Tables.load(spark, sf, "documents")
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
        .as("w")).distinct().collect().map(_.getString(0))
    val pieces = table.map(_._1).toSet
    val chars = words.flatMap(_.toSeq).map(_.toString).toSet
    assert(chars.subsetOf(pieces), s"missing chars: ${chars -- pieces}")
    // the trainer actually learned multi-char pieces that get used
    val multis = table.filter(t => t._1.length > 1)
    assert(multis.nonEmpty && multis.forall(_._2 > 0L))
    assert(multis.size <= Corpus.UnigramKeepPieces)
    // bits are the MDL costs of the final counts (re-derive)
    val t = table.map(_._2 + 1L).sum
    table.foreach { case (p, c, b) =>
      assert(b == java.lang.Long.toBinaryString(t / (c + 1)).length.toLong,
        s"piece $p bits")
    }
    // encode coherence: tokens per word in [1, len]; compression real
    val enc = Corpus.unigramEncode(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(enc.nonEmpty)
    enc.foreach { case (id, nw, nt, nc, _) =>
      assert(nt >= nw && nt <= nc, s"doc $id tokens $nt outside [$nw,$nc]")
    }
    val totChars = enc.map(_._4).sum
    val totToks = enc.map(_._3).sum
    assert(totToks * 1000 / totChars < 900,
      s"no compression: $totToks tokens over $totChars chars")
    // determinism: a second full run is bit-identical
    assert(Corpus.unigramTrain(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      table.toSeq)
  }

  test("domain cap bounds every source and keeps the partial group-limit") {
    val capped = Corpus.domainCap(spark, sf, k = 7)
    val perSource = capped.groupBy("source").count().collect()
    assert(perSource.nonEmpty && perSource.forall(_.getLong(1) <= 7))
    // the 100 TB guarantee: rank-limit pushdown caps each map partition
    // to k rows per domain BEFORE the shuffle (SPARK-37099); if this
    // WindowGroupLimit disappears the skewed-domain reducer is unbounded
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("distributed prefix-sum packing equals the bare-window form") {
    val packed = Corpus.packChunks(spark, sf, budget = 256, buckets = 5)
    val docs = graft.Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        size(split(lower(col("text")), " ")).cast("long").as("n_tokens"))
    val naive = docs.withColumn("chunk",
      expr("coalesce(sum(n_tokens) over (order by doc_id rows between unbounded preceding and 1 preceding), 0) div 256"))
    assert(packed.exceptAll(naive).isEmpty && naive.exceptAll(packed).isEmpty)
    // chunks are contiguous and non-decreasing in doc order
    val chunks = packed.orderBy("doc_id").select("chunk").collect().map(_.getLong(0))
    assert(chunks.sliding(2).forall(w => w.length < 2 || w(0) <= w(1)))
  }

  test("tfidf ranks are 1..3 with non-increasing scores per doc") {
    val rows = Corpus.tfidfTop(spark, sf).collect()
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.values.foreach { rs =>
      val sorted = rs.sortBy(_.getLong(4))
      assert(sorted.map(_.getLong(4)).toSeq == (1L to sorted.length))
      val scores = sorted.map(_.getLong(3))
      assert(scores.sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
    }
  }

  test("bigram top-20 is count-ordered") {
    val rows = Corpus.bigramTop(spark, sf).collect()
    assert(rows.length == 20)
    val ns = rows.map(_.getLong(1))
    assert(ns.sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
    assert(rows.forall(_.getString(0).split(" ").length == 2))
  }

  test("pii scrub changes the hash exactly when something was redacted") {
    import spark.implicits._
    // the synthetic corpus is pure lowercase prose (zero digits), so
    // the redaction path needs planted spans
    val docs = Seq(
      (1L, "contact bob.smith+spam@mail.example.org for details"),
      (2L, "order 12345 shipped 2026 units to 99 clients"),
      (3L, "clean prose with nothing to redact"),
      (4L, "a@b.io and 7"),
      // digits INSIDE an address belong to the email redaction, not
      // the number count — n_numbers must reconcile with the scrub
      (5L, "mail user123@mail.com about item 9")).toDF("doc_id", "text")
    val scrubbed = Corpus.piiScrubDf(docs)
      .join(docs, "doc_id")
      .select(col("doc_id"), col("scrub_md5"), md5(col("text")).as("orig_md5"),
        col("n_emails"), col("n_numbers"))
      .collect().sortBy(_.getLong(0))
    assert(scrubbed.map(r => (r.getLong(3), r.getLong(4))).toSeq ==
      Seq((1L, 0L), (0L, 3L), (0L, 0L), (1L, 1L), (1L, 1L)))
    scrubbed.foreach { r =>
      val changed = r.getString(1) != r.getString(2)
      assert(changed == (r.getLong(3) + r.getLong(4) > 0), s"doc ${r.getLong(0)}")
    }
    // corpus form still runs (identity scrub on the digit-free fixture)
    assert(Corpus.piiScrub(spark, sf).count() > 0)
  }

  test("stratified sampling: deterministic, nested across rates, caps only the target stratum") {
    val s500 = Corpus.stratifiedSample(spark, sf).collect()
    val again = Corpus.stratifiedSample(spark, sf).collect()
    assert(s500.map(_.getLong(0)).toSeq == again.map(_.getLong(0)).toSeq)
    // lowering a stratum's rate yields a nested subsample — the
    // property that makes ablation corpora comparable
    val s200 = Corpus.stratifiedSample(spark, sf, Map("en" -> 200)).collect()
    assert(s200.map(_.getLong(0)).toSet.subsetOf(s500.map(_.getLong(0)).toSet))
    // non-target strata pass through whole; the target is ~halved
    val docs = graft.Tables.load(spark, sf, "documents")
    val nonEn = docs.filter(col("lang") =!= "en").count()
    assert(s500.count(_.getString(1) != "en").toLong == nonEn)
    val enTotal = docs.filter(col("lang") === "en").count().toDouble
    assert(enTotal > 0 && s500.exists(_.getString(1) == "en"))
    if (enTotal > 50)
      assert(math.abs(s500.count(_.getString(1) == "en") / enTotal - 0.5) < 0.15)
  }

  test("quality gate drops exactly the sub-quantile tail") {
    import graft.operators.Text
    val kept = Corpus.qualityGate(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val all = Text.quality(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("quality_score"))).toMap
    assert(kept.nonEmpty && kept.size < all.size)
    // separation: every dropped score sits at or below every kept score
    val minKept = kept.values.min
    all.foreach { case (id, score) =>
      if (!kept.contains(id)) assert(score <= minKept, s"doc $id")
    }
    // the cut removes roughly the worst quartile
    val frac = (all.size - kept.size).toDouble / all.size
    assert(frac > 0.15 && frac < 0.35, s"dropped fraction $frac")
  }

  test("quality gate approx mode (the scale path) stays within sketch tolerance of the exact cut") {
    val exact = Corpus.qualityGate(spark, sf, exact = true).collect()
      .map(_.getLong(0)).toSet
    val approx = Corpus.qualityGate(spark, sf).collect()
      .map(_.getLong(0)).toSet
    assert(approx.nonEmpty)
    // t-digest at accuracy 10^4 can move the cut by at most ~1e-4
    // quantile mass; allow 1% of the corpus as slack for the tiny
    // fixture (a handful of docs around the threshold may flip —
    // never anything far from it)
    val n = graft.Tables.load(spark, sf, "documents").count()
    val symmDiff = (approx diff exact).size + (exact diff approx).size
    assert(symmDiff <= math.max(1L, n / 100),
      s"approx vs exact kept-set differs by $symmDiff of $n docs")
    // and the flipped docs must all sit AT the boundary: every doc
    // kept by exactly one mode scores within the band spanned by the
    // two cuts' neighborhoods
    val kept = exact ++ approx
    val scores = graft.operators.Text.quality(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(r.fieldIndex("quality_score"))).toMap
    val onlyOne = (approx diff exact) ++ (exact diff approx)
    if (onlyOne.nonEmpty) {
      val both = (approx intersect exact).map(scores)
      val flipped = onlyOne.map(scores)
      assert(flipped.max <= both.min,
        "a doc far from the threshold flipped between exact and approx modes")
    }
    assert(kept.nonEmpty)
  }

  test("near-dup clusters: consistent with pair graph; chain graph converges") {
    import spark.implicits._
    import graft.operators.Dedup
    // fixture graph: every near-dup pair must land in one cluster, and
    // every cluster label must be its own canonical member
    val clusters = Dedup.nearDupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    clusters.foreach { case (doc, (cl, _)) =>
      assert(cl <= doc && clusters(cl)._1 == cl, s"doc $doc cluster $cl")
    }
    val pairs = Dedup.ngramJaccard(spark, sf).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { p =>
      assert(clusters(p.getLong(0))._1 == clusters(p.getLong(1))._1)
    }
    val sizes = clusters.values.groupBy(_._1).view.mapValues(_.size)
    clusters.values.foreach { case (cl, n) => assert(sizes(cl) == n) }
    // 9-hop path graph: label must propagate the full diameter
    val docs = (1L to 10L).toDF("doc_id")
    val chain = (1L until 10L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cc = Dedup.clustersFrom(docs, chain).collect()
    assert(cc.forall(_.getLong(1) == 1L) && cc.forall(_.getLong(2) == 10L))
  }

  test("LSH-fed clustering matches the exact-edge clustering assignment") {
    import graft.operators.Dedup
    // every fixture pair sits at j >= 0.9 where banding recall ~ 1 and
    // the estimated Jaccard clears the 0.5 cut, so the LSH candidate
    // edge set equals the exact edge set and the cluster assignment
    // must agree bit-for-bit
    val exact = Dedup.nearDupClusters(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val lsh = Dedup.nearDupClustersLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(lsh.toSeq == exact.toSeq)
    // non-degenerate: the LSH edge derivation actually produced clusters
    assert(lsh.exists(_._3 > 1L))
  }

  test("LSH-fed contamination audits the same pair set as the exact audit") {
    val exact = Corpus.contamination(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(3), r.getString(4)))
    val lsh = Corpus.contaminationLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    assert(lsh.toSeq == exact.toSeq)
  }

  test("shingle memo: reuse within a dataset, eviction on switch, re-persist after clearCache") {
    import graft.operators.Dedup
    import org.apache.spark.storage.StorageLevel
    try {
      graft.CachePool.clear()
      val a = Dedup.shingledCached(spark, sf)
      assert(a.storageLevel != StorageLevel.NONE)
      // same dataset → the same cached instance (structural sharing —
      // every consumer sees one scan→normalize→shingle derivation)
      assert(Dedup.shingledCached(spark, sf) eq a)
      // an external cache sweep must not leave consumers uncached
      spark.catalog.clearCache()
      val b = Dedup.shingledCached(spark, sf)
      assert(b.storageLevel != StorageLevel.NONE)
      // switching datasets evicts the previous entry (the r4 leak):
      // single-entry memo, so a session sweeping datasets never
      // accumulates cached blocks
      val other = Dedup.shingledCached(spark, "/root/testdata/sf0.01")
      assert(other.storageLevel != StorageLevel.NONE)
      assert(b.storageLevel == StorageLevel.NONE)
    } finally graft.CachePool.clear()
  }

  test("every dedup consumer reads the shared shingle cache in its physical plan") {
    import graft.operators.Dedup
    try {
      graft.CachePool.clear()
      Dedup.shingledCached(spark, sf) // populate
      // structural sharing, not CacheManager plan-matching luck: each
      // kernel BUILD's executed plan must scan the in-memory relation,
      // not re-derive scan→normalize→split→shingle from parquet.
      // (r17: the pair kernels themselves are session-pooled, so the
      // public entry points return a checkpointed frame — the shingle-
      // cache contract now binds their build functions.)
      Seq(
        "ngramJaccardFrom" ->
          Dedup.ngramJaccardFrom(Dedup.shingledCached(spark, sf), 0.5),
        "minhashLshBuild" -> Dedup.minhashLshBuild(spark, sf, 0.5),
        "minhashRecall" -> Dedup.minhashRecall(spark, sf)
      ).foreach { case (name, df) =>
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("InMemoryTableScan"),
          s"$name does not read the shingle cache")
      }
      // and the pooled entry points hand every consumer the SAME
      // checkpointed instance per (dataset, session) — the sharing the
      // pool exists to provide
      assert(Dedup.ngramJaccard(spark, sf) eq Dedup.ngramJaccard(spark, sf))
      assert(Dedup.minhashLsh(spark, sf) eq Dedup.minhashLsh(spark, sf))
    } finally graft.CachePool.clear()
  }

  test("clusters match a reference union-find across seeded random graphs") {
    import spark.implicits._
    import graft.operators.Dedup
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      val n = 10 + rnd.nextInt(30)
      val pairs = Seq.fill(rnd.nextInt(2 * n)) {
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        if (a < b) (a, b) else (b, a)
      }.filter(p => p._1 != p._2).distinct
      // reference union-find with union-by-min: the root of every tree
      // is its component minimum
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x
        else { parent(x) = find(parent(x)); parent(x) }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      val docs = (0L until n.toLong).toDF("doc_id")
      val got = Dedup.clustersFrom(docs, pairs.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial n=$n edges=$pairs")
    }
  }

  test("pack chunks equal the sequential reference across seeded distributions") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 4) {
      val n = 50 + rnd.nextInt(200)
      val budget = 64 + rnd.nextInt(512)
      val buckets = 1 + rnd.nextInt(8)
      val docs = (0L until n.toLong).map(i => (i, 1L + rnd.nextInt(40)))
        .toDF("doc_id", "n_tokens")
      val rows = Corpus.packChunksDf(docs, budget, buckets)
        .orderBy("doc_id").collect()
      assert(rows.length == n)
      var cum = 0L
      rows.foreach { r =>
        assert(r.getLong(2) == cum / budget,
          s"doc ${r.getLong(0)} trial $trial budget=$budget buckets=$buckets")
        cum += r.getLong(1)
      }
    }
    // sparse snowflake-style ids: range-based bucketing must stay
    // correct (and not collapse the totals side)
    val sparse = (0L until 100L).map(i => (i * 1000003L + 17L, 5L + i % 9))
      .toDF("doc_id", "n_tokens")
    val got = Corpus.packChunksDf(sparse, 128, 8).orderBy("doc_id").collect()
    var cum = 0L
    got.foreach { r =>
      assert(r.getLong(2) == cum / 128); cum += r.getLong(1)
    }
  }

  test("over-diameter chain falls back to star contraction and still labels correctly") {
    import spark.implicits._
    import graft.operators.Dedup
    // diameter 11 >> maxIter 2: min-label propagation cannot converge,
    // so clustersFrom must hand the ORIGINAL edges to large-star/
    // small-star alternation and return the correct labeling anyway
    // (previously this was a hard failure)
    val docs = (1L to 12L).toDF("doc_id")
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cc = Dedup.clustersFrom(docs, chain, maxIter = 2).collect()
    assert(cc.length == 12)
    assert(cc.forall(_.getLong(1) == 1L) && cc.forall(_.getLong(2) == 12L))
    // 120-node path (diameter 119 >> default maxIter 25) through the
    // DEFAULT entry point: green without raising maxIter
    val docsL = (1L to 120L).toDF("doc_id")
    val chainL = (1L until 120L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val ccL = Dedup.clustersFrom(docsL, chainL).collect()
    assert(ccL.length == 120 && ccL.forall(_.getLong(1) == 1L))
  }

  test("a doc whose only pair is a self-loop is its own cluster on both paths") {
    import spark.implicits._
    import graft.operators.Dedup
    // doc 1 is a graph node through (1, 1) alone; maxIter = 0 forces the
    // star-contraction fallback, which drops self-loops
    val docs = Seq(1L, 2L, 3L).toDF("doc_id")
    val pairs = Seq((1L, 1L), (2L, 3L)).toDF("doc_a", "doc_b")
    val want = Seq((1L, 1L, 1L), (2L, 2L, 2L), (3L, 2L, 2L))
    def got(maxIter: Int) = Dedup.clustersFrom(docs, pairs, maxIter).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got(25) == want)
    assert(got(0) == want)
  }

  test("star contraction matches union-find across seeded random graphs") {
    import spark.implicits._
    import graft.operators.Dedup
    // maxIter = 0 forces the star-contraction path on every graph shape
    // (blobs, forests, isolated chains), checked against union-find
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 4) {
      val n = 10 + rnd.nextInt(30)
      val pairs = Seq.fill(rnd.nextInt(2 * n)) {
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        if (a < b) (a, b) else (b, a)
      }.filter(p => p._1 != p._2).distinct
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x
        else { parent(x) = find(parent(x)); parent(x) }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      val docs = (0L until n.toLong).toDF("doc_id")
      val got = Dedup.clustersFrom(docs, pairs.toDF("doc_a", "doc_b"),
          maxIter = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial n=$n edges=$pairs")
    }
  }

  /** `body` with every materialization written through to `graft-pool`
    * parquet (the executor-loss-tolerant mode). */
  private def parquetRounds[A](body: => A): A = {
    spark.conf.set("spark.graft.pool.materialize", "parquet")
    try body finally spark.conf.unset("spark.graft.pool.materialize")
  }

  /** True when `df` reads files under a `graft-pool` dir. */
  private def readsPool(df: org.apache.spark.sql.DataFrame): Boolean =
    df.inputFiles.exists(f => java.nio.file.Paths.get(new java.net.URI(f))
      .getParent.getFileName.toString.startsWith("graft-pool"))

  test("reliable-checkpoint mode produces the same labeling and writes checkpoints") {
    import spark.implicits._
    import graft.operators.Dedup
    val docs = (1L to 30L).toDF("doc_id")
    val pairs = (1L until 30L by 3).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val local = Dedup.clustersFrom(docs, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val result = parquetRounds(Dedup.clustersFrom(docs, pairs))
    val reliable = result.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(reliable == local)
    // the reliable path materialized its rounds as graft-pool parquet
    assert(readsPool(result), result.inputFiles.toSeq)
  }

  test("reliable-checkpoint mode reproduces q_dup_clusters_lsh at sf0.1 (bench-adjacent)") {
    // guards the parquet round path against bit-rot at a real data
    // scale: the toy case above can't catch per-round write/read
    // regressions that only surface with actual shuffle partitions
    import graft.operators.Dedup
    val big = "/root/testdata/sf0.1"
    try {
      val docs = graft.Tables.load(spark, big, "documents").select(col("doc_id"))
      val pairs = Dedup.minhashLsh(spark, big).select(col("doc_a"), col("doc_b"))
      val default = Dedup.nearDupClustersLsh(spark, big).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val result = parquetRounds(Dedup.clustersFrom(docs, pairs))
      val reliable = result.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(reliable == default)
      assert(readsPool(result), result.inputFiles.toSeq)
    } finally {
      // sf0.1 blocks must not outlive this test — shingle persist AND
      // the r17 session-pooled kernel checkpoints (minhash pairs,
      // cluster labels) all hold sf0.1-sized generations here
      graft.CachePool.clear()
    }
  }

  test("delta dedup classifies the batch consistently with the corpus split") {
    import graft.operators.{Dedup, Text}
    val docs = graft.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), md5(Text.normalized(col("text"))).as("fp"))
    val maxId = docs.agg(max("doc_id")).head.getLong(0)
    val w = ((maxId + 1) * 0.8).floor.toLong
    val corpusFps = docs.filter(col("doc_id") < w)
      .select("fp").distinct().collect().map(_.getString(0)).toSet
    val rows = Dedup.deltaDedup(spark, sf).collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(0) >= w))
    val batchFirst = rows.groupBy(_.getString(1))
      .view.mapValues(_.map(_.getLong(0)).min).toMap
    rows.foreach { r =>
      val expected =
        if (corpusFps(r.getString(1))) "dup_of_corpus"
        else if (batchFirst(r.getString(1)) < r.getLong(0)) "dup_in_batch"
        else "new"
      assert(r.getString(2) == expected, s"doc ${r.getLong(0)}")
    }
  }

  test("delta near-dup: matches exact-Jaccard classification and partner invariants") {
    import graft.operators.Dedup
    val docs = graft.Tables.load(spark, sf, "documents")
    val maxId = docs.agg(max("doc_id")).head.getLong(0)
    val w = ((maxId + 1) * 0.8).floor.toLong
    val rows = Dedup.deltaNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // one row per batch doc, covering the whole batch
    val batchN = docs.filter(col("doc_id") >= w).count()
    assert(rows.length.toLong == batchN && rows.forall(_._1 >= w))
    // partner invariants per class
    rows.foreach {
      case (id, "near_dup_of_corpus", m) => assert(m >= 0 && m < w, s"doc $id")
      case (id, "near_dup_in_batch", m) => assert(m >= w && m < id, s"doc $id")
      case (id, "new", m) => assert(m == -1L, s"doc $id")
      case (id, s, _) => fail(s"doc $id: unknown status $s")
    }
    assert(rows.exists(_._2 != "new"), "fixture has no near-dup batch docs")
    // cross-check against the EXACT n-gram Jaccard pair set: the LSH
    // classification must agree doc-for-doc (the oracle's argument)
    val exactPairs = Dedup.ngramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byBatchDoc = exactPairs.filter(_._2 >= w).groupBy(_._2)
    rows.foreach { case (id, status, m) =>
      val partners = byBatchDoc.getOrElse(id, Array.empty).map(_._1)
      val corpus = partners.filter(_ < w)
      val batch = partners.filter(p => p >= w && p < id)
      val expected =
        if (corpus.nonEmpty) ("near_dup_of_corpus", corpus.min)
        else if (batch.nonEmpty) ("near_dup_in_batch", batch.min)
        else ("new", -1L)
      assert((status, m) == expected, s"doc $id")
    }
  }

  test("dedup survivors: exactly one keeper per cluster, and it is the best-quality doc") {
    import graft.operators.Dedup
    val rows = Dedup.keepBest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4)))
    assert(rows.nonEmpty)
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (cid, members) =>
      assert(members.count(_._5) == 1, s"cluster $cid keeper count")
      assert(members.forall(_._3.toInt == members.length), s"cluster $cid size")
      val keeper = members.find(_._5).get
      // best quality, doc_id tie-break
      val best = members.minBy(m => (-m._4, m._1))
      assert(keeper == best, s"cluster $cid")
    }
    // singletons keep themselves; the fixture has real multi-doc clusters
    assert(byCluster.values.exists(_.length > 1))
    byCluster.values.filter(_.length == 1).foreach(m => assert(m.head._5))
  }

  test("epoch shuffle: exact permutation equal to the single-window form; epochs differ") {
    val rows = Corpus.epochShuffle(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val n = rows.length
    // a permutation of 0..n-1
    assert(rows.map(_._2).sorted.sameElements(0L until n.toLong))
    // the two-phase bucket-offset rank must equal the bare global
    // window over the same key (the thing it exists to avoid at scale)
    val expected = rows.map(_._1).sorted
      .map(id => id -> org.apache.commons.codec.digest.DigestUtils.md5Hex(s"epoch1:$id"))
      .sortBy { case (id, k) => (k, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> i.toLong }.toMap
    rows.foreach { case (id, rk) => assert(rk == expected(id), s"doc $id") }
    // deterministic re-run; a different epoch reshuffles
    assert(Corpus.epochShuffle(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sameElements(rows))
    val e2 = Corpus.epochShuffle(spark, sf, epoch = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(e2.map(_._2).sorted.sameElements(0L until n.toLong))
    assert(!e2.sameElements(rows))
  }

  test("token budget: equals the single-window greedy form; budget respected; nested") {
    val budget = 10000L
    val got = Corpus.tokenBudget(spark, sf, budget = budget).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // naive form: sort everything by (quality desc, id), running total
    val scored = graft.operators.Text.quality(spark, sf)
      .select("doc_id", "n_tokens", "quality_score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expect = scala.collection.mutable.ArrayBuffer[(Long, Long, Double, Long)]()
    var cum = 0L
    scored.sortBy { case (id, _, q) => (-q, id) }.foreach { case (id, n, q) =>
      cum += n
      if (cum <= budget) expect += ((id, n, q, cum))
    }
    assert(got.sortBy(_._1).sameElements(expect.sortBy(_._1)))
    assert(got.map(_._2).sum <= budget)
    assert(got.nonEmpty && got.length < scored.length) // a real cut
    // half the budget selects a strict subset (ablation nesting)
    val half = Corpus.tokenBudget(spark, sf, budget = budget / 2).collect()
      .map(_.getLong(0)).toSet
    assert(half.subsetOf(got.map(_._1).toSet) && half.size < got.length)
    // bucket-count robustness: the two-phase rank is exact for any width
    val coarse = Corpus.tokenBudget(spark, sf, budget = budget, buckets = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(coarse.sortBy(_._1).sameElements(got.sortBy(_._1)))
    // the 100 TB guarantee: NO unpartitioned window over the corpus —
    // the only global-ordered window allowed is the bucket-offsets side
    // (≤ `buckets` rows). Walk the optimized plan (the physical one is
    // an AQE leaf wrapper): every Window with an empty partitionSpec
    // must sit on the tiny aggregated side (input carries
    // bucket_tokens, not doc rows).
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val wins = Corpus.tokenBudget(spark, sf, budget = budget)
      .queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.child.output.exists(_.name == "bucket_tokens"), w.toString)
    }
  }

  test("shard assign: round-robin by global size rank; token totals balanced") {
    val shards = 8
    val got = Corpus.shardAssign(spark, sf, shards = shards).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // two-phase rank must equal the naive global ordering
    val expect = got.sortBy { case (id, n, _) => (-n, id) }
      .zipWithIndex.map { case ((id, n, _), i) => (id, n, (i % shards).toLong) }
      .sortBy(_._1)
    assert(got.sortBy(_._1).sameElements(expect))
    // every shard used; round-robin-by-size bounds the total spread by
    // one document's tokens
    val totals = got.groupBy(_._3).map { case (s, rs) => s -> rs.map(_._2).sum }
    assert(totals.keySet == (0 until shards).map(_.toLong).toSet)
    assert(totals.values.max - totals.values.min <= got.map(_._2).max)
    // no unpartitioned window over doc rows (same guard as tokenBudget):
    // the global-ordered cumsum may only run on the ≤`buckets`-row side
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val wins = Corpus.shardAssign(spark, sf, shards = shards)
      .queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.child.output.exists(_.name == "n"), w.toString)
    }
  }

  test("chunk stride: windows tile every doc with the configured overlap") {
    val (chunk, stride) = (32, 24)
    val rows = Corpus.chunkStride(spark, sf, chunk, stride).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val nTok = rows.map(r => r._1 -> r._2).toMap
    val docs = graft.Tables.load(spark, sf, "documents").count()
    assert(rows.map(_._1).distinct.length == docs) // every doc chunked
    rows.groupBy(_._1).foreach { case (id, cs) =>
      val sorted = cs.sortBy(_._3)
      // indices contiguous from 0; spans follow the stride arithmetic
      assert(sorted.map(_._3).sameElements(sorted.indices.map(_.toLong)))
      sorted.foreach { case (_, n, idx, start, end, ct) =>
        assert(start == idx * stride)
        assert(end == math.min(start + chunk, n))
        assert(ct == end - start && ct > 0, s"doc $id idx $idx")
      }
      // the last window reaches the end of the doc; the one before
      // (if any) does not — no redundant trailing windows
      assert(sorted.last._5 == nTok(id))
      if (sorted.length > 1) assert(sorted(sorted.length - 2)._5 < nTok(id))
      // consecutive windows overlap by exactly chunk - stride (when
      // the doc is long enough for a full window)
      sorted.sliding(2).foreach {
        case Array(a, b) if a._5 == a._4 + chunk =>
          assert(a._5 - b._4 == chunk - stride)
        case _ =>
      }
    }
  }

  test("systematic sample: two-phase cumsum equals the single-window form") {
    val step = 100L
    val got = Corpus.systematicSample(spark, sf, step).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // naive reference: one global window over the same hash order
    val docs = graft.Tables.load(spark, sf, "documents")
      .selectExpr("doc_id",
        "cast(size(split(lower(text), ' ')) as long) as n_tokens",
        "cast(conv(substring(md5(text), 1, 8), 16, 10) as bigint) as hkey")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._3, t._1))
    var cum = 0L
    val expect = docs.flatMap { case (id, n, _) =>
      val keep = (cum + n) / step > cum / step
      cum += n
      if (keep) Some(id -> n) else None
    }.toMap
    assert(got.length == expect.size)
    got.foreach { case (id, n) =>
      assert(expect.get(id).contains(n), s"doc $id")
    }
    // size-proportional guarantee: every doc spanning >= step tokens
    // straddles a stride boundary and is always kept
    val kept = got.map(_._1).toSet
    docs.filter(_._2 >= step).foreach { case (id, _, _) =>
      assert(kept.contains(id), s"long doc $id dropped")
    }
    // bit-identical re-run
    assert(Corpus.systematicSample(spark, sf, step).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sameElements(got))
  }

  test("dataset card equals a brute-force census of the corpus") {
    val got = Corpus.datasetCard(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val docs = graft.Tables.load(spark, sf, "documents")
      .select("text", "lang", "source").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val toks = docs.map(_._1.toLowerCase.split(" ", -1).length.toLong)
    val word = "[a-z]+".r
    assert(got("n_docs") == docs.length)
    assert(got("n_tokens") == toks.sum)
    assert(got("n_chars") == docs.map(_._1.length.toLong).sum)
    assert(got("n_langs") == docs.map(_._2).distinct.length)
    assert(got("n_sources") == docs.map(_._3).distinct.length)
    assert(got("n_unique_docs") == docs.map(_._1).distinct.length)
    assert(got("n_exact_dups") == docs.length - docs.map(_._1).distinct.length)
    assert(got("max_tokens") == toks.max && got("min_tokens") == toks.min)
    assert(got("vocab_size") ==
      docs.flatMap(d => word.findAllIn(d._1.toLowerCase)).distinct.length)
    assert(got.size == 10)
  }

  test("vocab coverage matches a brute-force census; coverage is monotone") {
    val topN = 50
    val got = Corpus.vocabCoverage(spark, sf, topN).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val texts = graft.Tables.load(spark, sf, "documents")
      .select("text").collect().map(_.getString(0))
    val counts = scala.collection.mutable.Map.empty[String, Long]
    val word = "[a-z]+".r
    texts.foreach(t => word.findAllIn(t.toLowerCase)
      .foreach(w => counts(w) = counts.getOrElse(w, 0L) + 1L))
    val total = counts.values.sum
    val ranked = counts.toSeq.sortBy { case (t, c) => (-c, t) }.take(topN)
    assert(got.length == ranked.length)
    var cum = 0L
    got.zip(ranked).zipWithIndex.foreach {
      case (((rank, term, cnt, cumCnt, bp), (eTerm, eCnt)), i) =>
        cum += eCnt
        assert(rank == i + 1 && term == eTerm && cnt == eCnt)
        assert(cumCnt == cum && bp == cum * 10000L / total, s"rank $rank")
    }
    // coverage climbs monotonically and never exceeds the whole corpus
    got.sliding(2).foreach {
      case Array(a, b) => assert(a._5 <= b._5 && b._5 <= 10000L)
      case _ =>
    }
  }

  test("mixture sample: feasible-max integer rates at the target proportions") {
    val tp = Map("en" -> 400L, "zh" -> 150L, "es" -> 150L, "de" -> 150L,
      "fr" -> 150L)
    val counts = graft.Tables.load(spark, sf, "documents")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val tTotal = tp.map { case (l, p) => counts(l) * 1000L / p }.min
    val rows = Corpus.mixtureSample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (lang, rs) =>
      val expectRate = math.min(1000L, tp(lang) * tTotal / counts(lang))
      assert(rs.forall(_._4 == expectRate), s"lang $lang")
      assert(rs.forall(_._3 < expectRate), s"lang $lang bucket")
    }
    // the binding language (smallest pool relative to target) is kept
    // at ~1000 permille; every target language appears in the output
    val binding = tp.minBy { case (l, p) => counts(l) * 1000L / p }._1
    assert(rows.filter(_._2 == binding).forall(_._4 >= 990L))
    assert(rows.map(_._2).toSet == tp.keySet)
    // deterministic
    assert(Corpus.mixtureSample(spark, sf).collect().length == rows.length)
  }

  test("token mixture: water-filling replays on the TOKEN census, bucket keep rule holds") {
    val tp = Map("en" -> 400L, "zh" -> 150L, "es" -> 150L, "de" -> 150L,
      "fr" -> 150L)
    // brute-force the per-language token census the rates must derive
    // from (same whitespace tokenizer as the operator)
    val tok = graft.Tables.load(spark, sf, "documents")
      .select(col("lang"),
        size(split(lower(col("text")), " ")).cast("long").as("n"))
      .groupBy("lang").agg(org.apache.spark.sql.functions.sum("n").as("tt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val tTotal = tp.map { case (l, p) => tok(l) * 1000L / p }.min
    val rows = Corpus.tokenMixture(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (lang, rs) =>
      val expectRate = math.min(1000L, tp(lang) * tTotal / tok(lang))
      assert(rs.forall(_._5 == expectRate), s"lang $lang rate")
      assert(rs.forall(_._4 < expectRate), s"lang $lang bucket")
    }
    // the TOKEN-binding language is kept near-whole, all targets appear
    val binding = tp.minBy { case (l, p) => tok(l) * 1000L / p }._1
    assert(rows.filter(_._2 == binding).forall(_._5 >= 990L))
    assert(rows.map(_._2).toSet == tp.keySet)
    // nests with the doc-count mixture's keep policy: same bucket
    // function, so a doc kept by the stricter rate set is kept by the
    // looser one per language (subset discipline under rate ordering)
    val docRates = Corpus.mixtureSample(spark, sf).collect()
      .map(r => r.getString(1) -> r.getLong(3)).toMap
    val tokKept = rows.map(r => (r._1, r._2)).toSet
    Corpus.mixtureSample(spark, sf).collect().foreach { r =>
      val (id, lang, bucket) = (r.getLong(0), r.getString(1), r.getLong(2))
      val tokRate = rows.find(_._2 == lang).map(_._5)
      tokRate.foreach { tr =>
        if (tr >= docRates(lang)) assert(bucket >= tr || tokKept((id, lang)),
          s"doc $id kept at doc-rate ${docRates(lang)} but lost at looser token-rate $tr")
      }
    }
  }

  test("temperature sample: sqrt-share rates, tail kept whole, deterministic") {
    val docs = graft.Tables.load(spark, sf, "documents")
    val counts = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val mx = counts.values.max
    val rows = Corpus.temperatureSample(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // every emitted rate matches the sqrt formula off the real counts
    rows.groupBy(_._2).foreach { case (lang, rs) =>
      val expect = math.min(1000L,
        math.floor(1000.0 * math.sqrt(counts(lang).toDouble) /
          math.sqrt(mx.toDouble)).toLong)
      assert(rs.forall(_._4 == expect), s"lang $lang")
      assert(rs.forall(r => r._3 < expect))
    }
    // the dominant language keeps rate 1000 (kept whole); any lang at
    // under a quarter of the max is downsampled below 510‰
    val maxLang = counts.maxBy(_._2)._1
    assert(rows.filter(_._2 == maxLang).forall(_._4 == 1000L))
    counts.filter(_._2 * 4 < mx).keys.foreach { l =>
      rows.filter(_._2 == l).foreach(r => assert(r._4 <= 510L, s"lang $l"))
    }
    assert(Corpus.temperatureSample(spark, sf).collect().length == rows.length)
  }

  test("ngram novelty: matches a brute-force recomputation over collected shingles") {
    import graft.operators.{Dedup, Text}
    val docs = graft.Tables.load(spark, sf, "documents")
    val maxId = docs.agg(max("doc_id")).head.getLong(0)
    val w = ((maxId + 1) * 0.8).floor.toLong
    // brute-force reference: shingle sets in plain Scala
    val sets = docs.select(col("doc_id"), Text.normalized(col("text")).as("t"))
      .collect().map { r =>
        val ws = r.getString(1).split(" ")
        r.getLong(0) -> ws.sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")).toSet
      }.filter(_._2.nonEmpty).toMap
    val corpus = sets.filter(_._1 < w).values.flatten.toSet
    val got = Dedup.ngramNovelty(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val batchDocs = sets.keys.filter(_ >= w).toSet
    assert(got.map(_._1).toSet == batchDocs)
    got.foreach { case (id, nSh, nNovel, novelty) =>
      val sh = sets(id)
      assert(nSh == sh.size.toLong, s"doc $id")
      assert(nNovel == sh.count(s => !corpus(s)).toLong, s"doc $id")
      assert(novelty == nNovel.toDouble / nSh.toDouble && novelty >= 0.0
        && novelty <= 1.0, s"doc $id")
    }
    // near-dups of corpus docs must score near zero, and the signal
    // must actually separate docs (not a constant column)
    assert(got.exists(_._4 < 0.2) && got.map(_._4).distinct.length > 1)
  }

  test("bloom novelty: never overcounts the exact form, small bounded undercount") {
    import graft.operators.Dedup
    val exact = Dedup.ngramNovelty(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val bloom = Dedup.ngramNoveltyBloom(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(bloom.keySet == exact.keySet && bloom.nonEmpty)
    bloom.foreach { case (id, (nSh, nNovel)) =>
      val (eSh, eNovel) = exact(id)
      assert(nSh == eSh, s"doc $id shingle count")
      // false positives only: bloom can mark a novel shingle seen,
      // never the reverse
      assert(nNovel <= eNovel, s"doc $id overcounted")
    }
    // aggregate undercount bounded by ~fpp of the batch shingle mass
    // (1% nominal; allow 3x slack for sizing off the non-distinct count)
    val totalSh = exact.values.map(_._1).sum.toDouble
    val lost = exact.values.map(_._2).sum - bloom.values.map(_._2).sum
    assert(lost <= math.max(1.0, 0.03 * totalSh), s"undercount $lost of $totalSh")
    // deterministic: the sketch hashing is seeded, not random
    assert(Dedup.ngramNoveltyBloom(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
      == bloom.view.mapValues(_._2).toMap)
    // the single-shard degenerate mode keeps the same algebra (and,
    // unlike the retired monolithic form, still no driver round-trip):
    // a valid never-overcounting sketch over the same key set
    val one = Dedup.ngramNoveltyBloom(spark, sf, shards = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(one.keySet == exact.keySet)
    one.foreach { case (id, n) => assert(n <= exact(id)._2, s"doc $id") }
  }

  test("label centroids: one row per (label, dim), componentwise in range") {
    import graft.operators.Similarity
    val rows = Similarity.labelCentroids(spark, sf).collect()
    val labels = rows.map(_.getLong(0)).distinct
    assert(rows.length == labels.length * 64)
    rows.foreach { r =>
      assert(r.getLong(1) >= 0 && r.getLong(1) < 64 && r.getLong(2) > 0)
      assert(math.abs(r.getDouble(3)) <= 1.5, s"centroid out of range: $r")
    }
    // per-label n_vecs is constant across dims and sums to the table size
    val byLabel = rows.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).distinct)
    assert(byLabel.values.forall(_.size == 1))
    val total = graft.Tables.load(spark, sf, "embeddings").count()
    assert(byLabel.values.map(_.head).sum == total)
  }

  test("profile covers every column in one scan with consistent counts") {
    import graft.operators.Relational
    val prof = Relational.profile(spark, sf)
    val rows = prof.collect()
    val docs = graft.Tables.load(spark, sf, "documents")
    assert(rows.map(_.getString(0)).sorted.toSeq == docs.columns.sorted.toSeq)
    val n = docs.count()
    rows.foreach { r =>
      assert(r.getLong(1) == n && r.getLong(2) >= 0 && r.getLong(3) <= n)
    }
    // single scan: exactly one source relation in the optimized plan
    // (executedPlan under AQE prints current+initial and double-counts)
    val scans = prof.queryExecution.optimizedPlan.collectLeaves().size
    assert(scans == 1, s"expected 1 scan, got $scans")
  }

  test("funnel stages are time-ordered and consistent") {
    import graft.operators.Events
    val rows = Events.funnel(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (tv, tc, tp) = (r.get(1), r.get(2), r.get(3))
      val stage = r.getLong(4)
      assert(stage == Seq(tv, tc, tp).takeWhile(_ != null).length)
      if (tc != null) assert(tv != null &&
        r.getTimestamp(2).after(r.getTimestamp(1)))
      if (tp != null) assert(tc != null &&
        r.getTimestamp(3).after(r.getTimestamp(2)))
    }
  }

  test("retention: offsets non-negative and day-0 covers every user") {
    import graft.operators.Events
    val rows = Events.retention(spark, sf).collect()
    assert(rows.forall(_.getLong(1) >= 0))
    val day0 = rows.filter(_.getLong(1) == 0).map(_.getLong(2)).sum
    val users = Events.load(spark, sf).select("user_id").distinct().count()
    assert(day0 == users, s"day-0 sum $day0 != $users users")
  }

  test("repetition ratio is (0,1] and top_tf <= n_words") {
    val rows = Corpus.repetition(spark, sf).collect()
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(1) && r.getLong(2) <= r.getLong(1))
      val ratio = r.getDouble(4)
      assert(ratio > 0.0 && ratio <= 1.0)
    }
  }

  test("dup ngram coverage re-derives from a brute-force interval union") {
    val rows = Corpus.dupNgramFrac(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    val n = Corpus.DupGramN
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) ->
        "[a-z]+".r.findAllIn(r.getString(1).toLowerCase).toIndexedSeq).toMap
    assert(rows.map(_._1).toSet == docs.keySet)
    rows.foreach { case (id, nTokens, nCovered, dupPm) =>
      val ws = docs(id)
      assert(nTokens == ws.length.toLong, s"doc $id token count")
      // brute force: every n-gram start, census, union of dup intervals
      val grams = (0 to ws.length - n).map(i => i -> ws.slice(i, i + n))
      val dupSet = grams.groupBy(_._2).filter(_._2.size >= 2)
        .values.flatten.map(_._1).toSeq
      val covered = dupSet.flatMap(p => p until p + n).toSet
      assert(nCovered == covered.size.toLong, s"doc $id coverage")
      assert(dupPm == covered.size.toLong * 1000 / math.max(nTokens, 1L),
        s"doc $id per-mille")
    }
    // non-degenerate both ways at sf0.001 (measured: 33 docs carry a
    // duplicated trigram)
    assert(rows.exists(_._3 > 0L), "no doc has a duplicated n-gram")
    assert(rows.exists(_._3 == 0L), "every doc has a duplicated n-gram")
  }

  test("search: scores re-derive from scratch tf/idf and rank correctly") {
    val got = Corpus.search(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    assert(got.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    val terms = Set("spark", "join", "stream", "window")
    val docs = Tables.load(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.split("[^a-z]+").filter(_.nonEmpty)).toMap
    val n = docs.size.toLong
    val df = terms.map(t => t -> docs.values.count(_.contains(t)).toLong).toMap
    got.foreach { case (id, score, hit) =>
      val tfs = docs(id).filter(terms).groupBy(identity).map { case (w, a) =>
        w -> a.length.toLong }
      assert(tfs.size.toLong == hit, s"doc $id")
      val want = tfs.map { case (w, tf) => tf * (n * 10000L / df(w)) }.sum
      assert(want == score, s"doc $id")
    }
  }

  test("bpe merges replay: every recorded pair count re-derives from the raw vocab") {
    val merges = Corpus.bpeMerges(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(merges.nonEmpty)
    assert(merges.map(_._1).sameElements(merges.indices.map(_.toLong))) // dense ranks
    merges.foreach { case (_, l, r, m, _) => assert(m == l + r) }
    // raw vocabulary from scratch
    val wc = Tables.load(spark, sf, "documents").select("text").collect()
      .flatMap(_.getString(0).toLowerCase.split("[^a-z]+").filter(_.nonEmpty))
      .groupBy(identity).map { case (w, a) => w -> a.length.toLong }
    // replay: before merge k is applied, the pair (l,r) must occur with
    // exactly the recorded weighted count; after applying, never again
    var vocab: Map[Vector[String], Long] =
      wc.toSeq.groupBy(_._1.map(_.toString).toVector)
        .map { case (k, vs) => k -> vs.map(_._2).sum }
    def pairCount(l: String, r: String): Long = vocab.toSeq.map { case (syms, c) =>
      syms.sliding(2).count(p => p.length == 2 && p(0) == l && p(1) == r) * c
    }.sum
    merges.foreach { case (rank, l, r, m, c) =>
      assert(pairCount(l, r) == c, s"rank $rank ($l,$r)")
      vocab = vocab.toSeq.map { case (syms, n) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) { out += m; i += 2 }
          else { out += syms(i); i += 1 }
        }
        (out.result(), n)
      }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
      assert(pairCount(l, r) == 0L, s"rank $rank ($l,$r) survives its own merge")
    }
    // greedy optimality: each merge's count is the max over pairs at its step
    // is implied by the replay plus determinism; check monotone availability:
    merges.foreach { case (_, _, _, _, c) => assert(c > 0L) }
  }

  test("bpe trainer vocab bound: defaults invisible at fixture scale, floor/cap cut deterministically") {
    def all(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    // the default bound exists but does not bite the fixtures: merges
    // are bit-identical to a genuinely unbounded run
    val dflt = all(Corpus.bpeMerges(spark, sf))
    val unbounded = all(Corpus.bpeMerges(spark, sf,
      minCount = 1L, maxVocab = Int.MaxValue))
    assert(dflt.sameElements(unbounded))
    // the floor keeps exactly the types at or above it
    val full = Corpus.trainerVocab(spark, sf, 1L, Int.MaxValue)
    val floored = Corpus.trainerVocab(spark, sf, 2L, Int.MaxValue)
    assert(floored.toMap == full.toMap.filter(_._2 >= 2L))
    // (the synthetic fixture pool has no hapax types, so the floor is
    // exercised against a threshold the data does cross)
    val maxC = full.map(_._2).max
    val high = Corpus.trainerVocab(spark, sf, maxC, Int.MaxValue)
    assert(high.nonEmpty && high.length < full.length
      && high.toMap == full.toMap.filter(_._2 >= maxC))
    // the cap is the top-M under the deterministic (count desc, word)
    // total order — same set on every run and partitioning
    val capped = Corpus.trainerVocab(spark, sf, 1L, 100)
    val want = full.sortBy { case (w, c) => (-c, w) }.take(100)
    assert(capped.sameElements(want))
    // a bound that bites still trains deterministically
    val m1 = all(Corpus.bpeMerges(spark, sf, nMerges = 10, maxVocab = 200))
    val m2 = all(Corpus.bpeMerges(spark, sf, nMerges = 10, maxVocab = 200))
    assert(m1.nonEmpty && m1.sameElements(m2))
  }

  test("pmi collocations: sorted by lift, min-count respected, lift re-derivable") {
    val rows = Corpus.pmiTop(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty && rows.length <= 30)
    assert(rows.forall(_._2 >= 5L))
    assert(rows.map(_._3).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    // re-derive the lift of every returned row from scratch counts
    val texts = Tables.load(spark, sf, "documents").select("text").collect()
      .map(_.getString(0).toLowerCase.split("[^a-z]+").filter(_.nonEmpty))
      .filter(_.length >= 2)
    val uni = texts.flatten.groupBy(identity).map { case (w, a) => w -> a.length.toLong }
    val bi = texts.flatMap(ws => ws.sliding(2).map(_.mkString(" ")))
      .groupBy(identity).map { case (b, a) => b -> a.length.toLong }
    val n = texts.map(_.length - 1L).sum
    rows.foreach { case (bigram, cxy, lift) =>
      val Array(w1, w2) = bigram.split(" ")
      assert(bi(bigram) == cxy, bigram)
      assert(n * cxy * 10000L / (uni(w1) * uni(w2)) == lift, bigram)
    }
  }

  test("dsir: target-lang docs score higher, hashed mode bounded + deterministic") {
    import org.apache.spark.sql.functions.col
    val exact = Corpus.dsirWeights(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3))) // id, weight, keep
    val langs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // the importance weights must actually separate the target slice:
    // mean weight of 'en' docs strictly above mean of the rest
    val (en, rest) = exact.partition(r => langs(r._1) == "en")
    val meanEn = en.map(_._2).sum.toDouble / en.length
    val meanRest = rest.map(_._2).sum.toDouble / rest.length
    assert(meanEn > meanRest, s"en mean $meanEn <= rest mean $meanRest")
    // keep = above corpus mean: selects a non-trivial strict subset
    val kept = exact.count(_._3 == 1L)
    assert(kept > 0 && kept < exact.length)
    // hashed fixed-size feature mode (the 100 TB path): same doc set,
    // identical under repartition (content-hash buckets, no RNG)
    val h1 = Corpus.dsirWeights(spark, sf, buckets = Some(1024)).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    val h2 = Corpus.dsirWeights(spark, sf, buckets = Some(1024)).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    assert(h1.sameElements(h2))
    assert(h1.map(_._1).sorted.sameElements(exact.map(_._1).sorted))
  }

  test("heavy hitters: two-pass Misra-Gries equals the direct exact form") {
    val k = 40
    val mg = Corpus.heavyHitters(spark, sf, k).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // direct one-pass definition: count every term, threshold exactly
    val tok = Tables.load(spark, sf, "documents")
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
        .as("w"))
    val counts = tok.groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    val direct = counts.filter { case (_, c) => c * k > total }.toSeq
      .sortBy { case (w, c) => (-c, w) }
    assert(mg.toSeq == direct,
      s"MG reduction diverged: got ${mg.toSeq}, expected $direct")
    assert(mg.nonEmpty, "threshold too high: no heavy hitters to check")
  }

  test("stratified kfold: per-stratum folds balance to within one and re-derive from the hash order") {
    val got = Corpus.stratifiedKfold(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got.map(_._1).toSet == docs.map(_._1).toSet, "not total over docs")
    // reference: per-stratum rank over (md5-hash, doc_id), round-robin
    def h(text: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(text.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      java.lang.Long.parseLong(hex, 16)
    }
    val expect = docs.groupBy(_._2).iterator.flatMap { case (_, ds) =>
      ds.sortBy(d => (h(d._3), d._1)).zipWithIndex.map {
        case ((id, lang, _), i) => id -> (lang, (i % Corpus.KfoldK).toLong) }
    }.toMap
    got.foreach { case (id, lang, fold) =>
      assert((lang, fold) == expect(id), s"doc $id fold drifted") }
    // balance: every (lang, fold) census within 1 of its stratum's n/K
    got.groupBy(_._2).foreach { case (lang, rows) =>
      val byFold = rows.groupBy(_._3).view.mapValues(_.size).toMap
      assert(byFold.keySet == (0L until Corpus.KfoldK.toLong).toSet,
        s"$lang missing folds")
      assert(byFold.values.max - byFold.values.min <= 1,
        s"$lang unbalanced: $byFold")
    }
    // determinism under a re-run
    val again = Corpus.stratifiedKfold(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.sameElements(again))
  }

  test("cms heavy hitters: estimates re-derive from a reference grid and never undercount") {
    val got = Corpus.cmsHeavyHitters(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty && got.length <= Corpus.CmsTopN)
    // reference: rebuild the grid from raw tokens with the same md5
    // row hashes, independently of the DataFrame plan under test
    val tok = Tables.load(spark, sf, "documents")
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
        .as("w")).collect().map(_.getString(0))
    def bucket(w: String, r: Int): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$w#$r".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      (java.lang.Long.parseLong(hex, 16) % Corpus.CmsWidth).toInt
    }
    val grid = Array.fill(Corpus.CmsDepth, Corpus.CmsWidth)(0L)
    tok.foreach { w =>
      (0 until Corpus.CmsDepth).foreach(r => grid(r)(bucket(w, r)) += 1L) }
    val counts = tok.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expectTop = counts.toSeq.sortBy { case (w, c) => (-c, w) }
      .take(Corpus.CmsTopN)
    assert(got.map(t => (t._1, t._2)).toSeq == expectTop, "top-N drifted")
    got.foreach { case (w, nTrue, nEst, flag) =>
      val ref = (0 until Corpus.CmsDepth).map(r => grid(r)(bucket(w, r))).min
      assert(nEst == ref, s"estimate drifted for '$w'")
      assert(nEst >= nTrue, s"CMS undercounted '$w': $nEst < $nTrue")
      assert(flag == 1L, s"ge_flag not set for '$w'")
    }
  }

  test("heavy hitters: merged MG summary is k-bounded and a candidate superset") {
    import spark.implicits._
    val k = 5
    // adversarial layout for the MERGE cap: 40 partitions, each with
    // its own locally-heavy junk terms (distinct per partition — the
    // old per-partition-survivor union would be ~k×partitions rows on
    // the driver), plus two globally heavy terms spread evenly
    val rows = (0 until 40).flatMap { p =>
      val junk = (0 until 8).flatMap(j => Seq.fill(5)(s"junk_${p}_$j"))
      val heavy = Seq.fill(30)("alpha") ++ Seq.fill(25)("beta")
      (junk ++ heavy).map(w => (p, w))
    }
    val tok = spark.createDataset(rows).repartition(40, col("_1"))
      .select(col("_2").as("w")).as[String]
    val (cands, total) = Corpus.mgCandidates(tok, k)
    assert(total == rows.length)
    assert(cands.size <= k, s"candidate set not k-bounded: ${cands.size}")
    // every exact heavy hitter (cnt·k > total) survives the merge tree
    val counts = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val hh = counts.filter { case (_, c) => c * k > total }.keySet
    assert(hh.nonEmpty && hh.subsetOf(cands.toSet),
      s"merge tree dropped heavy hitters: ${hh -- cands.toSet}")
  }

  test("heavy hitters plan: the token stream meets the candidates un-shuffled") {
    // the operator's whole scale claim is that the corpus token stream
    // is scanned twice but NEVER exchanged on term: the candidate
    // check must be a broadcast semi join with no Exchange anywhere on
    // the streamed (token) side below it
    val plan = Corpus.heavyHitters(spark, sf)
      .queryExecution.executedPlan.toString
    val joinIdx = plan.indexOf("BroadcastHashJoin")
    assert(joinIdx >= 0, s"candidate check is not a broadcast join:\n$plan")
    assert(plan.substring(joinIdx).take(200).contains("LeftSemi"),
      s"broadcast join is not a semi join:\n$plan")
    // the streamed branch prints directly under the join, down to its
    // explode Generate; no shuffle may sit between them
    val genIdx = plan.indexOf("Generate explode", joinIdx)
    assert(genIdx > joinIdx, s"no token explode under the join:\n$plan")
    val streamSide = plan.substring(joinIdx, genIdx)
    assert(!streamSide.contains("Exchange hashpartitioning"),
      s"token stream shuffled before the candidate semi join:\n$plan")
    // and the stream side never feeds a sort-merge join anywhere
    assert(!plan.contains("SortMergeJoin"), s"SMJ in MG plan:\n$plan")
  }

  test("bpe encode: from-scratch replay of the merge table reproduces every doc total") {
    val merges = Corpus.bpeMerges(spark, sf).collect()
      .map(r => (r.getString(1), r.getString(2)))
    // independent re-implementation of rank-ordered left-to-right
    // non-overlapping merge application
    def encode(w: String): Long = {
      var syms = w.map(_.toString).toVector
      merges.foreach { case (l, r) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += l + r; i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
      syms.length.toLong
    }
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1))
    val want = docs.map { case (id, ws) =>
      (id, ws.length.toLong, ws.map(encode).sum, ws.map(_.length.toLong).sum)
    }.sortBy(_._1)
    val got = Corpus.bpeEncode(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == want.toSeq)
    // merges must actually compress: strictly fewer tokens than chars
    assert(got.map(_._3).sum < got.map(_._4).sum)
  }

  test("bpe tokenization is lossless: concat(tokens) == word under any merge table") {
    // the round-trip invariant decode relies on — merging adjacent
    // symbols must never alter the concatenation, for the TRAINED
    // table and for adversarial ones (overlapping/self-referential
    // pairs, pairs absent from the word)
    val trained = Corpus.bpeMerges(spark, sf).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val adversarial = Seq(
      Seq(("a", "a"), ("aa", "a"), ("aa", "aa")),
      Seq(("t", "h"), ("th", "e"), ("e", "the")),
      Seq(("z", "q")), Seq.empty[(String, String)])
    val rnd = new scala.util.Random(41)
    val words = Seq("the", "aaaa", "aaaaa", "banana", "thethethe") ++
      (1 to 200).map(_ => (1 to 1 + rnd.nextInt(12))
        .map(_ => ('a' + rnd.nextInt(4)).toChar).mkString)
    for (table <- adversarial :+ trained.toSeq; w <- words) {
      var syms = w.map(_.toString).toVector
      table.foreach { case (l, r) => syms = Corpus.applyMerge(syms, l, r) }
      assert(syms.mkString == w,
        s"lossy tokenization of '$w' under $table: $syms")
      assert(syms.nonEmpty && syms.forall(_.nonEmpty))
    }
  }

  test("bigram surprisal: per-doc shape and a from-scratch re-derivation") {
    val rows = graft.operators.Text.bigramSurprisal(spark, sf).collect()
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // every doc with >= 2 tokens appears, with n_bigrams = n_tokens - 1
    val expected = docs.filter(_._2.length >= 2)
    assert(rows.length == expected.size)
    rows.foreach { r =>
      val (id, n, bits) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(n == expected(id).length - 1, s"doc $id bigram count")
      assert(bits >= n, s"doc $id: every bigram costs >= 1 bit")
    }
    // re-derive one document's total bits from raw corpus counts
    val bigrams = expected.toSeq.flatMap(_._2.sliding(2).map(p => (p(0), p(1))))
    val cnt2 = bigrams.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cnt1 = bigrams.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val probe = rows.head
    val want = expected(probe.getLong(0)).sliding(2).map { p =>
      java.lang.Long.toBinaryString(cnt1(p(0)) / cnt2((p(0), p(1)))).length.toLong
    }.sum
    assert(probe.getLong(2) == want,
      s"doc ${probe.getLong(0)}: total_bits ${probe.getLong(2)} != $want")
  }

  test("skipgrams: symmetric counts that re-derive from a raw sliding window") {
    val rows = Corpus.skipgrams(spark, sf).collect()
    assert(rows.length == 30)
    val counts = rows.map(r =>
      (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // symmetry: whenever both directions chart, counts are equal
    counts.foreach { case ((c, x), n) =>
      counts.get((x, c)).foreach(m => assert(m == n, s"($c,$x)")) }
    // re-derive the top pair's count from the raw corpus
    val docs = Tables.load(spark, sf, "documents")
      .select(expr("regexp_extract_all(lower(text), '[a-z]+', 0)").as("t"))
      .collect().map(_.getSeq[String](0))
    val (top, topN) = ((rows.head.getString(0), rows.head.getString(1)),
      rows.head.getLong(2))
    val want = docs.iterator.map { t =>
      (1 to 2).map { off =>
        // each occurrence is emitted in BOTH directions, so a
        // self-pair (w,w) contributes 2 — count the directions
        t.iterator.sliding(off + 1).withPartial(false).map(s =>
          Seq((s.head, s.last), (s.last, s.head)).count(_ == top)).sum }.sum
    }.sum
    assert(topN == want, s"top pair $top: $topN != $want")
  }

  test("bm25: saturation and length normalization hold; tf·idf rank differs") {
    val rows = Corpus.bm25(spark, sf, k = 15).collect()
    assert(rows.length == 15)
    // scores strictly ordered (desc) with doc_id tiebreak — the frame
    // IS its own ordering contract
    val scores = rows.map(r => (r.getLong(1), r.getLong(0)))
    assert(scores.sameElements(scores.sortBy(s => (-s._1, s._2))))
    // saturation bound: one term contributes < idf_bits·(k1+1)·10⁴
    // basis points, so with 4 query terms over this corpus (idf_bits
    // <= 64) no score can exceed 4·64·22000
    assert(rows.forall(_.getLong(1) <= 4L * 64 * 22000))
    assert(rows.forall(r => r.getLong(2) >= 1 && r.getLong(2) <= 4))
  }

  test("bm25/rrf plans: dictionary sides broadcast, rank windows are depth-bounded") {
    // bm25: the df dictionary (|query terms| rows) and the N/total_len
    // scalar must ride broadcasts — a SortMergeJoin on either would
    // shuffle the postings stream against metadata
    val bm25Plan = Corpus.bm25(spark, sf).queryExecution.executedPlan.toString
    assert(bm25Plan.contains("BroadcastHashJoin") ||
      bm25Plan.contains("BroadcastNestedLoopJoin"), bm25Plan.take(500))
    assert(!bm25Plan.contains("SortMergeJoin"),
      "bm25 shuffles a metadata-sized side")
    // rrf: every unpartitioned rank window must sit ABOVE a limit —
    // the corpus-sized single-partition window must not exist. The
    // executedPlan prints top-down, so each Window line needs a
    // GlobalLimit somewhere below it.
    val rrfPlan = Corpus.rrfFusion(spark, sf).queryExecution.executedPlan.toString
    val lines = rrfPlan.linesIterator.toSeq
    val windowIdxs = lines.zipWithIndex.collect {
      case (l, i) if l.contains("Window") && !l.contains("WindowGroupLimit") => i }
    assert(windowIdxs.nonEmpty, "rrf lost its rank windows")
    windowIdxs.foreach { wi =>
      // the limit compiles to TakeOrderedAndProject (per-partition
      // heaps) or GlobalLimit depending on the shape — either bounds
      // the window's input to `depth` rows
      assert(lines.drop(wi).exists(l => l.contains("TakeOrderedAndProject") ||
        l.contains("GlobalLimit")),
        s"rank window at line $wi has no limit below it:\n$rrfPlan")
    }
  }

  test("rrf: fused score is the exact reciprocal sum of the two leg ranks") {
    val rows = Corpus.rrfFusion(spark, sf).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val (lex, vec, fused) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val want = (if (lex > 0) 1000000000L / (60 + lex) else 0L) +
        (if (vec > 0) 1000000000L / (60 + vec) else 0L)
      assert(fused == want, s"doc ${r.getLong(0)}")
      assert(lex > 0 || vec > 0, "a fused doc must appear in >= 1 leg")
    }
    // a doc ranked well in BOTH legs must out-rank one present in a
    // single leg at comparable depth: rank-1 in one leg alone scores
    // 10⁹/61 < rank-1 in both legs' 2·10⁹/61
    val best = rows.head
    assert(best.getLong(3) >= rows.last.getLong(3))
  }

  test("curate v2: default stage-1 cut is the t-digest sketch, not the " +
      "corpus-sized exact percentile buffer") {
    // the 100 TB claim in Corpus.curateV2's doc: the DEFAULT wiring
    // must contain no exact single-buffer percentile aggregate —
    // approx_percentile's t-digest is mergeable / constant-memory
    val defaultPlan = Corpus.curateV2(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(defaultPlan.contains("approx_percentile"),
      defaultPlan.take(2000))
    assert(!"(?<!approx_)percentile\\(".r.findFirstIn(defaultPlan).isDefined,
      "default curateV2 plan still carries an exact percentile: " +
        defaultPlan.take(2000))
    // oracle mode keeps the exact cut (what the DuckDB replay pins)
    val exactPlan = Corpus.curateV2(spark, sf, exact = true)
      .queryExecution.optimizedPlan.toString
    assert("(?<!approx_)percentile\\(".r.findFirstIn(exactPlan).isDefined,
      exactPlan.take(2000))
    // the two modes differ only in the stage-1 cut scalar — the same
    // sketch-tolerance band the standalone quality-gate spec pins (a
    // handful of boundary docs may flip, never anything far from it)
    val approxIds = Corpus.curateV2(spark, sf)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val exactIds = Corpus.curateV2(spark, sf, exact = true)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(approxIds.nonEmpty)
    val n = graft.Tables.load(spark, sf, "documents").count()
    val symmDiff = (approxIds diff exactIds).size + (exactIds diff approxIds).size
    assert(symmDiff <= math.max(1L, n / 100),
      s"curateV2 modes differ by $symmDiff docs of $n")
  }

  test("curate v2: staged subset discipline and shared-scan plan reuse") {
    val df = Corpus.curateV2(spark, sf, exact = true)
    val out = df.collect()
    assert(out.nonEmpty)
    // the scan-sharing receipt (r16 form): the cut-independent
    // upstream (scored base, tokenized scan, NB model, semantic
    // survivors) is locally CHECKPOINTED once per session and shared
    // by both gate modes, so the final plan reads materialized RDDs
    // and re-scans the documents parquet ZERO times — the strongest
    // form of "one scan serves every stage"
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Scan ExistingRDD"), plan.take(2000))
    assert(!plan.contains("FileScan parquet"),
      "curateV2 re-scans parquet despite the checkpointed upstream:\n" +
        plan.take(2000))
    // stage 2 discipline: every kept doc was routed to the allowlist
    val allow = Corpus.CurateAllowSources.toSet
    out.foreach(r => assert(allow.contains(r.getString(3)),
      s"doc ${r.getLong(0)} pred ${r.getString(3)} outside allowlist"))
    // stage 3 discipline: every kept doc is its semantic cluster's
    // keep=1 survivor under the standalone q_cluster_balance_lsh
    // artifact (shared clusterQualityRank rule — must agree exactly)
    val survivors = graft.operators.Similarity
      .clusterBalancedCurateLsh(spark, sf)
      .filter(col("keep") === 1L)
      .select(col("vec_id"), col("cluster_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      assert(survivors.get(r.getLong(0)).contains(r.getLong(4)),
        s"doc ${r.getLong(0)} not the standalone survivor of cluster ${r.getLong(4)}")
    }
    // stage 1 discipline: every kept doc passed the standalone exact
    // quality gate (same rule, same cut)
    val gated = Corpus.qualityGate(spark, sf, exact = true)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    out.foreach(r => assert(gated.contains(r.getLong(0)),
      s"doc ${r.getLong(0)} not in the standalone quality gate"))
    // stage 4 discipline: per-language kept counts respect the
    // water-filling rate ordering (en is the downsampled majority)
    val byLang = out.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(byLang.keySet.subsetOf(
      Corpus.MixtureTargets.map(_._1).toSet), byLang)
  }

  test("curate v3: staged discipline — gopher battery, LM rank quartile, LSH survivor, mixture") {
    import graft.operators.{Dedup, Text}
    val out = Corpus.curateV3(spark, sf).collect()
    assert(out.nonEmpty)
    val keptIds = out.map(_.getLong(0)).toSet
    // stage 1: every kept doc passed the standalone Gopher battery
    val passers = Text.gopherRules(spark, sf)
      .filter(col("gopher_pass") === 1L)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(keptIds.subsetOf(passers), "kept doc failed the battery")
    // stage 2: carried scores equal the standalone q_backoff_score
    // values, and the rank quartile actually cut (strictly fewer
    // survivors than battery ∩ corpus — the knob is not dead)
    val scores = Text.backoffScore(spark, sf)
      .select(col("doc_id"), col("mean_millibits")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach(r => assert(scores(r.getLong(0)) == r.getLong(2),
      s"doc ${r.getLong(0)} carries a drifted LM score"))
    val s2Kept = {
      val ranked = passers.toSeq.map(id => (scores(id), id)).sorted
      ranked.take(3 * ranked.size / 4).map(_._2).toSet
    }
    assert(s2Kept.size < passers.size, "stage-2 quartile cut nothing")
    assert(keptIds.subsetOf(s2Kept),
      "kept doc outside the brute-force rank quartile")
    // stage 3: no verified LSH pair survives with BOTH endpoints kept
    // (the larger id would have been dropped by the keep-first rule)
    Dedup.minhashLsh(spark, sf).select(col("doc_a"), col("doc_b"))
      .collect().foreach { r =>
        assert(!(keptIds(r.getLong(0)) && keptIds(r.getLong(1))),
          s"near-dup pair (${r.getLong(0)}, ${r.getLong(1)}) fully kept")
      }
    // stage 4: mixture discipline — languages from the target map,
    // and the keep decision replays from the carried rate
    val targets = Corpus.MixtureTargets.map(_._1).toSet
    out.foreach { r =>
      assert(targets.contains(r.getString(1)), r.getString(1))
      assert(r.getLong(3) >= 1L && r.getLong(3) <= 1000L)
    }
  }

  test("curate v3 funnel: stage censuses are monotone and re-derive from the pipeline") {
    import graft.operators.Text
    val rows = Corpus.curateV3Funnel(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(t => (t._1, t._2)).toSeq == Seq(
      0L -> "corpus", 1L -> "gopher_pass", 2L -> "lm_quartile",
      3L -> "neardup_survivor", 4L -> "mixture"))
    // counts never increase down the funnel, drops reconcile exactly
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 <= a._3, s"${b._2} grew")
      assert(b._4 == a._3 - b._3, s"${b._2} drop census tear")
    }
    assert(rows.head._4 == 0L)
    // endpoints re-derive from the standalone rows: corpus size,
    // battery pass count, and the composed pipeline's own output
    assert(rows(0)._3 == graft.Tables.load(spark, sf, "documents").count())
    assert(rows(1)._3 == Text.gopherRules(spark, sf)
      .filter(col("gopher_pass") === 1L).count())
    assert(rows(2)._3 == 3 * rows(1)._3 / 4, "rank quartile count")
    assert(rows(4)._3 == Corpus.curateV3(spark, sf).count())
    // the funnel is non-degenerate on the fixture: the battery and
    // the quartile both actually cut
    assert(rows(1)._3 < rows(0)._3 && rows(2)._3 < rows(1)._3)
  }

  test("curate v3 by source: per-feed censuses sum to the funnel and stay monotone per row") {
    val rows = Corpus.curateV3BySource(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    // per source the stage counts never increase, kept_bp re-derives
    rows.foreach { case (s, n, g, q, d, k, bp) =>
      assert(n >= g && g >= q && q >= d && d >= k, s"$s not monotone")
      assert(bp == k * 10000 / n, s"$s kept_bp tear")
    }
    // column sums equal the corpus-wide funnel censuses exactly
    val funnel = Corpus.curateV3Funnel(spark, sf).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(rows.map(_._2).sum == funnel("corpus"))
    assert(rows.map(_._3).sum == funnel("gopher_pass"))
    assert(rows.map(_._4).sum == funnel("lm_quartile"))
    assert(rows.map(_._5).sum == funnel("neardup_survivor"))
    assert(rows.map(_._6).sum == funnel("mixture"))
  }
}
