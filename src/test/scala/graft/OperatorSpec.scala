package graft

import graft.operators._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariant checks per operator family. (Value-exactness against
  * DuckDB is covered by Verify + the driver's oracle; these cover the
  * semantic shape of each result.)
  */
class OperatorSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf

  test("every SparkEntry query runs and every oracle key has a query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet),
      s"orphan oracle keys: ${SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet}")
    // both views derive from one registry: the same 252 rows, each
    // declared once, in exactly one family
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet,
      s"queries without oracle: ${SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet}")
    assert(SparkEntry.queries.size == 252)
    val declared = SparkEntry.families.flatMap { case (f, rows) => rows.map(_.name -> f) }
    val families = declared.groupBy(_._1).map { case (n, fs) => n -> fs.map(_._2) }
    assert(families.filter(_._2.size != 1).isEmpty,
      s"rows not in exactly one family: ${families.filter(_._2.size != 1)}")
    assert(declared.size == 252 && families.keySet == SparkEntry.queries.keySet)
    assert(SparkEntry.families.map(_._1).distinct.size == SparkEntry.families.size)
    // a second declaration of a name fails construction instead of
    // replacing the first; building the index renders no oracle
    val r = QueryRow("q_x", (s, _) => s.emptyDataFrame)(sys.error("oracle rendered"))
    assert(SparkEntry.index(Seq("a" -> Seq(r))).keySet == Set("q_x"))
    intercept[IllegalArgumentException](SparkEntry.index(Seq("a" -> Seq(r), "b" -> Seq(r))))
    intercept[IllegalArgumentException](SparkEntry.index(Seq("a" -> Seq(r, r))))
    intercept[IllegalArgumentException](SparkEntry.index(Seq("a" -> Seq(r), "a" -> Nil)))
  }

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("agg_pricing groups are complete and counts add up") {
    val df = Relational.aggPricing(spark, sf).collect()
    assert(df.map(_.getLong(df.head.fieldIndex("count_order"))).sum == 6000)
  }

  test("topk is ordered desc and unique") {
    val rows = Relational.topK(spark, sf).collect()
    assert(rows.length == 10)
    val prices = rows.map(_.getDouble(2))
    assert(prices.sameElements(prices.sortBy(-(_: Double))))
    assert(rows.map(_.getLong(0)).distinct.length == 10)
  }

  test("semi/anti joins partition the customer set") {
    val all = Tables.load(spark, sf, "customer").count()
    val withBig = Relational.semiJoin(spark, sf).count()
    val without = Relational.antiJoin(spark, sf).count()
    assert(withBig <= all && without <= all)
    // anti(no orders at all) + customers-with-orders == all
    val withAny = Tables.load(spark, sf, "customer")
      .join(Tables.load(spark, sf, "orders"),
        col("c_custkey") === col("o_custkey"), "left_semi").count()
    assert(withAny + without == all)
  }

  test("pct shares sum to 1 per order") {
    val sums = Relational.pctShare(spark, sf)
      .groupBy(col("l_orderkey")).agg(sum(col("price_share")).as("s"))
      .collect()
    sums.foreach(r => assert(math.abs(r.getDouble(1) - 1.0) < 1e-9,
      s"order ${r.get(0)} sums to ${r.getDouble(1)}"))
  }

  test("dedup exact: canonical id is minimal and groups cover all docs") {
    val rows = Dedup.exact(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val (doc, canon) = (r.getLong(0), r.getLong(1))
      assert(canon <= doc)
      assert(r.getBoolean(3) == (doc != canon))
    }
  }

  test("ngram jaccard pairs are valid and within [0.5, 1]") {
    Dedup.ngramJaccard(spark, sf).collect().foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      val j = r.getDouble(2)
      assert(j >= 0.5 && j <= 1.0)
    }
  }

  test("ngramJaccardFrom df-cap: a seeded boilerplate shingle flood contributes zero pairs") {
    // 40 docs whose only shared content is one boilerplate sentence:
    // without the cap the shingle self-join pairs every doc with every
    // other (the quadratic skew hazard the kernel's doc warns about);
    // with the cap armed the flood shingles (df = 40 > cap) are purged
    // before pairing and the join emits nothing
    val boiler = "subscribe to our newsletter today for updates"
    val docs = spark.range(0, 40)
      .select(col("id").as("doc_id"),
        concat(lit("unique"), col("id"), lit("a word"),
          lit("unique"), col("id"), lit("b tail "), lit(boiler)).as("text"))
    val sh = Dedup.shingled(docs).persist()
    val uncapped = Dedup.ngramJaccardFrom(sh, threshold = 0.0).count()
    assert(uncapped == 40L * 39 / 2,
      s"flood did not pair all docs without the cap: $uncapped")
    val capped = Dedup.ngramJaccardFrom(sh, threshold = 0.0,
      dfCap = Some(10L)).count()
    assert(capped == 0L, s"capped run still emitted $capped pairs")
    // and the cap is inert where df stays under it: the real corpus's
    // pair set is unchanged under a cap its shingles never hit
    val organic = Dedup.shingledCached(spark, sf)
    val plain = Dedup.ngramJaccardFrom(organic, 0.5).collect()
      .map(_.toSeq.toList).toSet
    val underCap = Dedup.ngramJaccardFrom(organic, 0.5,
      dfCap = Some(1000000L)).collect().map(_.toSeq.toList).toSet
    assert(plain.nonEmpty && underCap == plain)
    sh.unpersist()
  }

  test("dup matrix LSH twin equals the exact-kernel matrix and conserves pair mass") {
    val exact = Dedup.dupMatrix(spark, sf).collect()
      .map(_.toSeq.toList).toSeq
    val lsh = Dedup.dupMatrixLsh(spark, sf).collect()
      .map(_.toSeq.toList).toSeq
    assert(exact.nonEmpty && lsh == exact,
      "LSH-fed matrix diverged from the exact-kernel matrix")
    // pair-mass conservation: the matrix cells partition the pair set
    val cellMass = exact.map(_(2).asInstanceOf[Long]).sum
    val pairCount = Dedup.ngramJaccard(spark, sf).count()
    assert(cellMass == pairCount,
      s"matrix mass $cellMass != pair count $pairCount")
  }

  test("minhash-LSH candidates approximate true jaccard pairs") {
    val estPairs = Dedup.minhashLsh(spark, sf, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truePairs = Dedup.ngramJaccard(spark, sf, threshold = 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // high-similarity true pairs should be recalled by LSH
    val recalled = truePairs.intersect(estPairs)
    assert(truePairs.isEmpty || recalled.size.toDouble / truePairs.size >= 0.8,
      s"LSH recall too low: ${recalled.size}/${truePairs.size}")
  }

  test("LSH hot buckets: dedup pre-pass collapses exact-dup mega-buckets; wider band keys bound false collisions") {
    // SCALING.md's collision-skew claim, made concrete: an adversarial
    // corpus where ~10% of docs are byte-identical copies of one text
    // forms a mega-bucket in EVERY band (identical signatures cannot be
    // split by any banding scheme), and the documented mitigations
    // really bound the candidate blow-up.
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val seedText = docs.filter(col("doc_id") === 0L).head().getString(1)
    val nDup = 55
    val dups = spark.range(1, nDup + 1)
      .select((col("id") + 100000L).as("doc_id"), lit(seedText).as("text"))
    val adversarial = docs.union(dups)

    def maxBucket(d: org.apache.spark.sql.DataFrame): Long =
      Dedup.signedBanded(d).groupBy("band", "band_key").count()
        .agg(max("count")).head().getLong(0)

    // the hazard is real: the dup group owns a bucket in every band
    val hot = maxBucket(adversarial)
    assert(hot >= nDup + 1, s"mega-bucket not formed: $hot")

    // mitigation 1 — the pipeline's actual FIRST stage: exact-dedup
    // collapses identical content before LSH ever runs, so the
    // mega-bucket never reaches the pair join (O(group²) → O(1))
    val byFp = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    val survivors = adversarial
      .withColumn("fp", md5(Text.normalized(col("text"))))
      .withColumn("keep", col("doc_id") === min(col("doc_id")).over(byFp))
      .filter(col("keep")).select(col("doc_id"), col("text"))
    val cap = maxBucket(survivors)
    assert(cap <= 8, s"per-bucket candidates unbounded after pre-pass: $cap")

    // recall gate unchanged: over the survivors the banded candidates
    // still contain every exact near-dup pair (the minhashRecall
    // pinning argument, now under adversarial pressure)
    val sh = Dedup.shingled(survivors)
    val exact = Dedup.ngramJaccardFrom(sh, 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshFrom(sh, 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "vacuous: no exact pairs among survivors")
    assert(exact.subsetOf(lsh), s"LSH lost pairs: ${exact.diff(lsh)}")

    // mitigation 2 — the banding dial: WIDER band keys (8 bands × 8
    // rows vs 16 × 4 over the same signatures) can only sharpen
    // buckets, so residual false-collision skew is tunable
    val sig = Dedup.minhashSignature(sh)
    def occupancy(bands: Int, rows: Int): Long =
      sig.select(col("doc_id"), posexplode(graft.functions.ArrayOps
          .band_keys(col("minhash"), bands, rows)).as(Seq("band", "key")))
        .groupBy("band", "key").count()
        .agg(max("count")).head().getLong(0)
    assert(occupancy(8, 8) <= occupancy(16, 4),
      "wider band keys increased max bucket occupancy")
  }

  test("simhash pairs have hamming <= 3") {
    Dedup.simhashPairs(spark, sf).collect().foreach { r =>
      assert(r.getLong(2) <= 3)
    }
  }

  test("simhash banding recall is structurally total (pigeonhole)") {
    // hamming <= 3 over 4 disjoint 16-bit bands forces >= 1 identical
    // band, so the banded candidate set must contain EVERY brute-force
    // pair — completeness, not just the soundness test above
    import graft.operators.Text
    val sigs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), Dedup.simhash(
        array_distinct(split(Text.normalized(col("text")), " "))).as("sig"))
    val brute = sigs.as("a").join(sigs.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("h"))
      .filter(col("h") <= 3)
      .select("doc_a", "doc_b")
    val banded = Dedup.simhashPairs(spark, sf).select("doc_a", "doc_b")
    assert(brute.exceptAll(banded).isEmpty, "banding missed a true pair")
    assert(banded.exceptAll(brute).isEmpty, "banding emitted a false pair")
  }

  test("knn: k neighbors per query, no self, ranks contiguous") {
    val rows = Similarity.knnBruteForce(spark, sf, k = 5).collect()
    val byQuery = rows.groupBy(_.getLong(0))
    byQuery.foreach { case (q, rs) =>
      assert(rs.length == 5)
      assert(rs.forall(_.getLong(1) != q))
      assert(rs.map(_.getLong(2)).sorted.sameElements(1L to 5L))
      val cos = rs.sortBy(_.getLong(2)).map(_.getDouble(3))
      assert(cos.sameElements(cos.sortBy(-(_: Double))))
      cos.foreach(c => assert(c >= -1.0001 && c <= 1.0001))
    }
  }

  test("ann-lsh neighbors are a subset of plausible cosine range") {
    val rows = Similarity.annLsh(spark, sf, k = 3).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) != r.getLong(1))
      assert(r.getDouble(3) >= -1.0001 && r.getDouble(3) <= 1.0001)
    }
  }

  test("langid predictions come from the closed label set") {
    val preds = Text.langId(spark, sf).select(col("lang_pred"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(preds.subsetOf(Set("en", "es", "de", "unknown")))
  }

  test("quality score components are in range") {
    Text.quality(spark, sf).collect().foreach { r =>
      assert(r.getDouble(r.fieldIndex("distinct_ratio")) > 0)
      assert(r.getDouble(r.fieldIndex("distinct_ratio")) <= 1.0)
      assert(r.getDouble(r.fieldIndex("stopword_ratio")) >= 0)
      assert(r.getDouble(r.fieldIndex("stopword_ratio")) <= 1.0)
    }
  }

  test("nb classifier scores every held-out doc once, from the trained class set") {
    val docs = Tables.load(spark, sf, "documents")
    val heldOut = docs.filter(expr(Text.NbHoldoutExpr)).count()
    val trainClasses = docs.filter(expr(Text.NbTrainExpr))
      .select(col("source")).distinct().collect().map(_.getString(0)).toSet
    // the split is block-stratified precisely so the model TRAINS on
    // every class it will be tested on — the failure mode the old
    // doc_id%5 split had (4 of 20 classes never trained, accuracy 0)
    val testClasses = docs.filter(expr(Text.NbHoldoutExpr))
      .select(col("source")).distinct().collect().map(_.getString(0)).toSet
    assert(testClasses.subsetOf(trainClasses),
      s"holdout classes missing from training: ${testClasses -- trainClasses}")
    val out = Text.nbClassify(spark, sf).collect()
    assert(out.length == heldOut)
    assert(out.map(_.getLong(0)).distinct.length == out.length)
    out.foreach { r =>
      assert(trainClasses.contains(r.getString(r.fieldIndex("pred_source"))))
      assert(r.getLong(r.fieldIndex("total_bits")) > 0L)
      val expectCorrect =
        r.getString(r.fieldIndex("pred_source")) ==
          r.getString(r.fieldIndex("true_source"))
      assert(r.getLong(r.fieldIndex("is_correct")) == (if (expectCorrect) 1L else 0L))
    }
  }

  test("nb eval marginals reconcile with the confusion matrix and the scored holdout") {
    val pred = Text.nbClassify(spark, sf).collect()
    val conf = Text.nbConfusion(spark, sf).collect()
    // confusion cells sum to the holdout; diagonal = correct count
    assert(conf.map(_.getLong(2)).sum == pred.length)
    val diag = conf.filter(r => r.getString(0) == r.getString(1))
      .map(_.getLong(2)).sum
    assert(diag == pred.count(_.getLong(4) == 1L))
    val eval = Text.nbEval(spark, sf).collect()
    // per-class marginals: support sums rows, predicted sums columns,
    // tp is the diagonal; the bp metrics replay by integer division
    eval.foreach { r =>
      val cls = r.getString(0)
      val support = conf.filter(_.getString(0) == cls).map(_.getLong(2)).sum
      val predicted = conf.filter(_.getString(1) == cls).map(_.getLong(2)).sum
      val tp = conf.filter(c => c.getString(0) == cls && c.getString(1) == cls)
        .map(_.getLong(2)).sum
      assert(r.getLong(r.fieldIndex("support")) == support)
      assert(r.getLong(r.fieldIndex("predicted")) == predicted)
      assert(r.getLong(r.fieldIndex("tp")) == tp)
      assert(r.getLong(r.fieldIndex("precision_bp")) ==
        (if (predicted > 0) tp * 10000 / predicted else 0L))
      assert(r.getLong(r.fieldIndex("recall_bp")) ==
        (if (support > 0) tp * 10000 / support else 0L))
      assert(r.getLong(r.fieldIndex("f1_bp")) ==
        (if (support + predicted > 0) 2 * tp * 10000 / (support + predicted)
         else 0L))
    }
    // every class seen in the holdout or the predictions appears
    assert(eval.map(_.getString(0)).toSet ==
      (conf.map(_.getString(0)) ++ conf.map(_.getString(1))).toSet)
  }

  test("prototypicality ranks are contiguous per label and follow cosine order") {
    val rows = Similarity.prototypicality(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val c = r.getDouble(r.fieldIndex("proto_cos"))
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9)
    }
    rows.groupBy(_.getLong(1)).foreach { case (_, g) =>
      val byRank = g.sortBy(_.getLong(g.head.fieldIndex("proto_rank")))
      assert(byRank.map(_.getLong(byRank.head.fieldIndex("proto_rank"))).toSeq
        == (1L to g.length).toSeq)
      // descending cosine along the rank order (ties broken by id)
      byRank.map(_.getDouble(byRank.head.fieldIndex("proto_cos")))
        .sliding(2).foreach {
          case Array(a, b) => assert(a >= b)
          case _ => ()
        }
    }
  }

  test("cluster-balanced curation keeps exactly the best-quality doc per cluster") {
    val rows = Similarity.clusterBalancedCurate(spark, sf).collect()
    assert(rows.nonEmpty)
    val idx = rows.head.fieldIndex _
    rows.groupBy(_.getLong(idx("cluster_id"))).foreach { case (_, g) =>
      assert(g.count(_.getLong(idx("keep")) == 1L) == 1)
      val kept = g.find(_.getLong(idx("keep")) == 1L).get
      val best = g.minBy(r =>
        (-r.getDouble(idx("quality_score")), r.getLong(idx("vec_id"))))
      assert(kept.getLong(idx("vec_id")) == best.getLong(idx("vec_id")))
      assert(g.forall(_.getLong(idx("cluster_size")) == g.length))
    }
  }

  test("bpe fertility reconciles with the per-doc encode totals") {
    val perDoc = Corpus.bpeEncode(spark, sf).collect()
    val byLangTokens = Corpus.bpeFertility(spark, sf).collect()
    val idx = byLangTokens.head.fieldIndex _
    assert(byLangTokens.map(_.getLong(idx("n_docs"))).sum == perDoc.length)
    assert(byLangTokens.map(_.getLong(idx("n_bpe_tokens"))).sum ==
      perDoc.map(r => r.getLong(r.fieldIndex("n_bpe_tokens"))).sum)
    byLangTokens.foreach { r =>
      val words = r.getLong(idx("n_words"))
      val toks = r.getLong(idx("n_bpe_tokens"))
      val chars = r.getLong(idx("n_alpha_chars"))
      if (words > 0) {
        // BPE can only merge: tokens per word in [1, chars per word]
        assert(r.getLong(idx("toks_per_word_pm")) >= 1000L)
        assert(toks <= chars)
      }
    }
  }

  test("multimodal decode round-trips real PNG bytes to exact pixel stats") {
    // the payloads really are decodable PNGs (magic + ImageIO), not
    // text standing in for media
    val png = Multimodal.imageized(spark, sf).limit(3).collect()
    png.foreach { r =>
      val bytes = r.getAs[Array[Byte]](1)
      assert((bytes(0) & 0xFF) == 0x89 && bytes(1) == 'P'.toByte)
    }
    val rows = Multimodal.decodeFeatures(spark, sf).collect()
    assert(rows.length == 500 * 16)
    val byDoc = rows.groupBy(_.getLong(0))
    assert(byDoc.size == 500)
    byDoc.foreach { case (docId, rs) =>
      assert(rs.map(_.getLong(3)).sorted.toSeq == (0L until 16L))
      // decoded dims follow the fixture formula; histogram mass is
      // exactly the pixel count (every pixel decoded, none invented)
      val (w, h) = (rs.head.getInt(1), rs.head.getInt(2))
      assert(w == 8 + (docId % 8).toInt && h == 8 + (docId % 5).toInt)
      assert(rs.map(_.getLong(4)).sum == w.toLong * h)
      // spot-check the full histogram against the pixel formula
      val expected = new Array[Long](16)
      for (x <- 0 until w; y <- 0 until h)
        expected(((docId * 31 + x * 7 + y * 13) % 256).toInt / 16) += 1L
      val got = rs.sortBy(_.getLong(3)).map(_.getLong(4)).toSeq
      assert(got == expected.toSeq, s"doc $docId: $got != ${expected.toSeq}")
    }
  }

  test("sessionize: batch session ids are contiguous per user") {
    val rows = Events.sessionize(spark, sf).collect()
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val ids = rs.map(_.getLong(1)).sorted
      assert(ids.head == 1 && ids.last == ids.length)
    }
  }

  test("scd2: versions chain half-open and gap-free, one current row per user") {
    val rows = Events.scd2(spark, sf).collect()
    val total = Events.load(spark, sf).count()
    assert(rows.map(_.getLong(5)).sum == total, "every event in exactly one version")
    rows.groupBy(_.getLong(0)).foreach { case (u, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.head.getLong(1) == 1 &&
        sorted.last.getLong(1) == sorted.length, s"user $u versions contiguous")
      // exactly one open (is_current) row, and it is the last version;
      // its valid_to is NULL (a far-future sentinel would overflow
      // int64-ns timestamp consumers — pandas/Arrow cap at 2262-04-11)
      assert(rs.count(_.getLong(6) == 1) == 1)
      assert(sorted.last.getLong(6) == 1)
      assert(sorted.last.isNullAt(4), s"user $u open row valid_to NULL")
      assert(sorted.init.forall(!_.isNullAt(4)), s"user $u closed rows bounded")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          // half-open chain: this row's valid_to IS the next valid_from
          assert(a.getTimestamp(4) == b.getTimestamp(3), s"user $u gap-free")
          // islands are maximal: consecutive versions changed value
          assert(a.getString(2) != b.getString(2), s"user $u run collapsed")
        case _ =>
      }
    }
  }

  test("trimmed stats: cut is symmetric and both means re-derive from raw cents") {
    val rows = Relational.trimmedStats(spark, sf).collect()
    val raw = Tables.load(spark, sf, "lineitem")
      .select(col("l_returnflag"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("v"))
      .collect().groupBy(_.getString(0))
    rows.foreach { r =>
      val (flag, n, kept) = (r.getString(0), r.getLong(1), r.getLong(2))
      val cut = n * 5 / 100
      assert(kept == n - 2 * cut, s"$flag symmetric cut")
      val sorted = raw(flag).map(_.getLong(1)).sorted
      assert(n == sorted.length)
      val keptVals = sorted.slice(cut.toInt, (n - cut).toInt)
      val tm = keptVals.map(BigInt(_)).sum.toDouble / keptVals.length / 100.0
      val wm = (keptVals.map(BigInt(_)).sum +
        BigInt(cut) * keptVals.head + BigInt(cut) * keptVals.last).toDouble /
        n / 100.0
      assert(r.getDouble(3) == tm, s"$flag trimmed")
      assert(r.getDouble(4) == wm, s"$flag winsorized")
    }
  }

  test("cdf norm: percentile is rank-deterministic under ties and spans to 10000") {
    val rows = Relational.cdfNorm(spark, sf).collect()
    val byFlag = rows.groupBy(_.getString(2))
    byFlag.foreach { case (flag, rs) =>
      assert(rs.map(_.getLong(4)).max == 10000L, s"$flag max row ranks n/n")
      assert(rs.map(_.getLong(4)).min > 0L)
      // tied values share one percentile — pure function of the data
      rs.groupBy(_.getLong(3)).foreach { case (_, same) =>
        assert(same.map(_.getLong(4)).distinct.length == 1, s"$flag ties")
      }
    }
  }

  test("equidepth: bucket sizes differ by at most one and ranges chain sorted") {
    val rows = Relational.equidepth(spark, sf).collect()
    rows.groupBy(_.getString(0)).foreach { case (flag, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length).toSeq)
      val sizes = sorted.map(_.getLong(2))
      assert(sizes.max - sizes.min <= 1, s"$flag equi-depth violated")
      // larger buckets first — the shared NTILE remainder rule
      assert(sizes.sameElements(sizes.sortBy(-_)), s"$flag remainder order")
      // value ranges are non-decreasing across buckets (ties may span)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getLong(4) <= b.getLong(3), s"$flag chain")
        case _ =>
      }
    }
  }

  test("robust outliers: integer med/MAD re-derive and the gate matches mz_bp") {
    val rows = Events.robustOutliers(spark, sf).collect()
    assert(rows.nonEmpty)
    // re-derive med2/mad4 per type from the raw cents, then check
    // every flagged row satisfies the cross-multiplied gate and that
    // its reported score is the exact integer division
    val cents = Events.load(spark, sf)
      .select(col("event_type"),
        expr("cast(cast(value as decimal(18,2)) * 100 as bigint)").as("c"),
        col("event_id"))
      .collect().groupBy(_.getString(0))
    def median2(xs: Seq[Long]): Long = {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) * 2 else s(n / 2 - 1) + s(n / 2)
    }
    val stats = cents.map { case (t, rs) =>
      val cs = rs.map(_.getLong(1)).toSeq
      val med2 = median2(cs)
      val mad4 = median2(cs.map(c => math.abs(2 * c - med2)))
      t -> (med2, mad4)
    }
    val flagged = rows.map(r => r.getLong(0) ->
      (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    cents.foreach { case (t, rs) =>
      val (med2, mad4) = stats(t)
      rs.foreach { r =>
        val adev2 = math.abs(2 * r.getLong(1) - med2)
        val hit = mad4 > 0 && adev2 * 1349 > mad4 * 3500
        assert(flagged.contains(r.getLong(2)) == hit, s"$t ${r.getLong(2)}")
        if (hit)
          assert(flagged(r.getLong(2))._3 == 13490 * adev2 / mad4)
      }
    }
    // the robust gate is not the 3-sigma gate (different flag sets)
    val sigma = Events.outliers(spark, sf).collect().map(_.getLong(0)).toSet
    assert(flagged.keySet != sigma)
  }

  test("resample: hourly grid is dense per user and forward fill never nulls") {
    val rows = Events.resample(spark, sf).collect()
    // n_events sums back to the raw stream — no event lost or doubled
    assert(rows.map(_.getLong(2)).sum == Events.load(spark, sf).count())
    rows.groupBy(_.getLong(0)).foreach { case (u, rs) =>
      val hours = rs.map(_.getTimestamp(1).getTime).sorted
      // dense: consecutive grid rows are exactly one hour apart
      hours.sliding(2).foreach {
        case Array(a, b) => assert(b - a == 3600000L, s"user $u grid gap")
        case _ =>
      }
      // the first grid hour contains an event by construction, so the
      // forward fill is total — no null filled_value anywhere
      assert(rs.forall(!_.isNullAt(3)), s"user $u fill total")
    }
    // at least one empty hour actually got filled (non-vacuous)
    assert(rows.exists(_.getLong(2) == 0L))
  }

  test("ivf ann returns in-cell neighbors with valid cosines") {
    val rows = Similarity.annIvf(spark, sf, k = 3).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) != r.getLong(1))
      assert(r.getDouble(3) >= -1.0001 && r.getDouble(3) <= 1.0001)
    }
  }

  test("filtered ann: every neighbor passes the predicate, ranks are dense, and the filter bites") {
    val rows = Similarity.annIvfFiltered(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    val allowed = Tables.load(spark, sf, "documents")
      .filter(col("lang") === Similarity.FilterLang)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    rows.foreach { case (q, nb, _, cos) =>
      assert(allowed(nb), s"query $q got disallowed neighbor $nb")
      assert(q != nb)
      assert(cos >= -1.0001 && cos <= 1.0001)
    }
    // ranks dense 1..k per query, cosine non-increasing within a query
    rows.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (1L to sorted.length).toSeq, s"query $q ranks")
      assert(sorted.map(_._4).sliding(2).forall(p =>
        p.length < 2 || p(0) >= p(1) - 1e-12), s"query $q order")
    }
    // the predicate actually changes answers: some query's unfiltered
    // top-1 is NOT in the allowed set (so post-filtering replaced it)
    val unfilteredTop = Similarity.annIvf(spark, sf, k = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(unfilteredTop.exists { case (_, nb) => !allowed(nb) },
      "filter never bites — fixture degenerate")
    // queries themselves are NOT restricted: a non-allowed doc still
    // searches the allowed slice
    assert(rows.exists { case (q, _, _, _) => !allowed(q) },
      "no disallowed query produced results")
  }

  test("k-means centroids are deterministic and IVF recall on planted twins is total") {
    val e = Tables.load(spark, sf, "embeddings")
    val c1 = Similarity.kmeansCentroidsQ(e)
    val c2 = Similarity.kmeansCentroidsQ(e.repartition(7))
    // exact-long training: partitioning cannot move a centroid
    assert(c1 == c2)
    assert(c1.size == Similarity.IvfCells)
    assert(c1.forall(_.size == 64))
    assert(c1.distinct.size > 1) // training actually spread the cells
    // every planted twin is recovered through NProbe cell probing
    val n = e.count()
    val recovered = Similarity.ivfPlantedRecall(spark, sf).count()
    assert(recovered == n, s"IVF recall $recovered/$n")
  }

  test("class weights: counts conserve and weights are exact inverse frequencies") {
    val rows = Similarity.classWeights(spark, sf).collect()
    val total = Tables.load(spark, sf, "embeddings").count()
    assert(rows.map(_.getLong(1)).sum == total)
    val k = rows.length.toLong
    rows.foreach { r =>
      assert(r.getLong(2) == total * 10000 / (k * r.getLong(1)), r.toString)
    }
    // rarer class => strictly larger-or-equal weight
    val byN = rows.sortBy(_.getLong(1))
    byN.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(2) >= b.getLong(2))
      case _ =>
    }
  }

  test("label knn: one prediction per vector, majority re-derived from knn rows") {
    val preds = Similarity.labelKnn(spark, sf).collect()
    val n = Tables.load(spark, sf, "embeddings").count()
    assert(preds.length == n, "exactly one prediction per vector")
    // re-derive one vector's majority vote from the knn frame itself
    val labels = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("label").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val knn = Similarity.knnBruteForce(spark, sf).collect()
      .groupBy(_.getLong(0))
    preds.take(20).foreach { p =>
      val votes = knn(p.getLong(0)).map(r => labels(r.getLong(1)))
        .groupBy(identity).view.mapValues(_.size).toSeq
      val want = votes.minBy { case (l, c) => (-c, l) }._1
      assert(p.getLong(2) == want, s"vec ${p.getLong(0)}")
      assert((p.getLong(1) == p.getLong(2)) == (p.getLong(3) == 1L))
    }
    // fixture labels are RANDOM w.r.t. the embeddings (10 classes), so
    // the honest expectation for this eval is CHANCE accuracy ~0.1 —
    // the measurement itself is what's under test. Pin a generous
    // band: far above 0 (the vote machinery produces real predictions)
    // and far below 1 (no label leakage into the neighbor sets).
    val acc = preds.count(_.getLong(3) == 1L).toDouble / preds.length
    assert(acc > 0.02 && acc < 0.5, s"accuracy $acc outside the chance band")
  }

  test("Matryoshka funnel recall is total and truncation commutes with quantization") {
    val e = Tables.load(spark, sf, "embeddings")
    val n = e.count()
    // both funnel stages lose nobody: coarse 16-dim shortlist keeps
    // every twin, full-dim rescore ranks it top-1
    val recovered = Similarity.mrlPlantedRecall(spark, sf).count()
    assert(recovered == n, s"MRL funnel recall $recovered/$n")
    // the zero-cost-truncation claim: slicing the quantized vector IS
    // quantizing the sliced vector (floor(x·2^26) is element-wise)
    import org.apache.spark.sql.functions._
    val both = e.select(
      slice(graft.functions.ArrayOps.quantize_q(col("embedding"), Similarity.Q),
        1, 16).as("slice_of_q"),
      graft.functions.ArrayOps.quantize_q(slice(col("embedding"), 1, 16),
        Similarity.Q).as("q_of_slice"))
    assert(both.filter(col("slice_of_q") =!= col("q_of_slice")).count() == 0)
    // degenerate funnel = exact search: truncDim 64 + shortlist 1 must
    // also recover every twin (the coarse stage alone is then exact)
    assert(Similarity.mrlPlantedRecall(spark, sf, truncDim = 64,
      shortlist = 1).count() == n)
  }

  test("cosine near-dup recall on planted twins is total and the kernel is sound") {
    val e = Tables.load(spark, sf, "embeddings")
    val n = e.count()
    // NON-VACUOUS recall: every planted near-identical twin must come
    // back through the SAME multi-probe bucket kernel q_cosine_near_dup
    // runs (the natural fixtures are empty at 0.95 by construction)
    val recovered = Similarity.cosinePlantedRecall(spark, sf).collect()
    assert(recovered.length == n,
      s"cosine near-dup recall ${recovered.length}/$n")
    recovered.foreach(r => assert(r.getLong(1) == r.getLong(0) + 1000000L))
    // soundness on the production entry: every emitted pair really is
    // above threshold and ordered (empty on natural fixtures is OK —
    // the planted gate above carries the recall statement)
    Similarity.cosineNearDup(spark, sf).collect().foreach { r =>
      assert(r.getLong(0) < r.getLong(1) && r.getDouble(2) >= 0.95)
    }
    // ... and at a threshold the natural fixtures DO reach, the
    // bucketed kernel's pairs are a subset of the exact pair set
    val exact = Similarity.cosinePairsExact(spark, sf, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bucketed = Similarity.cosineNearDup(spark, sf, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed.nonEmpty, "bucketed kernel vacuous at threshold 0.4")
    assert(bucketed.subsetOf(exact), s"${bucketed.diff(exact)} not exact")
  }

  test("PQ: codebooks are partitioning-invariant, codes in range, ADC recall total") {
    val e = Tables.load(spark, sf, "embeddings")
    // exact-long training: partitioning cannot move a codebook entry
    val b1 = Similarity.pqCodebooksQ(e)
    val b2 = Similarity.pqCodebooksQ(e.repartition(7))
    assert(b1 == b2)
    assert(b1.size == Similarity.PqM)
    assert(b1.forall(book => book.size == Similarity.PqK &&
      book.forall(_.size == Similarity.PqSubDim)))
    assert(b1.forall(_.distinct.size > 1)) // each subspace actually spread
    // codes: one per (vector, subspace), all inside [0, K)
    val n = e.count()
    val codes = Similarity.pqCodes(spark, sf).collect()
    assert(codes.length == n * Similarity.PqM)
    codes.foreach { r =>
      assert(r.getLong(2) >= 0 && r.getLong(2) < Similarity.PqK)
    }
    // end-to-end recall: every query's ADC top-1 over the compressed
    // index is its own planted twin — 8-byte codes keep enough
    // geometry to separate cosine 0.999 from cosine <= ~0.51
    val recovered = Similarity.pqPlantedRecall(spark, sf).collect()
    assert(recovered.length == n, s"PQ ADC recall ${recovered.length}/$n")
    recovered.foreach(r => assert(r.getLong(1) == r.getLong(0) + 1000000L))
  }

  test("embedding diagnostics: one row per dimension, live variance, bounded correlation") {
    val e = Tables.load(spark, sf, "embeddings")
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    val n = e.count()
    val rows = Similarity.embedDiagnostics(spark, sf).collect()
    assert(rows.length == dim)
    val idx = rows.head.fieldIndex _
    assert(rows.map(_.getLong(idx("pos"))).toSeq == (0L until dim).toSeq)
    rows.foreach { r =>
      assert(r.getLong(idx("n")) == n)
      assert(r.getLong(idx("var_num")) > 0L) // no dead dims in fixtures
      val c = r.getDouble(idx("top_corr"))
      assert(c >= -1.0 - 1e-9 && c <= 1.0 + 1e-9)
      assert(r.getLong(idx("top_corr_dim")) != r.getLong(idx("pos")))
      assert(r.getLong(idx("top_corr_dim")) >= 0L &&
        r.getLong(idx("top_corr_dim")) < dim)
    }
  }

  test("MMR + delta-IVF degenerate inputs: short corpus stops early, empty table yields empty frame") {
    // fewer survivors than MmrK: the greedy chain must stop at the
    // corpus size (and the oracle's recursive CTE now selects the
    // max-step row, so both sides emit exactly |corpus| steps)
    import spark.implicits._
    val dir = graft.TempDirs.create("degenerate-emb")
    Seq(
      (0L, Array(0.9f, 0.1f, 0.0f, 0.0f), 0),
      (1L, Array(0.1f, 0.9f, 0.0f, 0.0f), 1),
      (2L, Array(0.5f, 0.5f, 0.1f, 0.0f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val short = Similarity.mmrSelect(spark, dir).collect()
    assert(short.length == 3, s"expected 3 picks, got ${short.length}")
    assert(short.map(_.getLong(1)).distinct.length == 3)
    assert(short.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // empty embeddings: deltaIvfAssign has no base slice and no delta
    // — empty frame with the (vec_id, cell) schema, never an NPE on
    // the null max() aggregate
    val empty = graft.TempDirs.create("empty-emb")
    Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$empty/embeddings.parquet")
    val delta = Similarity.deltaIvfAssign(spark, empty)
    assert(delta.columns.toSeq == Seq("vec_id", "cell"))
    assert(delta.count() == 0L)
  }

  test("MMR selection: distinct picks, relevance-first seed, consistent scores") {
    val rows = Similarity.mmrSelect(spark, sf).collect()
    assert(rows.length == Similarity.MmrK)
    val idx = rows.head.fieldIndex _
    assert(rows.map(_.getLong(idx("vec_id"))).distinct.length == rows.length)
    assert(rows.map(_.getLong(idx("step"))).toSeq ==
      (1L to Similarity.MmrK.toLong))
    // step 1 is the pure-relevance argmax: no prior picks, no penalty
    val first = rows.find(_.getLong(idx("step")) == 1L).get
    assert(first.getDouble(idx("max_sim")) == 0.0)
    assert(rows.forall(r => first.getDouble(idx("rel")) >=
      r.getDouble(idx("rel")) - 1e-12))
    rows.foreach { r =>
      val lam = Similarity.MmrLambda
      val expect = lam * r.getDouble(idx("rel")) -
        (1.0 - lam) * r.getDouble(idx("max_sim"))
      assert(r.getDouble(idx("mmr")) == expect)
      assert(r.getDouble(idx("max_sim")) >= -1.0 - 1e-9 &&
        r.getDouble(idx("max_sim")) <= 1.0 + 1e-9)
    }
  }

  test("r11 broadcast kernels are cartesian-free (prototypicality, embed diag, NB scoring)") {
    // each claims "per-key partial agg + broadcast join" as its 100 TB
    // shape: nothing document/vector-sized may meet anything else in a
    // CartesianProduct. (BroadcastNestedLoopJoin appears ONLY as the
    // documented broadcast of one-row aggregates / the ~|classes|-row
    // class list — allowed; an unpinned CartesianProduct is not.)
    Seq(
      Similarity.prototypicality(spark, sf),
      Similarity.embedDiagnostics(spark, sf),
      graft.operators.Text.nbClassify(spark, sf),
      graft.operators.Text.nbEval(spark, sf)
    ).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), plan.take(2000))
    }
  }

  test("PQ sampled trainer: pool samples when it can, falls back when it can't, recall stays total") {
    val e = Tables.load(spark, sf, "embeddings")
    // the 1/8 hash sample of the 500-row fixture clears PqK: the pool
    // must be the strict sample, and it must hold enough seed rows
    val pool = Similarity.pqTrainerPool(e, sampled = true)
    val nPool = pool.count()
    assert(nPool >= Similarity.PqK && nPool < e.count())
    // a corpus whose sample undershoots PqK degrades to full-set
    val tiny = e.limit(30)
    val tinyPool = Similarity.pqTrainerPool(tiny, sampled = true)
    assert(tinyPool.count() == 30)
    // end-to-end: sample-trained codebooks still rank every planted
    // twin first
    val recovered = Similarity.pqSampledPlantedRecall(spark, sf).collect()
    assert(recovered.length == e.count())
    recovered.foreach(r => assert(r.getLong(1) == r.getLong(0) + 1000000L))
  }

  test("pq_adc stays inside whole-stage codegen") {
    // non-foldable input (parquet scan) so the expression really runs
    // in the generated code path, not constant folding
    val df = spark.read.parquet(Tables.path(sf, "lineitem"))
      .select(col("l_orderkey"),
        graft.functions.ArrayOps.pq_adc(
          array_repeat(col("l_orderkey"), 128),
          array_repeat(lit(3L), 8), 16).as("d"))
    df.collect().foreach(r => assert(r.getLong(1) == 8L * r.getLong(0)))
    val plan = df.queryExecution.executedPlan.toString
    // `*(n)` prefixes mark operators inside a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [l_orderkey"), plan.take(500))
    assert(plan.contains("pq_adc"), plan.take(500))
  }

  test("semantic clusters agree with a union-find over the exact cosine pairs") {
    val threshold = 0.35
    val got = Similarity.semanticClusters(spark, sf, threshold).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ids = graft.Tables.load(spark, sf, "embeddings")
      .select("vec_id").collect().map(_.getLong(0))
    assert(got.map(_._1).sorted.sameElements(ids.sorted)) // total labeling
    val pairs = Similarity.cosinePairsExact(spark, sf, threshold).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // reference union-find
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = ids.map(i => i -> find(i)).toMap
    got.foreach { case (id, cid, _) => assert(cid == expect(id), s"vec $id") }
    // cluster_size is the component census
    val sizes = expect.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    got.foreach { case (_, cid, sz) => assert(sz == sizes(cid)) }
  }

  test("cell-fed semantic clustering: candidate set equals exact pairs, plan cross-join-free, twins bit-identical") {
    val threshold = 0.35
    // edge-for-edge candidate completeness — stronger than the closure
    // equality the oracle pin needs (and precision is structural: the
    // exact cosine residual can never admit a sub-threshold pair).
    // Checked at BOTH fixture scales: sf0.01 is what the driver's
    // verify gate hashes, sf0.001 is what the rest of this test uses.
    for (d <- Seq(sf, "/root/testdata/sf0.01")) {
      val e = graft.Tables.load(spark, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val cents = Similarity.centroidsFor(spark, d)
      val cand = Similarity.cellPairs(e, cents, threshold)
      val candSet = cand.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exactSet = Similarity.cosinePairsExact(spark, d, threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert((exactSet -- candSet).isEmpty,
        s"cell probe missed ${(exactSet -- candSet).size} of ${exactSet.size} exact pairs at $d")
      assert((candSet -- exactSet).isEmpty, s"sub-threshold candidate leaked at $d")
      // the candidate kernel must be an equality join, never a cross join
      val plan = cand.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), plan.take(2000))
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    }
    // end-to-end: both twins land on the exact twins' answer
    val clExact = Similarity.semanticClusters(spark, sf, threshold).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val clCell = Similarity.semanticClustersLsh(spark, sf, threshold).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(clCell.sameElements(clExact))
    val sdExact = Similarity.semDedup(spark, sf, threshold).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val sdCell = Similarity.semDedupLsh(spark, sf, threshold).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(sdCell.sameElements(sdExact))
    // quality-rule curation off the same two feeds: one shared
    // clusterBalancedFrom code path, so rank + keep must be
    // bit-identical, and the cell-fed plan must stay cross-join-free.
    val cbLshDf = Similarity.clusterBalancedCurateLsh(spark, sf)
    val cbPlan = cbLshDf.queryExecution.executedPlan.toString
    assert(!cbPlan.contains("CartesianProduct"), cbPlan.take(2000))
    assert(!cbPlan.contains("BroadcastNestedLoopJoin"), cbPlan.take(2000))
    val cbExact = Similarity.clusterBalancedCurate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5)))
    val cbCell = cbLshDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5)))
    assert(cbCell.sameElements(cbExact))
  }

  test("zero-norm embeddings are excluded from similarity kernels, never NaN-ranked") {
    // a zero vector has no direction: its cosine is 0/0 = NaN, and
    // Spark orders NaN ABOVE every double — unguarded, one broken
    // embedding row out-ranks every true neighbor and passes every
    // `cosine >= t` filter. The shared quantized() projection drops
    // zero-norm rows at the source.
    import spark.implicits._
    val vecs = Seq(
      (0L, Array.fill(8)(0.0f)),
      (1L, Array(1.0f, 0f, 0f, 0f, 0f, 0f, 0f, 0f)),
      (2L, Array(1.0f, 0.001f, 0f, 0f, 0f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupPairsLsh(vecs, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)),
      pairs.mkString(","))
    assert(pairs.forall(p => !p._3.isNaN && p._3 >= 0.5))
  }

  test("histogram buckets partition the value range exactly") {
    val k = 20
    val rows = graft.operators.Relational.histogram(spark, sf, k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val vals = graft.Tables.load(spark, sf, "lineitem")
      .selectExpr("cast(cast(l_extendedprice as decimal(18,2)) * 100 as bigint)")
      .collect().map(_.getLong(0))
    val (mn, mx, span) = (vals.min, vals.max, vals.max - vals.min + 1)
    assert(rows.map(_._3).sum == vals.length) // every row in some bucket
    rows.foreach { case (b, lo, n, bp) =>
      assert(b >= 0 && b < k)
      assert(lo == mn + (b * span + k - 1) / k) // exact bound inverse
      assert(n == vals.count(v => (v - mn) * k / span == b))
      assert(bp == n * 10000L / vals.length)
    }
  }

  test("latest-version compaction picks the newest row and keeps the group-limit plan") {
    val df = graft.operators.Events.latestVersion(spark, sf)
    val got = df.collect()
      .map(r => ((r.getLong(0), r.getString(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), "rank-limit pushdown lost")
    val ev = graft.operators.Events.load(spark, sf)
      .select("user_id", "event_type", "event_id", "ts").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getTimestamp(3).getTime * 1000 + r.getTimestamp(3).getNanos / 1000 % 1000))
    val expect = ev.groupBy(e => (e._1, e._2)).map { case (k, es) =>
      k -> ((es.map(e => (e._4, e._3)).max._2, es.length.toLong))
    }
    assert(got.size == expect.size)
    expect.foreach { case (k, v) => assert(got(k) == v, s"key $k") }
  }

  test("skew profile reports exact order statistics of the group sizes") {
    val r = graft.operators.Relational.skewProfile(spark, sf, exact = true)
      .collect()(0)
    val sizes = graft.Tables.load(spark, sf, "lineitem")
      .groupBy("l_orderkey").count().collect()
      .map(x => (x.getLong(1), x.getLong(0))).sorted // (n, key) tie-break
    val nKeys = sizes.length.toLong
    def kth(q: Double): Long = sizes(math.ceil(nKeys * q).toInt - 1)._1
    assert(r.getLong(1) == nKeys)
    assert(r.getLong(2) == sizes.map(_._1).sum)
    assert(r.getLong(3) == sizes.map(_._1).max)
    assert(r.getLong(4) == sizes.map(_._1).max * 10000L / sizes.map(_._1).sum)
    assert(r.getLong(5) == kth(0.5) && r.getLong(6) == kth(0.9) &&
      r.getLong(7) == kth(0.99))
    // approx (default/scale) mode: same plain aggregates, quantiles
    // are actual size values within the exact neighbors' range
    val a = graft.operators.Relational.skewProfile(spark, sf).collect()(0)
    assert((1 to 4).forall(i => a.getLong(i) == r.getLong(i)))
    val all = sizes.map(_._1)
    Seq(5, 6, 7).foreach { i =>
      assert(all.contains(a.getLong(i)), s"col $i not a real size value")
    }
    assert(a.getLong(5) <= a.getLong(6) && a.getLong(6) <= a.getLong(7))
  }

  test("knn kernel pool: any k <= pooled depth is the exact rk-prefix; warm serve bit-identical") {
    graft.CachePool.clear()
    val k5 = Similarity.knnBruteForce(spark, sf, k = 5).collect() // cold build
    val k3 = Similarity.knnBruteForce(spark, sf, k = 3).collect() // warm serve
    assert(k3.map(_.toString).toSeq ==
      k5.filter(_.getLong(2) <= 3L).map(_.toString).toSeq)
    // a warm re-serve of the pooled depth reproduces the cold build
    val k5b = Similarity.knnBruteForce(spark, sf, k = 5).collect()
    assert(k5b.map(_.toString).toSeq == k5.map(_.toString).toSeq)
  }

  test("ivf salted cell join: output independent of the salt count") {
    // r18, guide §2.5: the deterministic index-side salt splits each
    // cell's candidate list S ways and probes explode all S values —
    // every (query, neighbor) candidate meets exactly once for ANY S,
    // so the scored output must be bit-identical between the unsalted
    // plan (S=1) and a salted one (S=5, coprime with nothing relevant)
    def at(s: Int): (Seq[String], Seq[String], Seq[String]) = {
      spark.conf.set("spark.graft.ivf.salts", s.toString)
      try (
        Similarity.annIvf(spark, sf, k = 3).collect().map(_.toString).toSeq,
        Similarity.ivfPqPlantedRecall(spark, sf).collect()
          .map(_.toString).toSeq,
        Similarity.ivfSqPlantedRecall(spark, sf).collect()
          .map(_.toString).toSeq)
      finally spark.conf.unset("spark.graft.ivf.salts")
    }
    assert(at(1) == at(5))
  }

  test("pool parquet write-through (scale-honest materialization) is bit-identical to localCheckpoint") {
    // r18: spark.graft.pool.materialize=parquet is the production
    // shape (consumers survive executor loss — localCheckpoint blocks
    // are non-replicated and lineage-truncated); every pooled frame is
    // exact longs/strings/IEEE754 doubles, so the round trip must be
    // bit-identical to the default path
    graft.CachePool.clear()
    val viaCk = Similarity.knnBruteForce(spark, sf, k = 5).collect()
    val curateCk = SparkEntry.queries("q_curate_v2")(spark, sf).collect()
    graft.CachePool.clear()
    spark.conf.set("spark.graft.pool.materialize", "parquet")
    try {
      val viaPq = Similarity.knnBruteForce(spark, sf, k = 5).collect()
      assert(viaPq.map(_.toString).toSeq == viaCk.map(_.toString).toSeq)
      // the curate upstreams are pooled kernels too
      val curatePq = SparkEntry.queries("q_curate_v2")(spark, sf).collect()
      assert(curateCk.nonEmpty &&
        curatePq.map(_.toString).toSeq == curateCk.map(_.toString).toSeq)
      // warm serves read the scratch parquet — still the exact prefix
      val k3 = Similarity.knnBruteForce(spark, sf, k = 3).collect()
      assert(k3.map(_.toString).toSeq ==
        viaCk.filter(_.getLong(2) <= 3L).map(_.toString).toSeq)
    } finally {
      spark.conf.unset("spark.graft.pool.materialize")
      graft.CachePool.clear()
    }
  }

  test("build log charges a pooled build to its timed region, and later builds untimed") {
    graft.CachePool.clear()
    graft.CachePool.drainBuildLog()
    try {
      graft.CachePool.charging("q_knn@sweep1") {
        Similarity.knnBruteForce(spark, sf, k = 5).count()
      }
      graft.CachePool.clear()
      Similarity.knnBruteForce(spark, sf, k = 5).count() // rebuilt, untimed
      val charges = graft.CachePool.drainBuildLog()
        .filter(_._1.startsWith("knn-brute-top")).map(_._3)
      assert(charges == Seq("q_knn@sweep1", graft.CachePool.Untimed), charges)
    } finally graft.CachePool.clear()
  }

  test("exact kernels fail fast when the broadcast side exceeds the configured bound") {
    val key = "spark.graft.exact.maxBroadcastRows"
    // the knn kernel is session-pooled (r17): the guard runs inside
    // the build closure, so drop any pooled frame first — a warm
    // serve never re-scans and correctly skips the guard
    graft.CachePool.clear()
    spark.conf.set(key, "10") // fixture has 50+ vectors
    try {
      val e1 = intercept[IllegalArgumentException] {
        Similarity.knnBruteForce(spark, sf)
      }
      assert(e1.getMessage.contains("annLsh") &&
        e1.getMessage.contains("maxBroadcastRows"))
      val e2 = intercept[IllegalArgumentException] {
        Similarity.cosinePairsExact(spark, sf)
      }
      assert(e2.getMessage.contains("annIvf"))
    } finally spark.conf.unset(key)
    // back under the default bound the kernel runs
    assert(Similarity.knnBruteForce(spark, sf, k = 1).count() > 0)
  }

  test("IVF centroid memo retrains when the dataset content changes under one path") {
    import spark.implicits._
    val dir = graft.TempDirs.create("graft-ivf")
    def write(seed: Int): Unit = {
      val rnd = new scala.util.Random(seed)
      (0 until 64).map(i =>
          (i.toLong, i % 4, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
        .toDF("vec_id", "label", "embedding")
        .write.mode("overwrite")
        .parquet(graft.Tables.path(dir, "embeddings"))
    }
    write(1)
    val c1 = Similarity.centroidsFor(spark, dir)
    // unchanged content → memo hit (the SAME trained artifact)
    assert(Similarity.centroidsFor(spark, dir) eq c1)
    // rewritten content under the SAME path → version changes → retrain
    write(2)
    val c2 = Similarity.centroidsFor(spark, dir)
    assert(c2 != c1, "stale centroids served after dataset rewrite")
  }

  test("resize pooling conserves mass and halves dimensions") {
    import graft.operators.Multimodal
    val pooled = Multimodal.resizePool(spark, sf)
    // 4 pools per doc, total count per doc == decoded pixel count
    val perDoc = pooled.groupBy("doc_id")
      .agg(count(lit(1)).as("n_pools"), sum("n_pooled").as("total"))
    val dims = Multimodal.decodeFeatures(spark, sf)
      .select(col("doc_id"), col("width"), col("height")).distinct()
    val joined = perDoc.join(dims, "doc_id")
    assert(joined.filter(col("n_pools") =!= 4).count() == 0)
    assert(joined.filter(
      col("total") =!= col("width").cast("long") * col("height")).count() == 0)
    // dims are the decode dims halved (floor — odd widths exist now)
    val bad = pooled
      .join(dims, "doc_id")
      .filter(col("out_width") =!= floor(col("width") / 2).cast("int") ||
        col("out_height") =!= floor(col("height") / 2).cast("int"))
    assert(bad.count() == 0)
  }

  test("histogram plan: two scans, broadcast extremes, partial-agg groupBy") {
    val df = Relational.histogram(spark, sf)
    df.collect()
    // one extremes scan + one bucket-count scan — nothing else
    assert(df.queryExecution.optimizedPlan.collectLeaves().size == 2)
    val plan = df.queryExecution.executedPlan.toString
    // the 1-row extremes frame rides a broadcast, never a shuffle join
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"), plan.take(2000))
    // the bucket groupBy combines map-side before its one shuffle —
    // the property that keeps the reducer input at O(buckets), not
    // O(rows), at any scale
    assert(plan.contains("partial_count"), plan.take(2000))
  }

  test("skew profile plan (approx default): t-digest partials, no ranked window") {
    val df = Relational.skewProfile(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the quantiles come from approx_percentile partial aggregation
    // (constant memory) — NOT the exact mode's row_number window,
    // whose global sort is the thing that cannot scale past the
    // key-cardinality table
    assert(plan.contains("approx_percentile"), plan.take(2000))
    assert(!plan.contains("Window"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"), plan.take(2000))
    // exact mode keeps a ranked window — it IS the oracle path — but
    // since r12 the key-cardinality side ranks inside BUCKET
    // partitions (two-phase rank: per-bucket row_number + exclusive
    // bucket-count offsets); only the ~32-row totals frame sees a
    // global window, so no full-cardinality single-partition sort
    // survives anywhere
    val exact = Relational.skewProfile(spark, sf, exact = true)
    exact.collect()
    val eplan = exact.queryExecution.executedPlan.toString
    assert(eplan.contains("Window"))
    assert(eplan.contains("windowspecdefinition(bucket"), eplan.take(3000))
  }

  test("bucketed fact-fact join runs without a shuffle exchange") {
    // the 100 TB co-location story made concrete: both facts bucketed
    // and sorted on the join key → SortMergeJoin with NO Exchange on
    // either side (and no per-task sort — bucket files are pre-sorted)
    spark.sql("CREATE DATABASE IF NOT EXISTS bucketdemo")
    Tables.load(spark, sf, "orders")
      .write.mode("overwrite").bucketBy(4, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("bucketdemo.orders_b")
    Tables.load(spark, sf, "lineitem")
      .write.mode("overwrite").bucketBy(4, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("bucketdemo.lineitem_b")
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("bucketdemo.lineitem_b")
        .join(spark.table("bucketdemo.orders_b"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
      assert(j.collect().map(_.getLong(1)).sum == 6000L)
      // the downstream groupBy on o_orderstatus still shuffles (different
      // key — expected); the property under test is that NEITHER join
      // side exchanges on the join key
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey") &&
        !plan.contains("Exchange hashpartitioning(o_orderkey"),
        s"bucketed join still shuffles on the join key:\n$plan")
      assert(plan.contains("Bucketed: true"), plan)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("AQE splits the skewed partition the salted join handles manually") {
    // several operators' scale notes defer hot keys to "AQE skew-join"
    // — this pins that the deferral is real: a 90%-one-key join under
    // lowered skew thresholds runs as SortMergeJoin(skew=true) and
    // returns exact results. (Defaults would need GB-scale partitions
    // to trigger; the thresholds are what scale down, not the plan.)
    import spark.implicits._
    val restore = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val left = spark.range(200000)
        .select(when(col("id") % 10 =!= 0, lit(1L)).otherwise(col("id"))
          .as("k"), col("id").as("v"))
      val right = spark.range(1000).select(col("id").as("k"),
        (col("id") * 2).as("w"))
      val joined = left.join(right, "k").agg(
        count(lit(1)).as("n"), sum(col("v") + col("w")).as("s"))
      val row = joined.collect().head
      // exact answer despite the split: 180k rows land on k=1 (+ the
      // 20k distinct-key rows that fall inside right's [0,1000) range)
      val expect = (0L until 200000L).map(i => if (i % 10 != 0) 1L else i)
        .filter(_ < 1000)
      assert(row.getLong(0) == expect.size)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n${plan.take(3000)}")
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("salted join equals the unsalted aggregation") {
    val salted = Relational.saltedRevenuePerOrder(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val plain = {
      import org.apache.spark.sql.types.DecimalType
      val li = Tables.load(spark, sf, "lineitem")
      val o = Tables.load(spark, sf, "orders")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)))
          .cast("double").as("revenue"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    }
    assert(salted == plain)
  }

  test("span dedup: kept spans are globally unique and cover every distinct span") {
    val span = 10
    val out = Dedup.spanDedup(spark, sf, span).collect()
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.map(_.getLong(0)).toSet == docs.keySet) // total over docs
    // per doc: kept + dropped == its chunk count
    out.foreach { r =>
      val n = docs(r.getLong(0)).split(" ").length
      val chunks = (n + span - 1) / span
      assert(r.getLong(2) + r.getLong(3) == chunks, s"doc ${r.getLong(0)}")
    }
    // global: one survivor per distinct span content, and the doc with
    // no dropped spans round-trips its text unchanged
    val allChunks = docs.toSeq.flatMap { case (_, t) =>
      t.split(" ").grouped(span).map(_.mkString(" ")) }
    assert(out.map(_.getLong(2)).sum == allChunks.distinct.size)
    out.filter(_.getLong(3) == 0).take(5).foreach { r =>
      assert(r.getString(1) == docs(r.getLong(0)))
    }
    // and the de-duplicated corpus has no repeated span at all
    val keptChunks = out.flatMap(r =>
      r.getString(1).split(" ").grouped(span).map(_.mkString(" ")))
        .filter(_.nonEmpty)
    assert(keptChunks.distinct.length == keptChunks.length)
  }

  test("boilerplate: chunks at the C4 doc-frequency floor vanish everywhere, repeats below it survive") {
    val span = 10
    val out = Dedup.boilerplate(spark, sf, span).collect()
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.map(_.getLong(0)).toSet == docs.keySet) // total over docs
    // reference doc frequency per chunk content
    val dfOf = docs.toSeq
      .flatMap { case (id, t) =>
        t.split(" ").grouped(span).map(id -> _.mkString(" ")) }
      .distinct.groupBy(_._2).view.mapValues(_.size).toMap
    val boiler = dfOf.filter(_._2 >= Dedup.BoilerDocFreq).keySet
    assert(boiler.nonEmpty, "fixture has no chunk at the doc-freq floor")
    out.foreach { r =>
      val id = r.getLong(0)
      val chunks = docs(id).split(" ").grouped(span).map(_.mkString(" ")).toSeq
      // kept + dropped == chunk count; dropped == exactly the boiler hits
      assert(r.getLong(2) + r.getLong(3) == chunks.size, s"doc $id total")
      assert(r.getLong(3) == chunks.count(boiler), s"doc $id dropped")
      // reassembly preserves order of the survivors
      assert(r.getString(1) == chunks.filterNot(boiler).mkString(" "),
        s"doc $id text")
    }
    // the two rules differ where they should: a doc-freq-2 chunk is
    // untouched here but loses its second copy under spanDedup
    val df2 = dfOf.filter(_._2 == 2).keySet
    assert(df2.nonEmpty, "fixture has no doc-freq-2 chunk")
    val keptAll = out.flatMap(r =>
      r.getString(1).split(" ").grouped(span).map(_.mkString(" ")))
      .filter(_.nonEmpty)
    df2.foreach { c => assert(keptAll.count(_ == c) == 2, s"df-2 chunk lost: $c") }
    boiler.foreach { c => assert(!keptAll.contains(c), s"boiler chunk kept: $c") }
    // scale receipt: the df census and its join back exchange the
    // 64-bit chunk fingerprint, never the raw span-word string — only
    // the per-doc reassembly regroup may shuffle text
    val planLines = Dedup.boilerplate(spark, sf, span)
      .queryExecution.executedPlan.toString.linesIterator.toSeq
    val hashExchanges = planLines.filter(l =>
      l.contains("Exchange hashpartitioning"))
    assert(hashExchanges.exists(_.contains("chunk_h")),
      "census exchange is not fingerprint-keyed:\n" +
        hashExchanges.mkString("\n"))
    assert(!hashExchanges.exists(l =>
      l.contains("chunk#") && !l.contains("chunk_h")),
      "an exchange still partitions on raw chunk text:\n" +
        hashExchanges.mkString("\n"))
  }

  test("dedup sweep: monotone in the threshold and consistent with the thresholded kernel") {
    import graft.operators.Dedup
    val rows = Dedup.dedupThresholdSweep(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == Dedup.SweepThresholdsBp)
    // raising the threshold can only shrink every census
    rows.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo._2 >= hi._2 && lo._3 >= hi._3 && lo._4 >= hi._4,
          s"census grew from ${lo._1} to ${hi._1}")
      case _ =>
    }
    // internal consistency: pairs touch >= docs/2, drops < docs
    rows.filter(_._2 > 0).foreach { case (t, p, d, dr) =>
      assert(d >= 2 && d <= 2 * p, s"threshold $t docs $d pairs $p")
      assert(dr >= 1 && dr < d, s"threshold $t drops $dr docs $d")
    }
    // cross-check one point against the thresholded kernel: the 5000bp
    // pair count equals q_ngram_jaccard's 0.5 output (same kernel,
    // integer-bp vs IEEE threshold agree away from exact boundaries —
    // 10000·j == bp exactly when j clears 0.5, both count the same set
    // on this fixture where no pair sits at exactly 0.5)
    val atHalf = rows.find(_._1 == 5000L).map(_._2).get
    assert(atHalf == Dedup.ngramJaccard(spark, sf).count(),
      "sweep disagrees with the thresholded kernel at 0.5")
    // the curve bends somewhere (fixture non-degenerate)
    assert(rows.map(_._2).distinct.length > 1, rows.mkString(","))
  }

  test("dedup sweep lsh: the LSH-fed curve equals the exact sweep on the banding-regime thresholds") {
    import graft.operators.Dedup
    val exact = Dedup.dedupThresholdSweep(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .filter(t => Dedup.SweepLshThresholdsBp.contains(t._1)).toSeq
    val lsh = Dedup.dedupThresholdSweepLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(lsh.map(_._1) == Dedup.SweepLshThresholdsBp)
    assert(lsh == exact,
      s"LSH-fed sweep diverged from the exact curve:\n lsh=$lsh\n exact=$exact")
    // and the studied thresholds are exactly the >= 0.5 subset — the
    // banding-recall contract the oracle interpolates
    assert(Dedup.SweepLshThresholdsBp ==
      Dedup.SweepThresholdsBp.filter(_ >= 5000L))
  }

  test("quality sweep: monotone in the threshold, censuses reconcile with the scored corpus") {
    import graft.operators.{Corpus, Text}
    val rows = Corpus.qualityThresholdSweep(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(rows.map(_._1).toSeq == Corpus.QualitySweepThresholdsPm)
    val total = Tables.load(spark, sf, "documents").count()
    rows.foreach { case (t, kept, dropped, _, docsBp, _) =>
      assert(kept + dropped == total, s"threshold $t census tear")
      assert(docsBp == kept * 10000 / total)
    }
    // raising the cut can only shrink what survives
    rows.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo._2 >= hi._2 && lo._4 >= hi._4,
          s"kept mass grew from ${lo._1} to ${hi._1}")
      case _ =>
    }
    // the curve bends and one point re-derives against the raw scores
    assert(rows.map(_._2).distinct.length > 1, rows.mkString(","))
    val direct = Text.quality(spark, sf)
      .filter(col("quality_score") >= lit(260L).cast("double") / lit(1000.0))
      .count()
    assert(rows.find(_._1 == 260L).get._2 == direct,
      "sweep disagrees with a direct threshold count")
  }

  test("bpe curve: token mass shrinks as merges accumulate and the end point IS the trained encode") {
    import graft.operators.Corpus
    val rows = Corpus.bpeCurve(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.map(_._1).toSeq == Corpus.BpeCurvePoints.map(_.toLong))
    // word occurrences and char mass are merge-count-independent
    assert(rows.map(_._2).distinct.length == 1, "word census drifted")
    assert(rows.map(_._4).distinct.length == 1, "char census drifted")
    // each extra merge block can only shrink the token mass
    rows.sliding(2).foreach {
      case Array(lo, hi) => assert(lo._3 >= hi._3,
        s"token mass grew from ${lo._1} to ${hi._1} merges")
      case _ =>
    }
    assert(rows.head._3 > rows.last._3, "curve did not bend on the fixture")
    // the final point collapses to the full trained encode
    val enc = Corpus.bpeEncode(spark, sf)
      .agg(sum(col("n_bpe_tokens")), sum(col("n_words"))).head()
    assert(rows.last._3 == enc.getLong(0) && rows.last._2 == enc.getLong(1),
      "curve end point diverged from q_bpe_encode")
  }

  test("gopher by source: fail censuses re-derive from the per-doc battery and reconcile with the verdict") {
    import graft.operators.Text
    val perDoc = Text.gopherRules(spark, sf)
      .join(Tables.load(spark, sf, "documents")
        .select(col("doc_id"), col("source")), "doc_id")
      .collect()
    val rows = Text.gopherBySource(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    val bySrc = perDoc.groupBy(_.getAs[String]("source"))
    assert(rows.keySet == bySrc.keySet)
    bySrc.foreach { case (src, ds) =>
      val r = rows(src)
      assert(r.getLong(1) == ds.length, s"$src n_docs")
      assert(r.getLong(2) == ds.map(_.getAs[Long]("gopher_pass")).sum,
        s"$src n_pass")
      assert(r.getLong(3) == r.getLong(2) * 10000 / r.getLong(1))
      // a doc passes iff it fails NO rule: the verdict must reconcile
      // with the per-rule censuses doc-by-doc, which the brute recount
      // of one rule pins (words band)
      val failWords = ds.count { d =>
        val n = d.getAs[Long]("n_words")
        !(n >= Text.GopherMinWords && n <= Text.GopherMaxWords)
      }
      assert(r.getLong(4) == failWords, s"$src fail_words")
    }
    // the triage is informative on the fixture: pass rates differ
    // across sources or some rule actually fails somewhere
    assert(rows.values.map(_.getLong(3)).toSet.size > 1 ||
      rows.values.exists(r => (4 to 10).exists(i => r.getLong(i) > 0)))
  }

  test("backoff score: train docs never back off, held-out docs do, censuses reconcile") {
    import graft.operators.{Corpus, Text}
    val rows = Text.backoffScore(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val split = Corpus.splitAssignDf(docs)
      .select(col("doc_id"), col("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length == docs.count())
    rows.foreach { case (id, n, tri, bi, un, bits) =>
      assert(tri + bi + un == n, s"doc $id level census tear")
      assert(n == 0 || bits >= n, s"doc $id: every trigram costs >= 1 bit")
      // a train doc's trigrams all trained the model — backoff there
      // would mean the model and the scorer disagree about the split
      if (split(id) == "train")
        assert(bi == 0 && un == 0, s"train doc $id backed off")
    }
    // the fixture is non-degenerate: some held-out doc genuinely
    // backs off (otherwise the operator is the trigram surprisal)
    assert(rows.exists(r => r._4 + r._5 > 0), "no backoff ever fired")
    // and scoring covers the whole corpus: non-train docs scored too
    assert(rows.exists(r => split(r._1) != "train" && r._2 > 0))
  }

  test("ivf probe sweep: recall and cost both rise with depth, deepest point re-derives from the candidate census") {
    import graft.operators.Similarity
    val rows = Similarity.ivfProbeSweep(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == Similarity.ProbeSweepPoints)
    // deeper probing can only add candidates and hits (prefix-closure
    // of the cell ranking), and recall_bp is the integer ratio
    rows.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo._2 <= hi._2 && lo._3 <= hi._3,
          s"census shrank from nprobe ${lo._1} to ${hi._1}")
      case _ =>
    }
    val nTrue = Similarity.knnBruteForce(spark, sf,
      Similarity.SweepTrueK).count()
    rows.foreach { case (p, _, hits, bp) =>
      assert(hits <= nTrue && bp == hits * 10000 / nTrue,
        s"nprobe $p recall arithmetic tear")
    }
    // the curve bends on the fixture: shallow probing misses truth
    // that deeper probing recovers (otherwise the knob is dead)
    assert(rows.head._3 < rows.last._3, rows.mkString(","))
  }

  test("r15 curve/triage plan hygiene: no cartesian product, nested loops only as broadcast single-row totals") {
    import graft.operators.{Corpus, Dedup, Similarity, Text}
    val frames = Map(
      "quality_sweep" -> Corpus.qualityThresholdSweep(spark, sf),
      "bpe_curve" -> Corpus.bpeCurve(spark, sf),
      "dedup_sweep_lsh" -> Dedup.dedupThresholdSweepLsh(spark, sf),
      "dup_methods" -> Dedup.dupMethodAgreement(spark, sf),
      "dup_methods_lsh" -> Dedup.dupMethodAgreementLsh(spark, sf),
      "ivf_sweep" -> Similarity.ivfProbeSweep(spark, sf),
      "backoff_score" -> Text.backoffScore(spark, sf),
      "curate_v3" -> Corpus.curateV3(spark, sf),
      "curate_v3_sweep" -> Corpus.curateV3Sweep(spark, sf),
      "temperature_sweep" -> Corpus.temperatureSweep(spark, sf))
    frames.foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plan degenerated to a cartesian product:\n" + plan.take(1500))
      // BNLJ is tolerated ONLY as the broadcast of a single-row total
      // (the house crossJoin(broadcast(agg)) pattern); more than the
      // expected count means a real join lost its equality keys
      val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
      // ivf_sweep's 3: the guarded brute-force truth kernel (a
      // deliberate broadcast-NL all-pairs scan) is POOLED so it
      // executes once, but the cached subtree PRINTS under each of
      // its two InMemoryTableScan references, + the single-row
      // totals broadcast
      // curate_v3's 1: the mixture's broadcast single-row t_total
      // (the rank stage's extremes are a bounded head(), not a join)
      // curate_v3_sweep's 2: the |cuts|-row knob table broadcast into
      // both fan-outs. temperature_sweep's 4: the (1-row max ×
      // |alphas|-row) rate subtree is REFERENCED twice (kept census +
      // final left join) and the unpinned aggregated subtree prints
      // under each reference — all four are bounded literal/aggregate
      // frames, never a corpus side
      val allowed = Map("quality_sweep" -> 1, "ivf_sweep" -> 3,
        "backoff_score" -> 1, "curate_v3" -> 1, "curate_v3_sweep" -> 2,
        "temperature_sweep" -> 4).getOrElse(name, 0)
      if (name == "ivf_sweep")
        assert(plan.contains("InMemoryTableScan"),
          "ivf_sweep's truth kernel lost its cache pin — the " +
            "brute-force scan would run twice")
      assert(bnlj <= allowed,
        s"$name carries $bnlj nested-loop joins (allowed $allowed):\n" +
          plan.take(1500))
    }
  }

  test("r17 no-corpus-broadcast audit: no BROADCAST hint builds on an unaggregated corpus-scale scan") {
    // The mechanical form of the r16 verdict's two findings (forced
    // broadcast(customer) in joinRevenueByRegion, corpus-cardinality
    // broadcasts in dupMatrixFrom): walk EVERY registered query's
    // optimized plan and fail if a join carries a BROADCAST hint
    // whose hinted side scans an SF-SCALING table with no Aggregate/
    // Limit bounding it — the shape that OOMs the driver at the
    // 100 TB posture where AQE would have picked a shuffle join.
    // Stats-chosen broadcasts (no hint) are exactly what we want at
    // fixture scale and are NOT flagged.
    // Scope: hinted EQUI-joins only. The guarded brute-force kernels
    // (knn_brute, cosine_pairs, the MRL/PQ/SQ truth legs) are
    // `crossJoin(broadcast(…))` — no equality key exists, so the only
    // alternative to broadcast is a CartesianProduct (which the r15
    // hygiene test forbids), and `guardExactKernel` bounds them to
    // verification scale by construction. Where an equality key
    // EXISTS, a shuffle join is always available and a forced
    // broadcast of a corpus-scale side is pure downside.
    import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe,
      EqualTo, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST,
      GlobalLimit, HintInfo, Join, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    val corpusTables = Seq("documents", "lineitem", "orders", "events",
      "embeddings", "customer", "part", "supplier")
    // q_dpp_join's dim side derives from the fact's PARTITION VALUES
    // (≤ date-cardinality rows after the 7-day filter) and the
    // broadcast IS the dynamic-pruning mechanism — bounded by
    // construction, invisible to the aggregate-based detector below
    val allowed = Set("q_dpp_join")
    def corpusLeaf(p: LogicalPlan): Boolean = p.collectLeaves().exists {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.exists { rp =>
          val s = rp.toString
          corpusTables.exists(t =>
            s.contains(s"/$t.parquet") || s.endsWith(s"/$t"))
        }
        case _ => false
      }
      case _ => false
    }
    def bounded(p: LogicalPlan): Boolean = p.exists {
      case _: Aggregate => true
      case _: GlobalLimit => true
      case _ => false
    }
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    // q_stream_* rows RUN their pipeline at construction and return a
    // parquet read of the output — nothing hintable survives in the
    // returned frame, so auditing them is vacuous cost
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if !name.startsWith("q_stream_") && !allowed(name)) {
      val df = fn(spark, sf)
      // a join is shuffle-able only when a TOP-LEVEL conjunct is an
      // equality (the join key); a nested EqualTo inside e.g.
      // Not(EqualTo(query, neighbor)) — the brute-force kernels'
      // self-pair filter — is not a key
      def conjuncts(e: Expression): Seq[Expression] = e match {
        case And(l, r) => conjuncts(l) ++ conjuncts(r)
        case other => Seq(other)
      }
      df.queryExecution.optimizedPlan.foreach {
        case j: Join if j.condition.exists(c => conjuncts(c).exists {
              case _: EqualTo => true
              case _: EqualNullSafe => true
              case _ => false
            }) =>
          def check(side: Option[HintInfo], plan: LogicalPlan): Unit =
            if (side.exists(_.strategy.contains(BROADCAST)) &&
                corpusLeaf(plan) && !bounded(plan))
              offenders += s"$name (${plan.nodeName} side)"
          check(j.hint.leftHint, j.left)
          check(j.hint.rightHint, j.right)
        case _ => ()
      }
    }
    assert(offenders.isEmpty,
      s"corpus-scale broadcast hints (driver OOM at 100 TB): " +
        offenders.distinct.mkString(", "))
  }

  test("fixture invariant: no exact near-dup pair sits in the LSH banding-risk band") {
    // q_dup_methods_lsh, q_dup_matrix_lsh, and q_curate_v3's stage 3
    // pin LSH-fed candidate sets against EXACT-Jaccard oracles. That
    // is sound only while every true pair at j >= 0.5 sits at
    // j >= 0.88, where the 16x4 banding miss probability is <= 2e-7
    // (the q_minhash_lsh argument). A fixture regen that plants
    // borderline pairs would fail those rows spuriously with BOTH
    // engines correct — this test surfaces the assumption at the
    // fixture edit, not at the driver gate (r16 advisory). Checked at
    // the spec fixture AND the driver's correctness fixture.
    import graft.operators.Dedup
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val risky = Dedup.ngramJaccard(spark, dir)
        .filter(col("jaccard") < 0.88)
        .collect()
      assert(risky.isEmpty,
        s"$dir: exact pairs inside the banding-risk band [0.5, 0.88): " +
          risky.map(r => s"(${r.getLong(0)},${r.getLong(1)}," +
            f"j=${r.getDouble(2)}%.3f)").mkString(", "))
    }
  }

  test("r17 additions: sweep monotonicity, census consistency, artifact-served equality") {
    import graft.operators.{Corpus, Dedup, Text}
    // curate_v3_sweep: monotone in the cut, and the production 7500
    // point must equal the funnel's stage counts — the knob curve
    // cannot drift from the pipeline it tunes
    val sw = Corpus.curateV3Sweep(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(sw.map(_._1).toSeq == Corpus.CurateV3SweepCutsBp)
    sw.sliding(2).foreach {
      case Array(lo, hi) =>
        assert(lo._2 <= hi._2 && lo._3 <= hi._3,
          s"sweep not monotone: $lo -> $hi")
      case _ =>
    }
    val funnel = Corpus.curateV3Funnel(spark, sf).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    val at75 = sw.find(_._1 == 7500L).get
    assert(at75._2 == funnel("lm_quartile"),
      "7500 bp rank census != the production quartile stage")
    assert(at75._4 == funnel("neardup_survivor"),
      "7500 bp survivor census != the production dedup stage")
    // temperature_sweep: alpha=0 keeps every document; per-language
    // kept mass never grows with alpha
    val ts = Corpus.temperatureSweep(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val langTotals = graft.Tables.load(spark, sf, "documents")
      .groupBy(col("lang")).agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    ts.groupBy(_._2).foreach { case (lang, rows) =>
      val sorted = rows.sortBy(_._1)
      assert(sorted.head._4 == langTotals(lang),
        s"alpha=0 must keep all of $lang")
      sorted.sliding(2).foreach {
        case Array(lo, hi) =>
          assert(hi._4 <= lo._4, s"$lang kept mass grew with alpha")
        case _ =>
      }
    }
    // cluster_sizes: the census must account for every document
    val cs = Dedup.clusterSizes(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nDocs = graft.Tables.load(spark, sf, "documents").count()
    assert(cs.map { case (s, n) => s * n }.sum == nDocs,
      "cluster-size census does not cover the corpus")
    // winnow_overlap_saved: the artifact-served row equals the
    // in-place kernel bit-for-bit (exact-integer round-trip)
    val inPlace = Text.winnowOverlap(spark, sf).collect()
      .map(_.toSeq.toList).toSeq
    val served = Text.winnowOverlapSaved(spark, sf).collect()
      .map(_.toSeq.toList).toSeq
    assert(served == inPlace, "served overlap drifted from in-place")
    // lm_gate_by_source: the per-feed admissions sum to the gate's
    // own row count, and shares stay inside [0, 10000]
    val bySrc = Text.lmGateBySource(spark, sf).collect()
    val gateRows = Text.lmQualityGate(spark, sf).count()
    assert(bySrc.map(_.getLong(2)).sum == gateRows,
      "per-source admissions != gate output")
    assert(bySrc.forall(r =>
      r.getLong(2) <= r.getLong(1) && r.getLong(3) <= 10000L))
  }

  test("dup methods: flags re-derive from the three pair detectors and cover their union") {
    import graft.operators.{Dedup, FeatureHash}
    def pairSet(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val j = pairSet(Dedup.ngramJaccard(spark, sf))
    val s = pairSet(Dedup.simhashPairs(spark, sf))
    val c = pairSet(FeatureHash.hashEmbedNearDup(spark, sf))
    val rows = Dedup.dupMethodAgreement(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
    assert(rows.map(_._1).toSet == (j ++ s ++ c), "union coverage tear")
    rows.foreach { case (p, (bj, bs, bc2, n)) =>
      assert(bj == (if (j(p)) 1L else 0L), s"$p jaccard flag")
      assert(bs == (if (s(p)) 1L else 0L), s"$p simhash flag")
      assert(bc2 == (if (c(p)) 1L else 0L), s"$p cosine flag")
      assert(n == bj + bs + bc2)
    }
    // the triage is non-degenerate on the fixture: methods disagree
    // somewhere (a detector that always agrees adds no information)
    assert(rows.exists(_._2._4 < 3L), "fixture: all methods always agree")
  }

  test("containment prefix twin: one-sided prefix filter reproduces the exact ordered pair set") {
    import graft.operators.Dedup
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toList).toSeq
    val exact = snap(Dedup.containmentPairs(spark, sf))
    val pref = snap(Dedup.containmentPrefixPairs(spark, sf))
    assert(exact.nonEmpty)
    assert(pref == exact,
      "prefix-filtered containment drifted from the brute-force kernel")
    // the filter actually prunes: total exploded prefix mass is
    // strictly below the full shingle mass (≈ 1 − t of it), so the
    // twin is not just the exact join renamed
    val (prefixMass, fullMass) = Dedup.containmentPrefixMass(spark, sf)
    assert(prefixMass < fullMass,
      s"prefix mass $prefixMass not below full mass $fullMass")
    assert(prefixMass * 2 < fullMass,
      "prefix mass should be well under half the full mass at t = 3/5")
  }

  test("dup methods LSH twin: banded-candidate agreement table equals the exact table on the studied band") {
    import graft.operators.Dedup
    // the r16 kernel swap: the LSH-fed Jaccard leg (banding → margin
    // prune → exact confirm) must reproduce the exact triage
    // row-for-row at the fixtures' similarity levels — a banding
    // miss, a spurious survivor, or agreement-arithmetic drift is a
    // row diff here before it is one at the driver gate
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toList).toSeq
    val exact = snap(Dedup.dupMethodAgreement(spark, sf))
    val lsh = snap(Dedup.dupMethodAgreementLsh(spark, sf))
    assert(exact.nonEmpty)
    assert(lsh == exact, "LSH-fed triage drifted from the exact triage")
  }

  test("dup matrix: cells re-derive from the labeled pair set and the mass crosses sources") {
    import graft.operators.Dedup
    val cells = Dedup.dupMatrix(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(cells.nonEmpty)
    val srcOf = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = Dedup.ngramJaccard(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // brute-force matrix
    val want = pairs.groupBy { case (a, b) =>
      val (sa, sb) = (srcOf(a), srcOf(b))
      (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
    }.map { case (k, ps) =>
      (k._1, k._2, ps.length.toLong,
        ps.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong)
    }.toSet
    assert(cells.toSet == want, s"matrix drifted: ${cells.toSet} vs $want")
    // normalization + conservation + the triage signal is off-diagonal
    cells.foreach { case (a, b, p, d) =>
      assert(a <= b && p >= 1 && d >= 2 && d <= 2 * p)
    }
    assert(cells.map(_._3).sum == pairs.length.toLong, "pair mass lost")
    assert(cells.exists(c => c._1 != c._2), "no cross-source cell")
  }

  test("pooled corpus LM scores: the train-slice projection equals scoring the slice directly") {
    graft.CachePool.clear()
    val docs = graft.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val trainIds = Corpus.splitAssignDf(docs)
      .filter(col("split") === "train").select(col("doc_id"))
    val viaPool = Text.backoffScoredAll(spark, sf)
      .join(trainIds, "doc_id").collect()
      .map(_.toSeq.toList).sortBy(_.head.asInstanceOf[Long].toString)
    val (tri, bigr, uni) = Text.backoffModel(spark, sf)
    val direct = Text.backoffScoredUnsorted(
        docs.join(trainIds, "doc_id"), tri, bigr, uni).collect()
      .map(_.toSeq.toList).sortBy(_.head.asInstanceOf[Long].toString)
    assert(viaPool.nonEmpty && viaPool.toSeq == direct.toSeq,
      "train-slice projection of the pooled scores drifted from direct slice scoring")
  }

  test("pooled winnow fp set equals the direct census (shared substr-census derivation)") {
    graft.CachePool.clear()
    val direct = Text.winnowFpSet(graft.Tables.load(spark, sf, "documents")
        .select(col("doc_id"), col("text"))).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pooled = Text.winnowFpSetCached(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pooled == direct,
      "fp projection of the positioned census drifted from the direct set")
  }

  test("winnow skew: the seeded boilerplate flood is purged and the pair-mass bound is measured") {
    import graft.operators.Text
    val n = Tables.load(spark, sf, "documents").count()
    val census = Text.winnowFpSet(Text.winnowSkewDocs(spark, sf))
      .groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    val flood = census.filter(_._2 > Text.WinnowDfCap)
    // (1) the seed armed the purge: the appended payload's interior
    // fingerprints are shared by (essentially) every seeded doc — the
    // winnowing theorem makes that deterministic, not probabilistic
    val blockSize = n / Text.WinnowSkewMod
    assert(flood.nonEmpty, "no fingerprint exceeded the df cap")
    assert(flood.map(_._2).max >= (blockSize * 9) / 10,
      s"flood peak ${flood.map(_._2).max} < 0.9 × block $blockSize")
    // (2) the purged pair mass is block²-shaped — what the join was
    // spared: Σ df·(df−1)/2 over purged fps covers at least one full
    // flood fingerprint's pair block, and dwarfs the per-fp bound the
    // survivors obey (cap·(cap−1)/2 each)
    def mass(ds: Seq[Long]): Long = ds.map(d => d * (d - 1) / 2).sum
    val purgedMass = mass(flood.map(_._2))
    assert(purgedMass >= blockSize * (blockSize - 1) / 2,
      s"purged mass $purgedMass below one flood block")
    val perFpBound =
      Text.WinnowDfCap.toLong * (Text.WinnowDfCap - 1) / 2
    assert(flood.map(_._2).max * (flood.map(_._2).max - 1) / 2
      > 100 * perFpBound,
      "flood block does not dominate the per-fp bound — fixture too small")
    // (3) the output does not explode to block² scale: the flood
    // contributes zero pairs after the purge, so the seeded run stays
    // within an additive corpus-sized margin of the unseeded one
    val skewPairs = Text.winnowOverlapSkew(spark, sf).count()
    val plainPairs = Text.winnowOverlap(spark, sf).count()
    assert(skewPairs <= plainPairs + n,
      s"seeded run exploded: $skewPairs vs $plainPairs organic")
  }

  test("substr dedup: catches planted boundary-straddling repeats that span dedup provably misses; spans re-derive brute-force") {
    import graft.operators.Text
    import spark.implicits._
    // the repeat: 8 words (< one 10-word chunk), 38 chars >= L = 23
    val repeat = "quantum lattice harmonics resonate beyond"
    assert(repeat.length >= Text.SubstrMinLen)
    // planted so the repeat STRADDLES doc 1's first 10-word chunk
    // boundary (words 6-10 + 11-13 territory) and sits at a DIFFERENT
    // alignment in doc 2 — no 10-word chunk can match
    val doc1 = "alpha beta gamma delta epsilon " + repeat +
      " omega psi chi phi upsilon tau"
    val doc2 = "one two " + repeat + " nine ten eleven twelve " +
      "thirteen fourteen fifteen sixteen"
    val doc3 = "totally unrelated content with nothing shared at all here"
    val docs = Seq((1L, doc1), (2L, doc2), (3L, doc3)).toDF("doc_id", "text")

    // span dedup's chunk rule finds NOTHING to drop on these docs
    val span = graft.operators.Dedup.spanDedupFrom(docs).collect()
    assert(span.forall(_.getAs[Long]("dropped") == 0L),
      "span dedup unexpectedly caught the straddling repeat")

    // substr dedup catches the repeat in BOTH docs, nothing in doc 3
    val got = Text.substrDedupFrom(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSet == Set(1L, 2L), got.mkString(","))

    // brute-force re-derivation of the DEFINITION (union of shared
    // L-grams, merged) — independent of both the winnow anchors and
    // the extension kernel
    val L = Text.SubstrMinLen
    val texts = Map(1L -> doc1, 2L -> doc2, 3L -> doc3)
    def ref(id: Long): Seq[(Long, Long, Long)] = {
      val t = texts(id)
      val others = texts.filter(_._1 != id).values
        .flatMap(o => (0 to o.length - L).map(p => o.substring(p, p + L)))
        .toSet
      val covered = (0 to t.length - L)
        .filter(p => others.contains(t.substring(p, p + L)))
      if (covered.isEmpty) return Nil
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      covered.foreach { p =>
        if (spans.nonEmpty && p <= spans.last._2) {
          val (s0, e0) = spans.last
          spans(spans.length - 1) = (s0, math.max(e0, p + L))
        } else spans += ((p, p + L))
      }
      spans.map { case (s, e) =>
        (s.toLong, e.toLong, (e - s).toLong) }.toSeq
    }
    Seq(1L, 2L, 3L).foreach { id =>
      val want = ref(id).map { case (s, e, c) => (id, s, e, c) }
      assert(got.filter(_._1 == id).sortBy(_._2).toSeq == want,
        s"doc $id spans diverged from brute force")
    }
    // and each planted span really covers the repeat occurrence
    Seq(1L -> doc1, 2L -> doc2).foreach { case (id, t) =>
      val at = t.indexOf(repeat).toLong
      val sp = got.filter(_._1 == id).head
      assert(sp._2 <= at && sp._3 >= at + repeat.length,
        s"doc $id span $sp does not cover the planted repeat at $at")
    }
  }

  test("substr scrub: accounting reconciles with the spans, clean text re-derives byte-for-byte") {
    import graft.operators.Text
    val scrub = Text.substrScrub(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toMap
    val spans = Text.substrDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    val texts = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(scrub.keySet == texts.keySet, "scrub must report every doc")
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    scrub.foreach { case (id, (nSpans, cut, kept, fp)) =>
      val t = texts(id)
      assert(cut + kept == t.length.toLong, s"doc $id accounting")
      val ss = spans.getOrElse(id, Array.empty[(Long, Long, Long)])
        .sortBy(_._2)
      assert(nSpans == ss.length.toLong, s"doc $id span count")
      assert(cut == ss.map(s => s._3 - s._2).sum, s"doc $id cut chars")
      // independent reassembly: drop the span ranges, hash the rest
      val clean = {
        val sb = new StringBuilder
        var pos = 0
        ss.foreach { case (_, s, e) =>
          sb.append(t.substring(pos, s.toInt)); pos = e.toInt }
        sb.append(t.substring(pos)); sb.toString
      }
      assert(fp == md5hex(clean), s"doc $id clean_fp mismatch")
      assert(clean.length.toLong == kept, s"doc $id kept chars")
    }
    // the scrub actually bites at this scale
    assert(scrub.values.exists(_._1 > 0L))
    // and a scrubbed doc no longer carries its cut content verbatim:
    // no clean text of a spanned doc equals the original
    spans.keys.foreach(id =>
      assert(scrub(id)._4 != md5hex(texts(id)), s"doc $id unchanged"))
  }

  test("substr dedup at corpus scale: spans re-derive from the brute-force L-gram union") {
    import graft.operators.Text
    val got = Text.substrDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    val L = Text.SubstrMinLen
    val texts = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // one global gram -> docs index, then per-doc covered positions
    val gramDocs = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.Set[Long]]
    texts.foreach { case (id, t) =>
      (0 to t.length - L).foreach { p =>
        gramDocs.getOrElseUpdate(t.substring(p, p + L),
          scala.collection.mutable.Set.empty[Long]) += id
      }
    }
    val want = texts.toSeq.sortBy(_._1).flatMap { case (id, t) =>
      val covered = (0 to t.length - L).filter { p =>
        val ds = gramDocs(t.substring(p, p + L))
        ds.size > 1 || !ds.contains(id)
      }
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      covered.foreach { p =>
        if (spans.nonEmpty && p <= spans.last._2) {
          val (s0, e0) = spans.last
          spans(spans.length - 1) = (s0, math.max(e0, p + L))
        } else spans += ((p, p + L))
      }
      spans.map { case (s, e) => (id, s.toLong, e.toLong, (e - s).toLong) }
    }
    assert(got.sortBy(r => (r._1, r._2)).toSeq == want,
      s"engine ${got.length} spans vs brute force ${want.length}")
  }

  test("decontamination: train-only spans re-derive brute-force, contained in the all-docs spans, scrub leaves non-train docs untouched") {
    import graft.operators.{Corpus, Text}
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val splits = Corpus.splitAssignDf(docs).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = Text.decontaminate(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty, "no eval-shared spans at this scale")
    assert(got.forall(s => splits(s._1) == "train"),
      "a non-train doc appeared in the decontamination report")

    // brute-force re-derivation of the cross-set definition
    val L = Text.SubstrMinLen
    val testGrams = texts.collect { case (id, t) if splits(id) == "test" =>
      (0 to t.length - L).map(p => t.substring(p, p + L)) }
      .flatten.toSet
    val want = texts.toSeq.sortBy(_._1)
      .filter(d => splits(d._1) == "train").flatMap { case (id, t) =>
        val covered = (0 to t.length - L)
          .filter(p => testGrams.contains(t.substring(p, p + L)))
        val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
        covered.foreach { p =>
          if (spans.nonEmpty && p <= spans.last._2) {
            val (s0, e0) = spans.last
            spans(spans.length - 1) = (s0, math.max(e0, p + L))
          } else spans += ((p, p + L))
        }
        spans.map { case (s, e) => (id, s.toLong, e.toLong) }
      }
    assert(got.sortBy(s => (s._1, s._2)).toSeq == want,
      s"engine ${got.length} spans vs brute force ${want.length}")

    // containment: eval-shared coverage is a subset of all-docs coverage
    val all = Text.substrDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
    got.foreach { case (id, s, e) =>
      assert(all(id).exists(a => a._2 <= s && a._3 >= e),
        s"decon span ($id,$s,$e) not inside any all-docs span")
    }

    // the applied scrub: non-train docs (and un-spanned train docs)
    // pass through byte-identical; spanned docs change
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(x: String): String =
      md.digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val scrub = Text.decontaminateScrub(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(4))).toMap
    val spanned = got.map(_._1).toSet
    texts.keys.foreach { id =>
      if (spanned(id)) assert(scrub(id)._2 != md5hex(texts(id)), s"doc $id")
      else assert(scrub(id) == ((0L, md5hex(texts(id)))), s"doc $id")
    }
  }

  test("substr keep-first: the min-id holder keeps its copy, every repeat survives exactly once, spans re-derive brute-force") {
    import graft.operators.Text
    val texts = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = Text.substrKeepFirst(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    // brute-force re-derivation under the smaller-id rule
    val L = Text.SubstrMinLen
    val gramMinDoc = scala.collection.mutable.HashMap.empty[String, Long]
    texts.toSeq.sortBy(_._1).foreach { case (id, t) =>
      (0 to t.length - L).foreach { p =>
        val g = t.substring(p, p + L)
        if (!gramMinDoc.contains(g)) gramMinDoc(g) = id
      }
    }
    val want = texts.toSeq.sortBy(_._1).flatMap { case (id, t) =>
      val covered = (0 to t.length - L)
        .filter(p => gramMinDoc(t.substring(p, p + L)) < id)
      val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      covered.foreach { p =>
        if (spans.nonEmpty && p <= spans.last._2) {
          val (s0, e0) = spans.last
          spans(spans.length - 1) = (s0, math.max(e0, p + L))
        } else spans += ((p, p + L))
      }
      spans.map { case (s, e) => (id, s.toLong, e.toLong) }
    }
    assert(got.sortBy(s => (s._1, s._2)).toSeq == want,
      s"engine ${got.length} spans vs brute force ${want.length}")
    // keep-first ⊆ all-copies coverage, and strictly smaller: the
    // min-id holders' copies are exactly what the audit has extra
    val audit = Text.substrDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).groupBy(_._1)
    got.foreach { case (id, s, e) =>
      assert(audit(id).exists(a => a._2 <= s && a._3 >= e),
        s"keep-first span ($id,$s,$e) outside the audit coverage")
    }
    assert(got.length < audit.values.map(_.length).sum)
    // first-occurrence retention, in its provable form: the globally
    // smallest audit-covered doc shares only with LARGER docs, so
    // keep-first must leave it entirely untouched — and the scrub
    // must pass it through byte-identical
    val firstDoc = audit.keySet.min
    assert(!got.exists(_._1 == firstDoc),
      s"keep-first cut the globally first holder $firstDoc")
    val md = java.security.MessageDigest.getInstance("MD5")
    def md5hex(x: String): String =
      md.digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val scrub = Text.substrScrubFirst(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(4))).toMap
    assert(scrub(firstDoc) == ((0L, md5hex(texts(firstDoc)))),
      s"scrub-first touched the first holder $firstDoc")
    // and it cuts strictly less than the all-copies scrub
    val conservative = Text.substrScrub(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val cutFirst = scrub.values.map(_._1).sum
    val cutAll = got.map(s => s._3 - s._2).sum
    assert(cutAll == Text.substrKeepFirst(spark, sf).collect()
      .map(r => r.getLong(3)).sum)
    assert(conservative.values.sum > cutAll,
      "keep-first did not preserve strictly more than the all-copies scrub")
    assert(cutFirst == got.length.toLong,
      "scrub-first span accounting diverged from the span report")
  }

  test("substr family df-cap: a seeded boilerplate flood is purged before the anchor join") {
    import graft.operators.Text
    // 26 docs whose only cross-doc content is one boilerplate
    // sentence, padded on both sides by a PER-DOC-UNIQUE letter block
    // (k = 16 grams: a gram crossing the boiler boundary either
    // contains a unique letter — df 1 — or is pure space+boiler —
    // df 26, over the cap — so the purge provably removes EVERY
    // anchor): uncapped, every pair anchors and every doc reports a
    // span (the Σ df² skew hazard — one fingerprint with df = 26
    // drives 26² anchor rows); capped, the report is empty
    val boiler = "subscribe to our newsletter today for free weekly updates"
    val docs = spark.createDataFrame(
      (0 until 26).map { i =>
        val u = ('a' + i).toChar.toString * 20
        (i.toLong, s"$u $boiler $u")
      }).toDF("doc_id", "text").persist()
    val uncappedDocs = Text.substrDedupFrom(docs)
      .select(col("doc_id")).distinct().count()
    assert(uncappedDocs == 26L,
      s"flood did not span every doc without the cap: $uncappedDocs")
    assert(Text.substrDedupFrom(docs, dfCap = Some(10L)).count() == 0L,
      "capped run still emitted spans for the boilerplate flood")
    // cross-set kernel: same purge, same receipt
    assert(Text.substrSpansAcross(docs, docs,
        pairFilter = col("doc_b") < col("doc_a"),
        dfCap = Some(10L)).count() == 0L,
      "capped cross-set run still emitted spans")
    // and the cap is INERT where df stays under it: the organic
    // corpus's span report is unchanged under a cap it never hits
    val organic = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val plain = Text.substrDedupFrom(organic).collect()
      .map(_.toSeq.toList).toSet
    val underCap = Text.substrDedupFrom(organic, dfCap = Some(1000000L))
      .collect().map(_.toSeq.toList).toSet
    assert(plain.nonEmpty && underCap == plain,
      "an un-binding cap changed the organic span report")
    docs.unpersist()
  }

  test("substr family codepoint basis: spans stay aligned with SQL substring on non-BMP text") {
    import graft.operators.Text
    // the shared run sits AFTER supplementary characters (emoji are
    // outside the BMP: 2 UTF-16 code units, 1 codepoint) and differing
    // adjacent chars bound the extent exactly; a UTF-16 char basis
    // would report offsets shifted by the surrogate count and the
    // substring cut below would come back garbled
    val run = "the quick brown fox jumps over the lazy dog"
    val docs = spark.createDataFrame(Seq(
      (0L, s"😀😀 alpha a${run}x tail one"),
      (1L, s"🚀 beta bravo b${run}y other end")
    )).toDF("doc_id", "text")
    val spans = Text.substrDedupFrom(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(spans.length == 2, s"expected one span per doc: ${spans.toSeq}")
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    spans.foreach { case (id, s, e) =>
      val cp = texts(id).codePoints().toArray
      val got = new String(cp.slice(s.toInt, e.toInt), 0, (e - s).toInt)
      assert(got == run,
        s"doc $id span [$s,$e) extracted '$got' — offsets desynced")
    }
    // and the engine-side SQL substring cut (what scrubFrom uses)
    // agrees with those offsets verbatim
    val viaSql = docs.join(Text.substrDedupFrom(docs), "doc_id")
      .select(expr("substring(text, cast(span_start + 1 as int), " +
        "cast(span_chars as int))").as("cut"))
      .collect().map(_.getString(0))
    assert(viaSql.forall(_ == run), s"SQL substring cut diverged: ${viaSql.toSeq}")
  }

  test("substr family plan hygiene: anchor joins are equality joins, extension is the codegen kernel, no cartesian product") {
    import graft.operators.Text
    // r17: the declared rows serve session-checkpointed span frames
    // (their executed plan is a checkpoint scan), so the hygiene
    // audit runs on the UNDERLYING kernel builds — the same code
    // paths the pooled builds invoke
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val fps = Text.substrFpSet(docs)
    val labeled = docs.join(graft.operators.Corpus.splitAssignDf(docs)
      .select(col("doc_id"), col("split")), "doc_id")
    val frames = Map(
      // fps passed explicitly (r17 advisory): the production pooled
      // build runs the precomputed-census join shape, so that is the
      // anchor-join plan the audit must check — not the default
      // self-derived path
      "substr_dedup" -> Text.substrDedupFrom(docs,
        fps = Some(Text.substrFpSet(docs))),
      "substr_keep_first" -> Text.substrSpansAgainstIndex(docs, fps, fps,
        docs, pairFilter = col("doc_b") < col("doc_a")),
      "decontaminate" -> Text.substrSpansAcross(
        labeled.filter(col("split") === "train")
          .select(col("doc_id"), col("text")),
        labeled.filter(col("split") === "test")
          .select(col("doc_id"), col("text"))),
      "delta_substr" -> Text.deltaSubstr(spark, sf))
    frames.foreach { case (name, df) =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plan degenerated to a cartesian product:\n" +
          plan.take(1500))
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name plan carries a nested-loop join:\n" + plan.take(1500))
      assert(plan.contains("substr_extent"),
        s"$name lost the codegen extension kernel:\n" + plan.take(1500))
    }
  }

  test("delta substr: arriving-doc spans against the frozen corpus slice re-derive brute-force") {
    import graft.operators.Text
    val texts = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val w = (texts.keys.max + 1) * 8 / 10
    val got = Text.deltaSubstr(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty && got.forall(_._1 >= w),
      "a corpus-slice doc appeared in the delta report")
    val L = Text.SubstrMinLen
    val corpusGrams = texts.collect { case (id, t) if id < w =>
      (0 to t.length - L).map(p => t.substring(p, p + L)) }.flatten.toSet
    val want = texts.toSeq.sortBy(_._1).filter(_._1 >= w)
      .flatMap { case (id, t) =>
        val covered = (0 to t.length - L)
          .filter(p => corpusGrams.contains(t.substring(p, p + L)))
        val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
        covered.foreach { p =>
          if (spans.nonEmpty && p <= spans.last._2) {
            val (s0, e0) = spans.last
            spans(spans.length - 1) = (s0, math.max(e0, p + L))
          } else spans += ((p, p + L))
        }
        spans.map { case (s, e) => (id, s.toLong, e.toLong) }
      }
    assert(got.sortBy(s => (s._1, s._2)).toSeq == want,
      s"engine ${got.length} spans vs brute force ${want.length}")
  }

  test("winnow: fingerprints re-derive from a brute-force rolling hash + rightmost-min winnowing") {
    import graft.operators.Text
    val got = Text.winnow(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // brute-force reference: O(n·k) re-hash per gram (no rolling
    // update — independent of the recurrence under test), then the
    // window scan with rightmost ties and consecutive dedup
    def ref(t: String): Seq[(Long, Long)] = {
      val (k, w, b, m) = (Text.WinnowK, Text.WinnowW, Text.WinnowBase, Text.WinnowMod)
      val ng = t.length - k + 1
      if (ng <= 0) return Seq.empty
      val hs = (0 until ng).map { p =>
        t.substring(p, p + k).foldLeft(0L)((h, c) => (h * b + c.toLong) % m)
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var last = -1
      (0 to math.max(ng - w, 0)).foreach { s =>
        val end = math.min(s + w - 1, ng - 1)
        var best = s
        ((s + 1) to end).foreach(j => if (hs(j) <= hs(best)) best = j)
        if (best != last) { out += ((best.toLong, hs(best))); last = best }
      }
      out.toSeq
    }
    got.groupBy(_._1).foreach { case (id, rows) =>
      val expect = ref(docs(id))
      val gotSeq = rows.sortBy(_._2).map(r => (r._2, r._3)).toSeq
      assert(gotSeq == expect, s"doc $id fingerprints drifted")
      // monotone selections => per-doc positions strictly increase —
      // the property that makes the oracle's DISTINCT equal to the
      // engine's consecutive-window dedup
      assert(gotSeq.map(_._1) == gotSeq.map(_._1).sorted.distinct.toSeq,
        s"doc $id selections not strictly increasing")
    }
    // the winnowing density bound holds loosely: far fewer
    // fingerprints than grams
    val totalGrams = docs.values.map(t =>
      math.max(t.length - Text.WinnowK + 1, 0)).sum
    assert(got.length.toLong * 2 < totalGrams, "no winnowing compression")
  }

  test("winnow plan: fingerprinting is a shuffle-free map (no Exchange before the sort)") {
    import graft.operators.Text
    // the scale claim is structural: WinnowPack + posexplode ride the
    // scan; the ONLY exchange in q_winnow's plan is the presentation
    // orderBy's range partitioning — no aggregation/join shuffle exists
    val plan = Text.winnow(spark, sf).queryExecution.executedPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.size <= 1, s"unexpected shuffles: $exchanges")
    exchanges.foreach { e =>
      // the one permitted exchange is the presentation orderBy's range
      // partitioning, and nothing wide sits beneath it
      assert(e.outputPartitioning.toString.toLowerCase.contains("range"),
        s"non-sort exchange in a map-only plan: ${e.outputPartitioning}")
      assert(e.child.collect {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }.isEmpty, "aggregation found under the sort exchange")
    }
    // the map stage is Scan -> Generate(winnow_pack) -> Project:
    // the fingerprint work rides the scan (the hot loop is the
    // expression's primitive JVM kernel — JIT-friendly with or
    // without a whole-stage wrapper, the MinHashSig note)
    val s = plan.toString
    assert(s.contains("winnow_pack"), "fingerprint expression missing from plan")
    assert(!s.contains("SortMergeJoin") && !s.contains("HashAggregate"),
      "wide operator in a map-only plan")
  }

  test("winnow overlap: shared-fingerprint pairs match a brute-force recount and dup docs surface") {
    import graft.operators.Text
    val got = Text.winnowOverlap(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty, "no overlapping pair in fixture")
    // brute force off the (already verified) per-doc fingerprint sets
    val fps = Text.winnow(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .distinct.groupBy(_._2).view.mapValues(_.map(_._1).sorted).toMap
    val pair = scala.collection.mutable.Map.empty[(Long, Long), Long]
    fps.values.filter(_.length <= Text.WinnowDfCap).foreach { ds =>
      for (i <- ds.indices; j <- (i + 1) until ds.length)
        pair((ds(i), ds(j))) = pair.getOrElse((ds(i), ds(j)), 0L) + 1L
    }
    val expect = pair.filter(_._2 >= Text.WinnowMinShared)
      .map { case ((a, b), n) => (a, b, n) }.toSeq.sorted
    assert(got.toSeq.sorted == expect, "overlap pairs drifted")
    // exact duplicate documents (the planted dups) must share
    // fingerprints heavily: some pair shares well above the floor
    assert(got.exists(_._3 >= Text.WinnowMinShared * 4),
      "no strongly-overlapping pair — planted dups missed")
  }

  test("text drift: per-bucket shares re-derive from the quality scores and sum to ~1000pm") {
    import graft.operators.Text
    val got = Text.textDrift(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.nonEmpty)
    // reference buckets straight from the verified quality projection
    val scored = Text.quality(spark, sf)
      .select(col("doc_id"), col("quality_score")).collect()
      .map(r => r.getLong(0) -> math.floor(
        r.getDouble(1) * Text.DriftBucketScale).toLong)
    val w = (scored.map(_._1).max + 1) * 8 / 10
    val ref = scored.filter(_._1 < w).groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val nw = scored.filter(_._1 >= w).groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val (rt, nt) = (ref.values.sum, nw.values.sum)
    assert(got.map(_._1).toSet == (ref.keySet ++ nw.keySet), "bucket set drifted")
    got.foreach { case (b, nRef, nNew, sRef, sNew, d) =>
      assert(nRef == ref.getOrElse(b, 0L), s"bucket $b n_ref")
      assert(nNew == nw.getOrElse(b, 0L), s"bucket $b n_new")
      assert(sRef == nRef * 1000 / rt, s"bucket $b share_ref")
      assert(sNew == nNew * 1000 / nt, s"bucket $b share_new")
      assert(d == math.abs(sRef - sNew), s"bucket $b delta")
    }
    // integer-floor shares sum to at most 1000 and nearly reach it
    val sr = got.map(_._4).sum; val sn = got.map(_._5).sum
    assert(sr <= 1000 && sr > 1000 - got.length, s"ref shares $sr")
    assert(sn <= 1000 && sn > 1000 - got.length, s"new shares $sn")
  }

  test("delta winnow: ingest classification matches a brute-force probe of the corpus index") {
    import graft.operators.Text
    val got = Text.deltaWinnow(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // brute force off the verified fingerprint sets
    val fps = Text.winnow(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).distinct
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val allIds = Tables.load(spark, sf, "documents")
      .select(col("doc_id")).collect().map(_.getLong(0))
    val w = (allIds.max + 1) * 8 / 10
    val corpusDf = scala.collection.mutable.Map.empty[Long, Int]
    fps.filter(_._1 < w).values.foreach(_.foreach(f =>
      corpusDf(f) = corpusDf.getOrElse(f, 0) + 1))
    val keptFp = corpusDf.filter(_._2 <= Text.WinnowDfCap).keySet
    val index = fps.collect { case (d, s) if d < w => d -> (s & keptFp) }
    val batchIds = allIds.filter(_ >= w).sorted
    assert(got.map(_._1).toSeq == batchIds.toSeq, "not total over the delivery")
    got.foreach { case (id, status, matched, nShared) =>
      val mine = fps.getOrElse(id, Set.empty)
      val bestOpt = index
        .map { case (cd, cs) => (cd, (mine & cs).size.toLong) }
        .filter(_._2 > 0)
        .minByOption { case (cd, n) => (-n, cd) }
      val (bp, bn) = bestOpt.getOrElse((-1L, 0L))
      assert(nShared == bn, s"doc $id n_shared")
      if (bn >= Text.WinnowMinShared) {
        assert(status == "overlap_of_corpus" && matched == bp, s"doc $id verdict")
      } else assert(status == "new" && matched == -1L, s"doc $id verdict")
    }
    // non-degenerate both ways
    assert(got.exists(_._2 == "overlap_of_corpus"), "no overlap verdict in fixture")
    assert(got.exists(_._2 == "new"), "no new verdict in fixture")
  }

  test("scene cuts: frame features re-derive from the byte formula, cuts and scene ids are consistent") {
    val got = Multimodal.sceneCuts(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty)
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val w = Multimodal.SceneFrameBytes
    // independent reference straight from the text bytes
    def featsOf(t: String): Seq[Long] =
      t.grouped(w).map(win =>
        win.map(_.toLong).sum * 100L / win.length).toSeq
    got.groupBy(_._1).foreach { case (id, rows) =>
      val fs = featsOf(docs(id))
      val sorted = rows.sortBy(_._2)
      assert(sorted.length == fs.length, s"doc $id frame count")
      var scene = 0L
      sorted.zipWithIndex.foreach { case ((_, idx, feat, cut, sid), i) =>
        assert(idx == i.toLong)
        assert(feat == fs(i), s"doc $id frame $i feature")
        val expectCut =
          if (i == 0) 0L
          else if (math.abs(fs(i) - fs(i - 1)) >= Multimodal.SceneCutThresh) 1L
          else 0L
        assert(cut == expectCut, s"doc $id frame $i cut")
        scene += expectCut
        assert(sid == scene, s"doc $id frame $i scene id")
      }
    }
    // non-degenerate: cuts fire somewhere but not everywhere
    assert(got.exists(_._4 == 1L), "no cut fired in fixture")
    assert(got.count(_._4 == 1L) < got.length / 2, "cut threshold degenerate")
    // every doc's scenes start at 0 (frame 0 is never a cut)
    got.filter(_._2 == 0L).foreach { r => assert(r._4 == 0L && r._5 == 0L) }
  }

  test("scene cuts (decoded): luma means come off the real PNG round-trip and match the closed form") {
    val got = Multimodal.sceneCutsDecoded(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty)
    // closed-form reference — the frames are generated from this
    // formula; the operator's features come off an ImageIO-decoded
    // raster, so equality pins the encode→decode→mean loop
    def featOf(id: Long, fi: Int): Long = {
      val w = 8 + (id % 8).toInt; val h = 8 + (id % 5).toInt
      val base = ((id + fi / Multimodal.DecodedSceneLen) % 4) * 64
      val tsum = (for (y <- 0 until h; x <- 0 until w)
        yield ((x * 7 + y * 13) % 32).toLong).sum
      (base * w * h + tsum) * 100L / (w * h)
    }
    got.groupBy(_._1).foreach { case (id, rows) =>
      val nf = 6 + (id % 4).toInt
      val sorted = rows.sortBy(_._2)
      assert(sorted.length == nf, s"doc $id frame count")
      var scene = 0L
      sorted.zipWithIndex.foreach { case ((_, idx, feat, cut, sid), i) =>
        assert(idx == i.toLong)
        assert(feat == featOf(id, i), s"doc $id frame $i feature")
        val expectCut =
          if (i == 0) 0L
          else if (math.abs(featOf(id, i) - featOf(id, i - 1))
            >= Multimodal.SceneCutDecodedThresh) 1L
          else 0L
        assert(cut == expectCut, s"doc $id frame $i cut")
        scene += expectCut
        assert(sid == scene, s"doc $id frame $i scene id")
      }
      // structural: cuts fall exactly on scene boundaries (frame
      // multiples of the scene length) — within-scene deltas are 0
      sorted.foreach { case (_, idx, _, cut, _) =>
        assert((cut == 1L) ==
          (idx > 0 && idx % Multimodal.DecodedSceneLen == 0),
          s"doc $id frame $idx cut placement")
      }
    }
    assert(got.exists(_._4 == 1L), "no cut fired")
    assert(got.exists(r => r._2 > 0 && r._4 == 0L), "every frame cut")
  }

  test("keyframes: exactly one per scene, the scene's first frame, lengths partition the clip") {
    val cuts = Multimodal.sceneCuts(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4)))
    val kfs = Multimodal.keyframes(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(kfs.nonEmpty)
    val byScene = cuts.groupBy(r => (r._1, r._4))
    assert(kfs.map(k => (k._1, k._2)).toSet == byScene.keySet,
      "keyframe set != scene set")
    kfs.foreach { case (doc, scene, fi, feat, nf) =>
      val frames = byScene((doc, scene)).sortBy(_._2)
      assert(fi == frames.head._2, s"doc $doc scene $scene not first frame")
      assert(feat == frames.head._3, s"doc $doc scene $scene feat")
      assert(nf == frames.length.toLong, s"doc $doc scene $scene length")
    }
    // scene lengths partition each clip's frames exactly
    kfs.groupBy(_._1).foreach { case (doc, ss) =>
      assert(ss.map(_._5).sum == cuts.count(_._1 == doc).toLong, s"doc $doc")
    }
    // the reduction is real: fewer keyframes than frames
    assert(kfs.length < cuts.length)
  }

  test("video near-dup: groups are exactly the identical-keyframe-sequence classes") {
    val rows = Multimodal.videoNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    // duplication is real at this scale, and so are singletons
    assert(rows.exists(_._5 > 1L), "no dup group formed")
    // independent re-derivation: a clip's fingerprint classifies with
    // another's IFF their decoded keyframe (scene, feat) sequences
    // are identical
    val seqs = Multimodal
      .keyframesFrom(Multimodal.sceneCutsDecoded(spark, sf)).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(3))))
      .groupBy(_._1).view
      .mapValues(_.map(_._2).sortBy(_._1).toSeq).toMap
    val byFp = rows.groupBy(_._2)
    byFp.values.foreach { g =>
      val ref = seqs(g.head._1)
      g.foreach(m => assert(seqs(m._1) == ref,
        s"clip ${m._1} grouped with a different keyframe sequence"))
    }
    assert(byFp.size == seqs.values.map(_.toList).toSet.size,
      "fingerprint classes != distinct keyframe sequences")
    // fixture geometry: clips congruent mod 40 (same dims, frame
    // count, and base progression) must collapse into one group —
    // though two cohorts whose integer luma means coincide may merge,
    // so the canonical is the GROUP min, not necessarily the cohort min
    rows.groupBy(_._1 % 40).foreach { case (c, cohort) =>
      assert(cohort.map(_._2).toSet.size == 1, s"cohort $c split")
    }
    byFp.values.foreach { g =>
      val mn = g.map(_._1).min
      assert(g.forall(_._4 == mn), "canonical not the group min")
    }
  }

  test("audio vad: segments re-derive from the gated closed form, real decode carries the energies") {
    val segs = Multimodal.audioVad(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(segs.nonEmpty)
    // closed-form reference: gated triangle energies per 128-window,
    // islands of consecutive positive-energy windows
    def ref(id: Long): Seq[(Long, Long, Long, Long)] = {
      val n = 512 + (id % 7).toInt * 64
      val p = 16 + (id % 32).toInt
      val a = 8192 + (id % 4).toInt * 4096
      def smp(i: Int): Long =
        if ((i / Multimodal.VadWindow) % Multimodal.VadSilentEvery ==
          Multimodal.VadSilentEvery - 1) 0L
        else (a - (2 * a * math.abs(2 * (i % p) - p)) / p).toLong
      val wins = (0 until n).groupBy(_ / Multimodal.VadWindow).toSeq
        .map { case (w, is) => w.toLong -> is.map(i => smp(i) * smp(i)).sum }
        .sortBy(_._1).filter(_._2 > 0)
      // islands: consecutive window indexes
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
      wins.foreach { case (w, e) =>
        if (out.nonEmpty && out.last._2 == w - 1) {
          val (s0, _, c, te) = out.remove(out.length - 1)
          out += ((s0, w, c + 1, te + e))
        } else out += ((w, w, 1L, e))
      }
      out.toSeq
    }
    segs.groupBy(_._1).foreach { case (id, ss) =>
      val want = ref(id)
      val got = ss.sortBy(_._2).map(s => (s._2, s._3, s._4, s._5)).toSeq
      assert(got == want, s"doc $id segments: $got vs $want")
    }
    // the gate is exercised: every clip has >1 segment (silence between)
    assert(segs.groupBy(_._1).forall(_._2.length > 1),
      "some clip never went silent — gating broken")
  }

  test("image phash re-derives from the pixel formula and groups consistently") {
    val got = Multimodal.imagePhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    // closed-form reference (the images are generated from this formula;
    // the operator hashes the real decoded raster)
    def ref(id: Long): Long = {
      val w = 8 + (id % 8).toInt; val h = 8 + (id % 5).toInt
      def g(x: Int, y: Int): Long = (id * 31 + x * 7 + y * 13) % 256
      var p = 0L
      for (j <- 0 until 8; i <- 0 until 7) {
        val y = j * h / 8
        if (g((i + 1) * w / 8, y) > g(i * w / 8, y)) p |= 1L << (j * 7 + i)
      }
      p
    }
    got.foreach { case (id, phash, _, _) => assert(phash == ref(id), s"doc $id") }
    // ids congruent mod lcm(256, 8, 5) = 1280 render identical images,
    // so their hashes MUST collide (the dedup-grouping premise)
    assert(ref(3L) == ref(3L + 1280L))
    // group invariants
    val byHash = got.groupBy(_._2)
    got.foreach { case (_, ph, gid, gsz) =>
      val members = byHash(ph)
      assert(gid == members.map(_._1).min)
      assert(gsz == members.length.toLong)
    }
  }

  test("fuzzy join: banding is complete vs the naive theta join and BNLJ-free") {
    val df = Relational.fuzzyJoin(spark, sf)
    val got = df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // naive reference over the collected distinct dictionary
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val names = Tables.load(spark, sf, "part").select("p_name")
      .distinct().collect().map(_.getString(0))
    val want = (for {
      a <- names; b <- names if a < b
      d = lev(a, b) if d <= 2
    } yield (a, b, d.toLong)).toSet
    assert(got.toSet == want, s"got ${got.length}, want ${want.size}")
  }

  test("containment pairs re-derive from scratch shingle sets and bound jaccard") {
    val got = Dedup.containmentPairs(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val sh = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect().map { r =>
        val ws = r.getString(1).toLowerCase.trim.replaceAll("\\s+", " ").split(" ")
        r.getLong(0) -> ws.sliding(3).map(_.mkString(" ")).toSet
      }.toMap
    assert(got.nonEmpty)
    got.foreach { case (a, b, common, na, bp) =>
      val inter = sh(a).intersect(sh(b)).size.toLong
      assert(inter == common, s"($a,$b)")
      assert(na == sh(a).size.toLong, s"($a,$b)")
      assert(bp == common * 10000L / na, s"($a,$b)")
      // containment >= jaccard, always (compare the exact ratios —
      // bp is floored to basis points and can dip below at equality)
      val j = inter.toDouble / (sh(a).size + sh(b).size - inter)
      assert(common.toDouble / na >= j - 1e-9, s"($a,$b)")
    }
  }

  test("allpairs prefix filter is complete vs the naive quadratic join") {
    val df = Dedup.allPairsJaccard(spark, sf)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // naive reference: distinct word-trigram sets, every pair, exact
    // jaccard >= 1/2 — the theorem says prefix filtering loses nothing
    val sets = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect().map { r =>
        val ws = "[a-z]+".r.findAllIn(r.getString(1).toLowerCase).toArray
        r.getLong(0) -> ws.sliding(3).filter(_.length == 3)
          .map(_.mkString(" ")).toSet
      }.filter(_._2.nonEmpty).toMap
    val ids = sets.keys.toArray.sorted
    val want = (for {
      i <- ids.indices.iterator; j <- (i + 1) until ids.length
      a = ids(i); b = ids(j)
      inter = sets(a).intersect(sets(b)).size.toLong
      uni = sets(a).size + sets(b).size - inter
      if inter * 2 >= uni
    } yield (a, b, inter, uni)).toSet
    assert(got.toSet == want, s"got ${got.length}, want ${want.size}")
    assert(got.nonEmpty)
  }

  test("semdedup keeps exactly the max-norm2 member of every cluster") {
    val out = Similarity.semDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // one survivor per cluster, survivor is a member, keep marks it
    val byCluster = out.groupBy(_._2)
    byCluster.foreach { case (c, rows) =>
      val survivors = rows.map(_._3).distinct
      assert(survivors.length == 1, s"cluster $c")
      assert(rows.map(_._1).contains(survivors.head), s"cluster $c")
      assert(rows.count(_._4 == 1L) == 1, s"cluster $c")
      assert(rows.find(_._4 == 1L).get._1 == survivors.head, s"cluster $c")
    }
    // survivor rule: max quantized norm2, ties to smaller vec_id
    val n2 = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), graft.functions.ArrayOps.dot_long(
        graft.functions.ArrayOps.quantize_q(col("embedding"), Similarity.Q),
        graft.functions.ArrayOps.quantize_q(col("embedding"), Similarity.Q))
        .as("n2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    byCluster.foreach { case (c, rows) =>
      val want = rows.map(_._1).minBy(id => (-n2(id), id))
      assert(rows.head._3 == want, s"cluster $c survivor")
    }
  }

  test("IVF+PQ composed recall is total on the planted twins") {
    val n = Tables.load(spark, sf, "embeddings").count()
    val got = Similarity.ivfPqPlantedRecall(spark, sf).collect()
    assert(got.length == n, s"IVF+PQ recall ${got.length}/$n")
    got.foreach(r => assert(r.getLong(1) == r.getLong(0) + 1000000L))
  }

  test("bloom semi join is output-identical to the plain semi join") {
    val pruned = Relational.bloomSemiJoin(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val keys = Tables.load(spark, sf, "orders")
      .filter(col("o_orderstatus") === "F" &&
        col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"))
    val plain = Tables.load(spark, sf, "lineitem")
      .join(keys, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice")
          .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
          .cast("double").as("revenue"))
      .orderBy(col("l_returnflag")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(pruned.nonEmpty && pruned.sameElements(plain))
  }

  test("pagerank: mass bounds, isolated-node fixpoint, degree ordering") {
    val rows = graft.operators.Graph.pageRank(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    val nn = rows.length.toLong
    val base = (1000000000L * 15L / 100L) / nn
    // integer division only ever LEAKS mass: total in (0, G]
    val total = rows.map(_._3).sum
    assert(total > 0 && total <= 1000000000L, s"mass $total")
    // every node holds at least the teleport term
    rows.foreach { case (n, _, s) => assert(s >= base, s"node $n below base") }
    // full driver-side replay of the integer recurrence: every score
    // must match the distributed loop exactly
    val pairs = Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.load(spark, sf, "orders")
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct()
      .collect().map(r => (r.getLong(0) * 2, r.getLong(1) * 2 + 1))
    val edges = pairs ++ pairs.map { case (a, b) => (b, a) }
    val outdeg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    var score = rows.map { case (n, _, _) => n -> 1000000000L / nn }.toMap
    (1 to 10).foreach { _ =>
      val inc = edges.groupBy(_._2).view.mapValues(
        _.map { case (src, _) => score(src) / outdeg(src) }.sum).toMap
      score = score.keys.map(n =>
        n -> (base + 85L * inc.getOrElse(n, 0L) / 100L)).toMap
    }
    rows.foreach { case (n, _, s) =>
      assert(s == score(n), s"node $n: $s != ${score(n)}") }
    // suppliers (high-degree hubs in the bipartite graph) outrank the
    // median customer
    val supMin = rows.filter(_._2 == "supplier").map(_._3).min
    val custScores = rows.filter(_._2 == "customer").map(_._3).sorted
    assert(supMin > custScores(custScores.length / 2))
  }

  test("lpa: forced shuffle-join fallback is bit-identical to the broadcast path") {
    // the past-broadcast-threshold branch (the one a 100 TB graph
    // runs) has no natural fixture — force it by turning Spark's
    // broadcasts off and pin every community assignment to the
    // broadcast path's output (the pagerank fallback-spec pattern)
    val viaBroadcast = graft.operators.Graph.lpaCommunities(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val viaShuffle = graft.operators.Graph.lpaCommunities(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(viaShuffle.sameElements(viaBroadcast))
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("pagerank: forced shuffle-join fallback is bit-identical to the broadcast path") {
    // the past-broadcast-threshold branch (the one a 100 TB graph
    // runs) has no natural fixture — force it by turning Spark's
    // broadcasts off and pin every score to the broadcast path's output
    val viaBroadcast = graft.operators.Graph.pageRank(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val viaShuffle = graft.operators.Graph.pageRank(spark, sf).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      assert(viaShuffle.sameElements(viaBroadcast))
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("incremental card merge reproduces the full-rescan dataset card exactly") {
    val full = Corpus.datasetCard(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val merged = Corpus.deltaCard(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(merged.toSeq == full.toSeq)
    // the metrics that make merging non-trivial must be non-degenerate:
    // distinct counts that actually span both deliveries
    val m = merged.toMap
    assert(m("n_langs") > 1L && m("vocab_size") > 10L)
  }

  test("fk audit detects seeded orphans (the clean-fixture zeros can't pin the mechanism)") {
    import spark.implicits._
    // 2 dangling keys (99, 99, 98) among 5 child rows — the left-join
    // null-flag path must count 3 orphan rows / 2 distinct keys, not
    // the all-zero answer the clean fixture would also give a broken
    // detector
    val child = Seq(1L, 2L, 99L, 99L, 98L).toDF("k")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    for (bcast <- Seq(true, false)) {
      val r = Relational.auditRelationship("seeded", child, "k",
        parent, "pk", bcast).collect()
      assert(r.length == 1)
      assert(r.head.getLong(r.head.fieldIndex("child_rows")) == 5L)
      assert(r.head.getLong(r.head.fieldIndex("orphan_rows")) == 3L)
      assert(r.head.getLong(r.head.fieldIndex("distinct_orphan_keys")) == 2L)
    }
  }

  test("fk audit: every relationship audited, clean fixture has zero orphans") {
    val rows = Relational.fkAudit(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 6)
    val li = Tables.load(spark, sf, "lineitem").count()
    assert(rows.filter(_._1.startsWith("lineitem.")).forall(_._2 == li))
    rows.foreach { case (rel, _, orphans, dKeys) =>
      assert(orphans == 0L && dKeys == 0L, s"$rel has orphans") }
  }

  test("event paths: counts re-derivable from per-user ordered streams") {
    val got = graft.operators.Events.eventPaths(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val byUser = graft.operators.Events.load(spark, sf)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(r => (r.getTimestamp(1).getTime, r.getLong(2)))
        .map(_.getString(3)).toSeq)
    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    byUser.values.foreach(_.sliding(3).foreach { w =>
      if (w.length == 3) {
        val p = w.mkString(">")
        counts(p) = counts.getOrElse(p, 0L) + 1L
      }
    })
    val want = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
    assert(got.toSeq == want, s"paths diverge: got ${got.take(3).toSeq}...")
  }

  test("bloom semi join plan: probe filters the scan BELOW the exact join") {
    val plan = Relational.bloomSemiJoin(spark, sf)
      .queryExecution.executedPlan.toString
    // the constant-bloom probe must be a Filter on the fact scan, not
    // a post-join residual — that's the whole shuffle-reduction claim
    assert(plan.contains("might_contain"), s"no bloom probe in plan:\n$plan")
    val probeIdx = plan.indexOf("might_contain")
    val joinIdx = plan.indexOf("LeftSemi")
    assert(joinIdx >= 0, s"no semi join in plan:\n$plan")
    // executedPlan prints top-down: the probe filter must appear AFTER
    // (= physically below) the join operator line
    assert(probeIdx > joinIdx, "bloom probe is not below the semi join")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "BNLJ in bloom join")
  }

  test("outliers: exactly the rows beyond 3 population sigmas per type") {
    val got = graft.operators.Events.outliers(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // driver-side exact recomputation in BigInt arithmetic
    val e = graft.operators.Events.load(spark, sf)
      .select(col("event_id"), col("event_type"),
        (col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
          .cast("long").as("c"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val want = e.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      val n = BigInt(rows.length)
      val s = rows.map(r => BigInt(r._3)).sum
      val ss = rows.map(r => BigInt(r._3) * BigInt(r._3)).sum
      rows.filter { r =>
        val dev = n * BigInt(r._3) - s
        dev * dev > 9 * (n * ss - s * s)
      }
    }.sortBy(_._1)
    assert(got.toSeq == want, s"got ${got.length} outliers, want ${want.length}")
    assert(got.nonEmpty, "no outliers at this SF: assertion vacuous")
  }

  test("sq codes: floor property against the trained grid, full coverage") {
    val e = Tables.load(spark, sf, "embeddings")
    val (lo, step) = Similarity.sqGrid(e)
    assert(lo.length == 64 && step.forall(_ >= 1L))
    val iv = e.select(col("vec_id"),
        graft.functions.ArrayOps.quantize_q(col("embedding"), Similarity.Q))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val codes = Similarity.sqCodes(spark, sf).collect()
    assert(codes.length == iv.size * 64, "one code per (vec, dim)")
    for (r <- codes) {
      val (id, d, c) = (r.getLong(0), r.getLong(1).toInt, r.getLong(2))
      assert(c >= 0 && c <= 255, s"code $c out of byte range")
      val v = iv(id)(d)
      // floor quantization: code c ⇔ v ∈ [lo + c·step, lo + (c+1)·step),
      // except at the clamped top cell
      assert(v >= lo(d) + c * step(d), s"vec $id dim $d: $v below cell $c")
      if (c < 255)
        assert(v < lo(d) + (c + 1) * step(d), s"vec $id dim $d: $v above cell $c")
    }
  }

  test("audioized payloads are real RIFF/WAVE containers with the declared format") {
    val rows = graft.operators.Multimodal.audioized(spark, sf)
      .limit(20).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val bytes = r.getAs[Array[Byte]](1)
      assert(new String(bytes.slice(0, 4), "US-ASCII") == "RIFF" &&
        new String(bytes.slice(8, 12), "US-ASCII") == "WAVE",
        s"doc ${r.getLong(0)}: not a RIFF/WAVE container")
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val f = ais.getFormat
      assert(f.getSampleSizeInBits == 16 && f.getChannels == 1 &&
        !f.isBigEndian && f.getSampleRate == 8000f,
        s"doc ${r.getLong(0)}: unexpected format $f")
      // frame count round-trips the synthesis parameter n
      val n = 512 + (r.getLong(0) % 7) * 64
      assert(ais.getFrameLength == n,
        s"doc ${r.getLong(0)}: ${ais.getFrameLength} frames, want $n")
    }
  }

  test("approx percentiles: verdict flags green and the GK bound re-derives") {
    // the q_approx_percentiles row is now a driver-checkable VERDICT:
    // (n, tol, four within-rank-bound flags). Pin the verdict shape,
    // then INDEPENDENTLY re-derive the same GK rank bound from a raw
    // percentile_approx call against the sorted fixture, so the
    // in-query check and this spec can't share a bug.
    val li = Tables.load(spark, sf, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice"))
      .collect().groupBy(_.getString(0))
    val verdict = Relational.approxPercentiles(spark, sf).collect()
    assert(verdict.length == li.size && verdict.nonEmpty)
    for (r <- verdict) {
      val n = li(r.getString(0)).length
      assert(r.getLong(1) == n, s"${r.getString(0)} n")
      assert(r.getLong(2) == n / 10000 + 1, s"${r.getString(0)} tol")
      (3 to 6).foreach(i =>
        assert(r.getLong(i) == 1L, s"${r.getString(0)} flag $i"))
    }
    val raw = Tables.load(spark, sf, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(expr("percentile_approx(l_quantity, 0.5, 10000)").as("v50"),
        expr("percentile_approx(l_quantity, 0.25, 10000)").as("v25"),
        expr("percentile_approx(l_quantity, 0.75, 10000)").as("v75"),
        expr("percentile_approx(l_extendedprice, 0.9, 10000)").as("v90"))
      .collect()
    for (r <- raw) {
      val rows = li(r.getString(0))
      val qty = rows.map(_.getDouble(1)).sorted
      val price = rows.map(_.getDouble(2)).sorted
      val n = qty.length
      val tol = math.max(1, n / 10000)
      def check(v: Double, sortedCol: Array[Double], p: Double): Unit = {
        assert(sortedCol.contains(v), s"sketch value $v not a data value")
        // GK bound on 1-BASED ranks: some occurrence of v lies within
        // tol of ceil(p*n)
        val lo = sortedCol.indexOf(v) + 1
        val hi = sortedCol.lastIndexOf(v) + 1
        val target = math.ceil(p * n)
        assert(lo - tol <= target && target <= hi + tol,
          s"1-based rank of $v ([$lo,$hi]) not within $tol of $target (n=$n)")
      }
      check(r.getDouble(1), qty, 0.5)
      check(r.getDouble(2), qty, 0.25)
      check(r.getDouble(3), qty, 0.75)
      check(r.getDouble(4), price, 0.9)
    }
  }

  test("approx distinct: verdict flags green and HLL within 5% re-derives") {
    val verdict = Relational.approxDistinct(spark, sf).collect()
    val exact = Tables.load(spark, sf, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("o"),
        countDistinct(col("l_partkey")).as("p"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(verdict.length == exact.size && verdict.nonEmpty)
    for (r <- verdict) {
      val (o, p) = exact(r.getString(0))
      assert(r.getLong(1) == o && r.getLong(2) == p, s"${r.getString(0)} exact")
      assert(r.getLong(3) == 1L && r.getLong(4) == 1L, s"${r.getString(0)} flags")
    }
  }

  test("entity resolution: dirty twins link to their originals, decoys stay singletons") {
    val rows = Linkage.entityResolution(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val nCust = Tables.load(spark, sf, "customer").count()
    // seeded record census: every original, one dirty twin per k%7==0,
    // one decoy per k%13==0
    val byKind = rows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val cust = Tables.load(spark, sf, "customer")
    assert(byKind("orig") == nCust)
    assert(byKind("dirty") ==
      cust.filter(col("c_custkey") % Linkage.DirtyMod === 0).count())
    assert(byKind("decoy") ==
      cust.filter(col("c_custkey") % Linkage.DecoyMod === 0).count())
    val cluster = rows.map(r => r._1 -> r._3).toMap
    // RECALL side: every dirty twin resolves into the SAME cluster as
    // the original it was derived from (edit distance 1, same block)
    rows.filter(_._2 == "dirty").foreach { case (id, _, cid, size) =>
      assert(cid == cluster(id - Linkage.DirtyOffset),
        s"dirty $id not linked to its original")
      assert(size >= 2L, s"dirty $id cluster size $size")
    }
    // PRECISION side: every reversed-name decoy shares a block with its
    // original but fails the levenshtein gate — must stay a singleton
    // labeled by its own id (pins the gate against an always-link bug)
    rows.filter(_._2 == "decoy").foreach { case (id, _, cid, size) =>
      assert(cid == id && size == 1L, s"decoy $id merged (cid=$cid sz=$size)")
    }
    // cluster_size is the census of cluster_id
    val census = rows.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    rows.foreach { case (id, _, cid, size) =>
      assert(size == census(cid), s"record $id size") }
  }

  test("delta IVF assigns exactly the delta slice into frozen in-range cells") {
    val rows = Similarity.deltaIvfAssign(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val e = Tables.load(spark, sf, "embeddings")
    val w = e.agg(floor((max(col("vec_id")) + 1) * 0.8).cast("long"))
      .head().getLong(0)
    val deltaIds = e.filter(col("vec_id") >= w)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // complete coverage of the delivery, nothing from the indexed side
    assert(rows.map(_._1).toSet == deltaIds && rows.length == deltaIds.size)
    // every assignment lands in a frozen cell id
    rows.foreach { case (id, c) =>
      assert(c >= 0L && c < Similarity.IvfCells.toLong, s"vec $id cell $c") }
    // non-degenerate: the delivery spreads over multiple cells (a
    // one-cell pileup is the drift alarm, not healthy assignment)
    assert(rows.map(_._2).distinct.length > 1)
  }

  test("IVF-fed labelKnn and triplets: bucketed plans, candidate-subset consistency with exact twins") {
    // the scale variants ride the cell-equality candidate join — never
    // a cross join (the exact twins' guarded broadcast kernel is the
    // thing they exist to replace)
    val knnIvf = Similarity.labelKnnIvf(spark, sf)
    val triIvf = Similarity.tripletMineIvf(spark, sf)
    for (df <- Seq(knnIvf, triIvf)) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), plan.take(2000))
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    }
    // vote shape: one prediction per covered query, correct iff equal
    val kRows = knnIvf.collect()
    assert(kRows.nonEmpty)
    assert(kRows.map(_.getLong(0)).distinct.length == kRows.length)
    kRows.foreach { r =>
      assert(r.getLong(3) == (if (r.getLong(1) == r.getLong(2)) 1L else 0L)) }
    // triplet selection is over a SUBSET of the exact candidate set,
    // so each IVF pos/neg cosine is <= the exact twin's for the same
    // anchor (the exact arg-max ranges over strictly more candidates)
    val exact = Similarity.tripletMine(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getDouble(2), r.getDouble(4))).toMap
    val tRows = triIvf.collect()
    assert(tRows.nonEmpty)
    tRows.foreach { r =>
      val (pc, nc) = (r.getDouble(2), r.getDouble(4))
      assert(r.getDouble(5) == pc - nc, "margin consistency")
      exact.get(r.getLong(0)).foreach { case (ep, en) =>
        assert(pc <= ep + 1e-12, s"anchor ${r.getLong(0)} pos above exact")
        assert(nc <= en + 1e-12, s"anchor ${r.getLong(0)} neg above exact")
      }
    }
  }

  test("dup-rate-by-source detects seeded within-source and cross-source duplication") {
    import spark.implicits._
    // known structure: srcA = 3 docs, one within-dup pair; srcB = 2
    // docs, one mirroring an srcA text (cross-source); srcC clean
    val docs = Seq(
      ("srcA", "alpha beta"), ("srcA", "alpha beta"), ("srcA", "gamma"),
      ("srcB", "gamma"), ("srcB", "delta"),
      ("srcC", "epsilon")
    ).toDF("source", "text")
    val got = Dedup.dupRateFrom(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    // srcA: 3 docs, 2 unique, 1 within-dup (3333 bp), 1 shared fp (gamma)
    assert(got("srcA") == ((3L, 2L, 1L, 3333L, 1L)), got("srcA"))
    // srcB: clean within itself but shares gamma with srcA
    assert(got("srcB") == ((2L, 2L, 0L, 0L, 1L)), got("srcB"))
    // srcC: fully clean — zero row proves no false positives
    assert(got("srcC") == ((1L, 1L, 0L, 0L, 0L)), got("srcC"))
    // and the fixture-scale operator still runs end to end
    assert(Dedup.dupRateBySource(spark, sf).count() > 0)
  }

  test("partitioning invariance: value-exact outputs are bit-identical under a different shuffle layout") {
    // the one thing guaranteed to change on a 1000-executor cluster is
    // the shuffle layout — re-run the float-bearing flagships under a
    // different partition count (cache cleared so nothing reuses the
    // old layout) and demand bit equality, the receipt behind the
    // repo-wide decimal-sum / fixed-shape-IEEE / integer-basis rules
    val qs = Seq("q_dataset_card", "q_regression", "q_pagerank",
      "q_quality_gate", "q_prototypicality", "q_learning_curve",
      // r12 additions: the iterative peel, the sketch grid, the
      // codegen fingerprint map, and the drift shares all claim
      // layout-independence — demand the receipt
      "q_kcore", "q_cms_heavy_hitters", "q_winnow_overlap",
      "q_text_drift", "q_stratified_kfold",
      // r13 additions: the LPA fixpoint, the seeded-flood purge, the
      // coverage union, the decoded cut chain, and the VAD islands
      // all claim layout-independence — demand the receipt
      "q_lpa_communities", "q_winnow_skew", "q_dup_ngram_frac",
      "q_scene_cuts_decoded", "q_keyframes", "q_audio_vad",
      // r14 additions: the anchored extension + island merge, the
      // scrub reassembly fingerprint, the LSH-fed matrix, the
      // artifact-served search and classifier, the trainer-replay
      // tokenizer, the production curate path, and the keyframe
      // fingerprint grouping all claim layout-independence
      "q_substr_dedup", "q_substr_scrub", "q_dup_matrix_lsh",
      "q_ann_ivf_saved", "q_nb_classify_saved", "q_unigram_train",
      "q_unigram_encode", "q_curate_v2_approx", "q_video_neardup",
      "q_gopher_rules",
      // r15 additions: the LSH-fed sweep curve, the artifact-served
      // tokenizer encodes, and the three knob/triage curves all claim
      // layout-independence — demand the receipt
      "q_dedup_sweep_lsh", "q_bpe_encode_saved", "q_unigram_encode_saved",
      "q_quality_sweep", "q_bpe_curve", "q_dup_methods", "q_ivf_sweep",
      "q_backoff_score", "q_backoff_score_saved", "q_gopher_by_source",
      // r16 additions: the LSH-fed triage swap and the composed v3
      // stack (bucketed-rank quartile + LSH survivor + mixture) claim
      // layout-independence — demand the receipt
      "q_dup_methods_lsh", "q_curate_v3", "q_curate_v3_funnel",
      "q_curate_v3_by_source", "q_token_mixture", "q_lm_gate",
      "q_containment_prefix",
      // r17 additions: the two knob curves (rank-cut, temperature),
      // the per-feed gate census, the artifact-served overlap, and
      // the cluster-size census all claim layout-independence —
      // demand the receipt
      "q_curate_v3_sweep", "q_temperature_sweep", "q_lm_gate_by_source",
      "q_winnow_overlap_saved", "q_cluster_sizes")
    def snap(): Map[String, Seq[Seq[Any]]] = {
      spark.catalog.clearCache()
      qs.map(q => q ->
        SparkEntry.queries(q)(spark, sf).collect().map(_.toSeq.toList).toSeq
      ).toMap
    }
    val base = snap()
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try {
      val relaid = snap()
      qs.foreach { q =>
        assert(relaid(q) == base(q), s"$q drifted under repartitioning")
        assert(base(q).nonEmpty, s"$q empty")
      }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", "4")
      spark.catalog.clearCache()
    }
  }

  test("learning curve: nested fractions grow monotonically and the 100% point IS the full model") {
    val rows = Text.nbLearningCurve(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(25L, 50L, 75L, 100L))
    val docs = rows.map(_.getLong(1))
    val toks = rows.map(_.getLong(2))
    val vocab = rows.map(_.getLong(3))
    // nested prefixes: strictly more docs/tokens, never less vocabulary
    assert(docs.zip(docs.tail).forall { case (a, b) => a < b }, docs.toSeq)
    assert(toks.zip(toks.tail).forall { case (a, b) => a < b }, toks.toSeq)
    assert(vocab.zip(vocab.tail).forall { case (a, b) => a <= b }, vocab.toSeq)
    // every model scores the same holdout
    val holdout = Tables.load(spark, sf, "documents")
      .filter(expr(Text.NbHoldoutExpr)).count()
    rows.foreach(r => assert(r.getLong(4) == holdout))
    // the 100% curve point and q_nb_classify are the SAME model — the
    // cumulative-counts dimension form must collapse to the plain
    // trainer at full fraction
    val full = Text.nbClassify(spark, sf)
      .agg(sum(col("is_correct"))).head().getLong(0)
    assert(rows.last.getLong(5) == full,
      s"100% point ${rows.last.getLong(5)} != full model $full")
    // the 100% train stats must equal the full split's
    val trainDocs = Tables.load(spark, sf, "documents")
      .filter(expr(Text.NbTrainExpr)).count()
    assert(rows.last.getLong(1) == trainDocs)
  }

  test("linkage block-skew guard: oversized blocks purge cleanly, generous cap is a no-op") {
    val uncapped = Linkage.entityResolution(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    // a cap no block reaches must not change a single assignment
    val generous = Linkage.entityResolution(spark, sf, cap = 1000).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(generous == uncapped)
    // cap=1 purges every multi-record block: no edges survive, every
    // record is its own singleton cluster
    val purgedAll = Linkage.entityResolution(spark, sf, cap = 1).collect()
    purgedAll.foreach { r =>
      assert(r.getLong(2) == r.getLong(0) && r.getLong(3) == 1L,
        s"record ${r.getLong(0)} linked under cap=1") }
    assert(purgedAll.length == uncapped.length) // purge drops edges, never records
    // cap=2: links may only survive inside blocks of total size <= 2
    val blockSize = Linkage.records(spark, sf).collect()
      .groupBy(r => (r.getLong(2), r.getLong(3)))
      .map { case (k, v) => k -> v.length }
    val byId = Linkage.records(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    val capped2 = Linkage.entityResolution(spark, sf, cap = 2).collect()
    capped2.filter(_.getLong(3) >= 2L).foreach { r =>
      assert(blockSize(byId(r.getLong(0))) <= 2,
        s"record ${r.getLong(0)} linked from an oversized block under cap=2") }
  }

  test("triangles: degree-ordered census equals a brute-force recount, cc formula exact") {
    val rows = Graph.triangles(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // brute-force reference: rebuild the weighted co-occurrence edge
    // set and count triangles by set intersection — independent of
    // the orientation trick under test
    val so = Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_suppkey").cast("long").as("s"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val perOrder = so.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val w = scala.collection.mutable.Map.empty[(Long, Long), Int]
    perOrder.values.foreach { ss =>
      for (i <- ss.indices; j <- (i + 1) until ss.length)
        w((ss(i), ss(j))) = w.getOrElse((ss(i), ss(j)), 0) + 1
    }
    // NB: iterator first — Map.collect with a pair result rebuilds a
    // Map and silently dedups edges sharing a lower endpoint
    val edges = w.iterator.collect {
      case (e, n) if n >= Graph.TriMinCoOrders => e }.toSet
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    edges.foreach { case (a, b) =>
      adj(a) = adj(a) + b; adj(b) = adj(b) + a }
    val triOf = adj.keys.map { v =>
      v -> adj(v).toSeq.combinations(2)
        .count { case Seq(x, y) =>
          edges((math.min(x, y), math.max(x, y))) }
    }.toMap
    assert(rows.map(_._1).toSet == adj.keySet, "node set drifted")
    rows.foreach { case (v, deg, tri, cc) =>
      assert(deg == adj(v).size.toLong, s"supplier $v degree")
      assert(tri == triOf(v).toLong, s"supplier $v triangles")
      val expectCc =
        if (deg >= 2) tri * 2000000L / (deg * (deg - 1)) else 0L
      assert(cc == expectCc, s"supplier $v cc")
    }
    // the census is non-degenerate: some triangle exists at sf0.001
    assert(rows.exists(_._3 > 0), "no triangles in fixture")
  }

  test("kcore: fixed-round peel matches a brute-force fixpoint peel, kernel verified on a crafted graph") {
    // (a) crafted graph with known core: a 4-clique (every node degree
    // 3 = K, mutually supporting) with a pendant 2-chain off node 4 —
    // the chain peels in two rounds, the clique survives exactly
    val crafted = spark.createDataFrame(Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), // clique
      (4L, 5L), (5L, 6L)                                          // chain
    )).toDF("a", "b")
    val kern = Graph.kcoreFrom(crafted, Graph.KcoreK, Graph.KcoreRounds)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(kern == Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (4L, 1L, 3L), (5L, 0L, 0L), (6L, 0L, 0L)),
      s"crafted-graph core drifted: $kern")
    // (b) fixture: brute-force FIXPOINT peel (unbounded rounds) on the
    // part co-purchase edges — independent of the unrolling under test
    val rows = Graph.kcore(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val po = Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").cast("long").as("p"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val perOrder = po.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val w = scala.collection.mutable.Map.empty[(Long, Long), Int]
    perOrder.values.foreach { ss =>
      for (i <- ss.indices; j <- (i + 1) until ss.length)
        w((ss(i), ss(j))) = w.getOrElse((ss(i), ss(j)), 0) + 1
    }
    val edges0 = w.iterator.collect {
      case (e, n) if n >= Graph.TriMinCoOrders => e }.toSet
    val allNodes = edges0.flatMap { case (a, b) => Seq(a, b) }
    var edges = edges0
    var roundsToFix = 0
    var changed = true
    while (changed) {
      val deg = edges.toSeq.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).view.mapValues(_.size).toMap
      val alive = deg.filter(_._2 >= Graph.KcoreK).keySet
      val next = edges.filter { case (a, b) => alive(a) && alive(b) }
      changed = next != edges
      if (changed) roundsToFix += 1
      edges = next
    }
    // the unrolled round count covers the fixture's true peel depth —
    // an undersized KcoreRounds cannot ship silently
    assert(roundsToFix < Graph.KcoreRounds,
      s"peel needs $roundsToFix rounds, KcoreRounds=${Graph.KcoreRounds} leaves no slack")
    val coreDeg = edges.toSeq.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(rows.map(_._1).toSet == allNodes, "node set drifted")
    rows.foreach { case (v, inCore, cd) =>
      assert(inCore == (if (coreDeg.contains(v)) 1L else 0L), s"part $v membership")
      assert(cd == coreDeg.getOrElse(v, 0L), s"part $v core degree")
    }
  }

  test("lpa: kernel resolves a crafted two-clique bridge, fixture matches a brute-force sync replay") {
    // (a) crafted graph with known communities: two 4-cliques joined
    // by one bridge edge — deterministic sync LPA must settle each
    // clique on its minimum id and never bleed across the bridge
    val crafted = spark.createDataFrame(Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (11L, 12L), (11L, 13L), (11L, 14L), (12L, 13L), (12L, 14L),
      (13L, 14L),
      (4L, 11L) // bridge
    )).toDF("a", "b")
    val kern = Graph.lpaFrom(crafted, Graph.LpaRounds)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(kern == Set((1L, 1L, 4L), (2L, 1L, 4L), (3L, 1L, 4L),
      (4L, 1L, 4L), (11L, 11L, 4L), (12L, 11L, 4L), (13L, 11L, 4L),
      (14L, 11L, 4L)),
      s"crafted-graph communities drifted: $kern")
    // (b) fixture: brute-force synchronous SELF-INCLUSIVE replay with
    // the same (count DESC, label ASC) rule — independent of the
    // DataFrame join/agg construction under test
    val rows = Graph.lpaCommunities(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    val po = Tables.load(spark, sf, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").cast("long").as("p"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val perOrder = po.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val w = scala.collection.mutable.Map.empty[(Long, Long), Int]
    perOrder.values.foreach { ss =>
      for (i <- ss.indices; j <- (i + 1) until ss.length)
        w((ss(i), ss(j))) = w.getOrElse((ss(i), ss(j)), 0) + 1
    }
    val edges = w.iterator.collect {
      case (e, n) if n >= Graph.TriMinCoOrders => e }.toSet
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    edges.foreach { case (a, b) => adj(a) = adj(a) + b; adj(b) = adj(b) + a }
    var labels = adj.keys.map(v => v -> v).toMap
    (1 to Graph.LpaRounds).foreach { _ =>
      labels = adj.keys.map { v =>
        val census = (adj(v).toSeq.map(labels) :+ labels(v))
          .groupBy(identity).view.mapValues(_.size).toMap
        v -> census.toSeq.minBy { case (l, c) => (-c, l) }._1
      }.toMap
    }
    val sizes = labels.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(rows.map(_._1).toSet == adj.keySet, "node set drifted")
    rows.foreach { case (v, community, size) =>
      assert(community == labels(v), s"part $v community")
      assert(size == sizes(labels(v)), s"part $v community size")
    }
    // non-degeneracy lives in the crafted graph above (two
    // communities, bridge uncrossed): the sf0.001 co-purchase graph is
    // a single dense component (measured 200 nodes / 2324 edges) that
    // correctly floods to ONE label, while the driver-gate fixture
    // (sf0.01, 1880 nodes / 3445 edges) resolves to 355 communities,
    // largest 40 — both are faithful LPA outcomes, so the fixture
    // assertion here is engine == brute-force replay + a real cluster
    assert(sizes.values.max > 1, "no community larger than a singleton")
  }

  test("hash embed: duplicates collide exactly, near-dup gate is the integer cosine") {
    val emb = FeatureHash.hashEmbed(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byDoc = emb.groupBy(_._1).view
      .mapValues(_.map(t => t._2 -> t._3).toMap).toMap
    // pure function of the bag of words: recompute three documents'
    // embeddings by hand (java MD5, same dim/sign derivation) and
    // demand bit equality with the Spark side
    val texts = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    texts.take(3).foreach { case (id, t) =>
      val tf = "[a-z]+".r.findAllIn(t.toLowerCase).toSeq
        .groupBy(identity).view.mapValues(_.length.toLong).toMap
      val expect = tf.toSeq.map { case (w, n) =>
        val h = md5hex(w)
        val dim = java.lang.Long.parseLong(h.substring(0, 8), 16) %
          FeatureHash.HashDims
        val sign = if (java.lang.Long.parseLong(h.substring(8, 9), 16)
          % 2 == 0) 1L else -1L
        dim -> sign * n
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      assert(byDoc(id) == expect, s"doc $id embedding drifted")
    }
    // |val| per doc is bounded by the doc's token count
    val toks = texts.map { case (id, t) =>
      id -> "[a-z]+".r.findAllIn(t.toLowerCase).length }.toMap
    byDoc.foreach { case (id, dims) =>
      assert(dims.values.map(math.abs).sum <= toks(id).toLong, s"doc $id mass") }
    // the near-dup screen: every verdict satisfies the integer gate,
    // and the fixture's seeded near-dups surface (some pair at
    // cos ≥ 0.99: 10000·dot² ≥ 9801·n2a·n2b)
    val nd = FeatureHash.hashEmbedNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(nd.nonEmpty)
    assert(nd.exists { case (_, _, dot, na, nb) =>
      dot * dot * 10000 >= na * nb * 9801 }, "no near-identical pair found")
    def n2(id: Long): Long = byDoc(id).values.map(v => v * v).sum
    nd.foreach { case (a, b, dot, na, nb) =>
      assert(na == n2(a) && nb == n2(b), s"pair ($a,$b) norms")
      val expectDot = byDoc(a).map { case (d, v) =>
        v * byDoc(b).getOrElse(d, 0L) }.sum
      assert(dot == expectDot, s"pair ($a,$b) dot")
      assert(dot > 0 &&
        dot * dot * (FeatureHash.CosDen * FeatureHash.CosDen) >=
          na * nb * (FeatureHash.CosNum * FeatureHash.CosNum),
        s"pair ($a,$b) fails its own gate")
    }
  }

  test("ppl buckets: two-phase per-source rank reproduces the single-window terciles") {
    val rows = Text.pplBuckets(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(rows.nonEmpty)
    // reference: direct per-source sort + integer tercile on the same
    // scores — what a single ROW_NUMBER window would produce
    rows.groupBy(_._2).foreach { case (src, docs) =>
      val ns = docs.length.toLong
      val ordered = docs.sortBy(d => (d._3, d._1))
      ordered.zipWithIndex.foreach { case ((id, _, _, bucket), i) =>
        val expect = (3L * i / ns).toInt match {
          case 0 => "head"; case 1 => "middle"; case _ => "tail" }
        assert(bucket == expect, s"$src doc $id rank $i: $bucket != $expect")
      }
      // terciles are relative WITHIN source: every source has a head
      assert(docs.exists(_._4 == "head"), s"$src has no head")
    }
    // coverage: exactly the >=2-token docs (bigram-scoreable)
    val scoreable = Tables.load(spark, sf, "documents")
      .filter(size(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")) >= 2)
      .count()
    assert(rows.length.toLong == scoreable)
  }

  test("ngram diversity: per-source distinct ratios equal a brute-force recount") {
    val rows = Corpus.ngramDiversity(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val texts = Tables.load(spark, sf, "documents")
      .select(col("source"), col("text")).collect()
      .map(r => r.getString(0) -> r.getString(1))
    val bySrc = texts.groupBy(_._1).view.mapValues(_.map(t =>
      "[a-z]+".r.findAllIn(t._2.toLowerCase).toSeq)).toMap
    bySrc.foreach { case (src, docs) =>
      for (n <- 1 to 3) {
        val grams = docs.flatMap(t => t.sliding(n).filter(_.length == n)
          .map(_.mkString(" ")))
        val (tot, dis) = (grams.length.toLong, grams.distinct.length.toLong)
        assert(rows((src, n.toLong)) == ((tot, dis, dis * 1000000L / tot)),
          s"$src $n-grams")
      }
    }
    // every (source, n) cell is covered — no silent drop of a short doc
    assert(rows.size == bySrc.size * 3)
  }

  test("linkage skew fixture: the degenerate block dominates pair mass and the cap removes exactly it") {
    // the Σ block² MEASUREMENT behind SCALING.md's purge-cap claim:
    // census the seeded-skew record set, compute candidate-pair mass
    // n·(n−1)/2 per block, and verify (a) the placeholder block holds
    // the majority of all pair mass despite holding ~10% of records,
    // (b) purging blocks over a cap removes exactly the over-cap mass
    val census = Linkage.skewRecords(spark, sf).collect()
      .groupBy(r => (r.getLong(2), r.getLong(3)))
      .map { case (k, v) => k -> v.length.toLong }
    def mass(n: Long): Long = n * (n - 1) / 2
    val degKey = (Linkage.SkewNat, Linkage.SkewBal)
    val total = census.values.map(mass).sum
    val degN = census(degKey)
    val nRecs = census.values.sum
    assert(degN * 10 <= nRecs * 2, s"fixture drifted: $degN of $nRecs")
    assert(mass(degN) * 2 > total,
      s"degenerate block mass ${mass(degN)} not dominant in $total")
    // a cap below the degenerate block size: surviving pair mass must
    // equal the sum over under-cap blocks — the bound is cap²-shaped
    // per block, independent of the degenerate block's size
    val cap = 10
    val surviving = census.filter(_._2 <= cap).values.map(mass).sum
    assert(surviving == total - census.filter(_._2 > cap).values.map(mass).sum)
    assert(census.filter(_._2 > cap).keySet == Set(degKey),
      "only the seeded block should exceed the spec cap at sf0.001")
    // semantic side under that cap: purged-block members resolve as
    // singletons; a dirty twin OUTSIDE the degenerate block still links
    val recs = Linkage.skewRecords(spark, sf)
    val resolved = Linkage.resolve(recs,
      Linkage.matchedPairs(recs, recs, cap = cap)).collect()
    val degIds = Linkage.skewRecords(spark, sf).collect()
      .filter(r => (r.getLong(2), r.getLong(3)) == degKey)
      .map(_.getLong(0)).toSet
    resolved.filter(r => degIds(r.getLong(0))).foreach { r =>
      assert(r.getLong(2) == r.getLong(0) && r.getLong(3) == 1L,
        s"purged-block record ${r.getLong(0)} linked") }
    val cid = resolved.map(r => r.getLong(0) -> r.getLong(2)).toMap
    val linkedDirty = resolved.filter(r =>
      r.getString(1) == "dirty" && !degIds(r.getLong(0)))
    assert(linkedDirty.nonEmpty)
    linkedDirty.foreach { r =>
      assert(r.getLong(2) == cid(r.getLong(0) - Linkage.DirtyOffset) &&
        r.getLong(3) >= 2L,
        s"clean-block dirty ${r.getLong(0)} failed to link") }
    // and the WIRED query (SkewCap armed internally) runs end to end
    // with every record present exactly once
    val wired = Linkage.entityResolutionSkew(spark, sf).collect()
    assert(wired.length == nRecs)
    assert(wired.map(_.getLong(0)).distinct.length == wired.length)
  }
}
