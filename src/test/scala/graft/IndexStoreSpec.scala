package graft

import graft.operators.{IndexStore, Similarity, Text}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persist-and-serve contract for trained index/model artifacts:
  * save → (simulated fresh session: trainer memos dropped) → load →
  * the loaded artifact is bit-identical to the trained one and a
  * query served from it equals train-in-place row-for-row.
  */
class IndexStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf

  test("IVF centroids: save -> drop memo -> load is bit-identical; served query matches train-in-place") {
    val trained = Similarity.centroidsFor(spark, sf)
    val inPlace = Similarity.annIvf(spark, sf).collect()
      .map(_.toSeq.toList).toSeq

    val root = TempDirs.create("graft-ivfstore-spec")
    val v = IndexStore.saveIvf(spark, sf, root)
    // fresh-session simulation: nothing may flow from training to
    // serving except the artifact bytes
    CachePool.clear()
    val loaded = IndexStore.loadIvfCentroids(spark, root, Some(v))
    assert(loaded == trained, "centroid round-trip not bit-identical")

    CachePool.clear()
    val served = Similarity.annIvfSaved(spark, sf).collect()
      .map(_.toSeq.toList).toSeq
    assert(served.nonEmpty && served == inPlace,
      "query served from the loaded artifact diverged from train-in-place")
  }

  test("IVF artifact versions are immutable: a retrain publishes v+1, the pinned v1 still serves the old index") {
    val root = TempDirs.create("graft-ivfstore-versions")
    val v1 = IndexStore.saveIvf(spark, sf, root)
    val first = IndexStore.loadIvfCentroids(spark, root, Some(v1))
    val v2 = IndexStore.saveIvf(spark, sf, root)
    assert(v2 == v1 + 1, s"versions not monotone: $v1 -> $v2")
    // same corpus → same deterministic trainer → same artifact; the
    // pin proves the LEDGER resolves, immutability proves the bytes
    assert(IndexStore.loadIvfCentroids(spark, root, Some(v1)) == first)
    assert(IndexStore.loadIvfCentroids(spark, root, None) == first,
      "latest-version resolution diverged")
  }

  test("PQ codebooks and SQ grid round-trip bit-identically through the store") {
    val books = Similarity.pqCodebooksFor(spark, sf)
    val rootPq = TempDirs.create("graft-pqstore-spec")
    val vPq = IndexStore.savePq(spark, sf, rootPq)
    CachePool.clear()
    assert(IndexStore.loadPqCodebooks(spark, rootPq, Some(vPq)) == books,
      "PQ codebook round-trip not bit-identical")

    val grid = Similarity.sqGridFor(spark, sf)
    val rootSq = TempDirs.create("graft-sqstore-spec")
    val vSq = IndexStore.saveSq(spark, sf, rootSq)
    CachePool.clear()
    assert(IndexStore.loadSqGrid(spark, rootSq, Some(vSq)) == grid,
      "SQ grid round-trip not bit-identical")
  }

  test("NB model: holdout scored against the loaded artifact equals the in-place classifier") {
    val root = TempDirs.create("graft-nbstore-spec")
    val v = IndexStore.saveNb(spark, sf, root)
    val (classes, counts) = IndexStore.loadNb(spark, root, Some(v))
    val held = Text.nbTokenized(Tables.load(spark, sf, "documents"))
      .filter(expr(Text.NbHoldoutExpr))
    val served = Text.nbScore(held, classes.persist(), counts.persist())
      .orderBy(col("doc_id")).collect().map(_.toSeq.toList).toSeq
    val inPlace = Text.nbClassify(spark, sf)
      .collect().map(_.toSeq.toList).toSeq
    assert(served.nonEmpty && served == inPlace,
      "scoring from the loaded NB artifact diverged")
  }

  test("BPE merge table: save -> load is bit-identical in rank order; encode from the loaded artifact equals train-in-place") {
    import graft.operators.Corpus
    val trained = Corpus.bpeMerges(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    val root = TempDirs.create("graft-bpestore-spec")
    val v = IndexStore.saveBpe(spark, sf, root)
    val loaded = IndexStore.loadBpeMerges(spark, root, Some(v))
    assert(loaded.toSeq == trained.map(m => (m._2, m._3)),
      "merge-pair round-trip not bit-identical / order-preserving")
    val served = Corpus.bpeEncodeSaved(spark, sf).collect()
      .map(_.toSeq.toList).toSeq
    val inPlace = Corpus.bpeEncode(spark, sf).collect()
      .map(_.toSeq.toList).toSeq
    assert(served.nonEmpty && served == inPlace,
      "encode from the loaded BPE artifact diverged from train-in-place")
  }

  test("minhash signatures: index round-trips; LSH served from the loaded artifact equals the inline pipeline") {
    import graft.operators.Dedup
    val root = TempDirs.create("graft-minhashstore-spec")
    val v = IndexStore.saveMinhash(spark, sf, root)
    val loaded = IndexStore.loadMinhash(spark, root, Some(v))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toMap
    val inline = Dedup.minhashSignature(Dedup.shingledCached(spark, sf))
      .select(col("doc_id"), col("minhash"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toList)).toMap
    assert(loaded == inline, "signature round-trip not bit-identical")
    val served = Dedup.minhashLshSaved(spark, sf).collect()
      .map(_.toSeq.toList).toSeq
    val inPlace = Dedup.minhashLsh(spark, sf).collect()
      .map(_.toSeq.toList).toSeq
    assert(served.nonEmpty && served == inPlace,
      "LSH from the loaded signature index diverged")
  }

  test("backoff LM: count tables round-trip; scoring from the loaded artifact equals train-in-place") {
    import graft.operators.Text
    val root = TempDirs.create("graft-backoffstore-spec")
    val v = IndexStore.saveBackoffLm(spark, sf, root)
    val (tri, bigr, uni) = IndexStore.loadBackoffLm(spark, root, Some(v))
    val (tri0, bigr0, uni0) = Text.backoffModel(spark, sf)
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.toList).toSet
    assert(rowsOf(tri) == rowsOf(tri0) && rowsOf(bigr) == rowsOf(bigr0) &&
      rowsOf(uni) == rowsOf(uni0), "count-table round-trip drifted")
    val served = Text.backoffScoreSaved(spark, sf).collect()
      .map(_.toSeq.toList).toSeq
    val inPlace = Text.backoffScore(spark, sf).collect()
      .map(_.toSeq.toList).toSeq
    assert(served.nonEmpty && served == inPlace,
      "scoring from the loaded LM artifact diverged from train-in-place")
  }

  test("unigram piece table: save -> load is bit-identical; encode from the loaded artifact equals train-in-place") {
    import graft.operators.Corpus
    val trained = Corpus.unigramTrain(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val root = TempDirs.create("graft-unigramstore-spec")
    val v = IndexStore.saveUnigram(spark, sf, root)
    val loadedBits = IndexStore.loadUnigramBits(spark, root, Some(v))
    assert(loadedBits == trained.map(t => t._1 -> t._3).toMap,
      "piece-cost round-trip not bit-identical")
    val served = Corpus.unigramEncodeSaved(spark, sf).collect()
      .map(_.toSeq.toList).toSeq
    val inPlace = Corpus.unigramEncode(spark, sf).collect()
      .map(_.toSeq.toList).toSeq
    assert(served.nonEmpty && served == inPlace,
      "encode from the loaded unigram artifact diverged from train-in-place")
  }
}
