package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-corpus preparation operators over the `documents` table —
  * the sampling/splitting/packing/statistics layer a large-scale
  * LLM-data pipeline runs after filtering and dedup (complements
  * [[Text]] quality signals and [[Dedup]]).
  *
  * Scale notes (100 TB design points):
  *  - [[splitAssign]] is a narrow map (no shuffle): the split is a pure
  *    function of document CONTENT, so re-sharding, re-partitioning, or
  *    re-running never migrates a document across splits, and byte-equal
  *    duplicates land in the same split (no train/test leakage).
  *  - [[domainCap]] is the skew case by construction (one domain can be
  *    half the corpus); Catalyst's rank-limit pushdown caps every map
  *    partition to k rows per domain before the shuffle, so no reducer
  *    sees more than `k × mapPartitions` rows of one domain.
  *  - [[packChunks]] and every other GLOBAL rank or running sum here
  *    go through [[TwoPhase.prefix]] — a bare `Window.orderBy`
  *    collapses to one partition at scale.
  */
object Corpus {

  private def toks(c: Column): Column = split(lower(c), " ")

  /** Alpha-run words — the tokenizer shared with the oracle
    * (`regexp_extract_all` exists verbatim in both engines). The Column
    * form takes the pattern verbatim — no SQL-literal backslash
    * escaping layer between us and the regex engine. */
  private def words(c: Column): Column =
    regexp_extract_all(lower(c), lit("[a-z]+"), lit(0))

  /** Content-hash bucket in [0,1000): md5 → first 8 hex digits →
    * uniform integer. The single split policy shared by [[splitAssign]]
    * and [[curate]] — one definition so the two can never drift. */
  private def splitBucket: Column =
    expr("cast(conv(substring(md5(text), 1, 8), 16, 10) as bigint) % 1000")

  /** 80/10/10 split label over [[splitBucket]]. */
  private def splitLabel: Column =
    when(splitBucket < 800, lit("train"))
      .when(splitBucket < 900, lit("val"))
      .otherwise(lit("test"))

  /** Deterministic train/val/test assignment by content hash: 80/10/10.
    * The industry-standard leakage-safe split: assignment depends only
    * on the text bytes, never on row order, file layout, or partition
    * count. Pure projection — zero shuffle at any scale.
    */
  def splitAssign(spark: SparkSession, sf: String): DataFrame =
    splitAssignDf(Tables.load(spark, sf, "documents"))
      .orderBy(col("doc_id"))

  /** [[splitAssign]] over any (doc_id, text) frame — batch or
    * STREAMING: the projection is stateless row-wise column algebra,
    * so the same code path assigns splits on a live ingest stream
    * (StreamingSpec proves stream/batch parity). */
  def splitAssignDf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), splitBucket.as("bucket"),
      splitLabel.as("split"))

  /** Per-domain quota: keep the `k` lowest-doc_id documents of each
    * source domain (dataset balancing / domain capping).
    *
    * Skew note: a web corpus's biggest domain can be a double-digit
    * fraction of all rows, but the declarative `row_number() <= k`
    * filter is exactly what Catalyst's rank-limit pushdown
    * (SPARK-37099) optimizes: a partial `WindowGroupLimit` caps every
    * map partition to k rows per domain BEFORE the shuffle, so no
    * reducer sees more than k × mapPartitions rows of one domain. A
    * hand-rolled salted pre-cap achieves the same bound with one extra
    * full shuffle — CorpusSpec pins the optimized plan so a regression
    * to the unbounded form fails loudly.
    */
  def domainCap(spark: SparkSession, sf: String, k: Int = 50): DataFrame = {
    val byDomain = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    Tables.load(spark, sf, "documents")
      .withColumn("rn", row_number().over(byDomain).cast("long"))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("source"), col("rn"))
      .orderBy(col("source"), col("rn"))
  }

  /** Greedy contiguous sequence packing: walk documents in doc_id
    * order, accumulate whitespace-token counts, and assign each doc to
    * training chunk `floor(exclusive_running_tokens / budget)` — the
    * shard layout step before tokenize-and-concat.
    *
    * The running sum is [[TwoPhase.prefix]] over `buckets`
    * deterministic equal-width doc_id ranges (no sampling — the same
    * doc always lands in the same bucket).
    */
  def packChunks(spark: SparkSession, sf: String,
      budget: Int = 512, buckets: Int = 32): DataFrame =
    packChunksDf(
      Tables.load(spark, sf, "documents")
        .select(col("doc_id"),
          size(toks(col("text"))).cast("long").as("n_tokens")),
      budget, buckets)

  /** [[packChunks]] over any (doc_id, n_tokens) frame — split out so
    * the prefix-sum machinery is property-testable on arbitrary
    * token distributions and bucket counts. */
  def packChunksDf(docs: DataFrame, budget: Int, buckets: Int): DataFrame = {
    // bucket width spans the actual ID RANGE, not the row count: with
    // sparse ids (snowflake-style) a count-based width would give
    // nearly every doc its own bucket and collapse the totals side
    // into the single-partition global window this design exists to
    // avoid
    val n = docs.agg(min(col("doc_id")).as("min_id"),
      max(col("doc_id")).as("max_id"))
    val ranged = docs.crossJoin(broadcast(n))
      .withColumn("bucket", expr(
        s"(doc_id - min_id) div " +
          s"cast(ceil((max_id - min_id + 1) / $buckets.0) as bigint)"))
    TwoPhase.prefix(ranged, Nil, Seq("bucket"), Seq(col("doc_id")),
        col("n_tokens"), "cum")
      .select(col("doc_id"), col("n_tokens"),
        expr(s"(cum - n_tokens) div $budget").as("chunk"))
      .orderBy(col("doc_id"))
  }

  /** Top-3 TF-IDF terms per document, ALL-INTEGER scoring so the rank
    * is bit-identical cross-engine: score = tf × ((n_docs × 1000) div
    * document_frequency) — a fixed-point idf with three decimal digits.
    * tf benefits from map-side partial aggregation; the word→df side is
    * vocabulary-sized and broadcast.
    */
  def tfidfTop(spark: SparkSession, sf: String, k: Int = 3): DataFrame = {
    val docs = Tables.load(spark, sf, "documents")
    val w = docs.select(col("doc_id"),
      explode(words(col("text"))).as("word"))
    val tf = w.groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = w.groupBy(col("word"))
      .agg(countDistinct(col("doc_id")).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val rk = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("word"))
    tf.join(broadcast(dfreq), "word").crossJoin(broadcast(n))
      .withColumn("score", expr("tf * ((n_docs * 1000) div df)"))
      .withColumn("rk", row_number().over(rk).cast("long"))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("word"), col("tf"), col("score"), col("rk"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Corpus-wide top-20 word bigrams — the n-gram statistics pass
    * (contamination screens, boilerplate discovery). Explode is linear,
    * the count agg partial-aggregates map-side, and the final top-20 is
    * a TakeOrdered (no global sort shuffle).
    */
  def bigramTop(spark: SparkSession, sf: String, k: Int = 20): DataFrame =
    Tables.load(spark, sf, "documents")
      // codegen'd non-distinct shingle loop — the transform(sequence)
      // HOF form evaluates an interpreted lambda per bigram
      .select(explode(graft.functions.ArrayOps
        .shinglesAll(words(col("text")), 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(k)

  /** Skip-gram pair extraction (Mikolov et al. 2013): the
    * (center, context) co-occurrence counts within a ±`window` token
    * radius that word2vec/GloVe-style embedding trainers consume —
    * strictly wider than [[bigramTop]] (adjacent only) and symmetric
    * by construction (each ordered pair is emitted in both
    * directions, as the training objective sees it). Top-k pairs by
    * count, ties on the pair.
    *
    * Scale shape: one narrow generator pass per offset (window is a
    * tiny constant — the stream is ≤ 2·window× the token count, all
    * map-side), one partial-aggregated groupBy on the pair key, top-k
    * via TakeOrdered. The full (un-limited) aggregate IS the
    * co-occurrence matrix an embedding trainer reads. */
  def skipgrams(spark: SparkSession, sf: String,
      window: Int = 2, k: Int = 30): DataFrame = {
    val d = Tables.load(spark, sf, "documents")
      .select(words(col("text")).as("t"))
    val ordered = (1 to window).map { off =>
      d.filter(size(col("t")) > off)
        .select(explode(expr(
          s"transform(sequence(0, size(t) - 1 - $off)," +
            s" i -> struct(t[i] as c, t[i + $off] as x))")).as("p"))
        .select(col("p.c").as("center"), col("p.x").as("context"))
    }.reduce(_ union _)
    ordered
      .union(ordered.select(col("context").as("center"),
        col("center").as("context")))
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("center"), col("context"))
      .limit(k)
  }

  /** Term search: top-k documents for a bag-of-words query, ranked by
    * integer tf·idf (idf in basis points: N·10⁴ / df, floor). The
    * query-serving shape over an inverted index: the term filter runs
    * BEFORE the per-doc aggregation, so the exploded postings stream is
    * bounded by |query terms| · docs-containing-them, never the corpus
    * token count — on a real deployment the same plan reads a
    * pre-materialized (term, doc, tf) postings table partitioned by
    * term and this operator is its builder + scorer in one. N rides a
    * broadcast scalar; the top-k is TakeOrdered (per-partition heaps),
    * ties broken on doc_id.
    */
  def search(spark: SparkSession, sf: String,
      query: String = "spark join stream window", k: Int = 15): DataFrame = {
    val terms = query.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), words(col("text")).as("ws"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    // <= |docs|x|terms| rows after the term filter -- persisted: the
    // idf derivation and the scoring join both consume it (one corpus
    // tokenization pass, not two)
    val tf = graft.CachePool.swapOne("search-tf",
      docs.select(col("doc_id"), explode(col("ws")).as("w"))
        .filter(col("w").isin(terms: _*))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf")))
    val idf = tf.groupBy(col("w"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .crossJoin(broadcast(n))
      .select(col("w"), expr("(n_docs * 10000) div df").as("idf_bp"))
    tf.join(idf, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("idf_bp")).as("score"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** BM25 ranked retrieval (Robertson-Walker probabilistic ranking;
    * k1=1.2, b=0.75) over the same bag-of-words query as [[search]] —
    * the production lexical ranker tf·idf approximates: term frequency
    * SATURATES (the 50th "spark" is worth less than the 2nd) and long
    * documents are length-normalized against the corpus average, so
    * keyword-stuffed boilerplate stops out-ranking genuinely relevant
    * text.
    *
    * INTEGER-exact cross-engine, no float anywhere: the idf is the
    * ⌊log2⌋+1 bit cost of the Robertson ratio (N+1)/(df+½) with both
    * terms doubled onto integers — `length(bin((2N+2) div (2df+1)))` —
    * and the saturation term tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) is
    * cross-multiplied by 10⁶·total_len into a single integer quotient
    * in basis points. The cross-multiplied operands reach
    * tf·2.2·10¹⁰·total_len — past long at corpus scale, so they run in
    * DECIMAL(38,0) (HUGEINT in the oracle; headroom to total_len
    * ≈ 10²³ tokens), while the quotient itself is ≤ 22 000 and lands
    * back in a long.
    *
    * Scale shape: identical to [[search]] — the term filter runs
    * BEFORE the per-doc aggregation so the postings stream is bounded
    * by |query terms| · matching docs; N and total_len ride one
    * broadcast scalar row; df is |terms| rows broadcast; the top-k is
    * TakeOrdered (per-partition heaps, no global sort). */
  /** BM25 shape parameters in exact milli-units, shared with the
    * oracle SQL (the pageRankOracle pattern): k1 = 1.2, b = 0.75.
    * Retuning either regenerates BOTH sides' coefficients, so the
    * operator and its oracle cannot desynchronize. */
  val Bm25K1m = 1200L
  val Bm25Bm = 750L
  /** Derived integer coefficients: saturation numerator
    * tf·(k1+1)·10⁷·L, denominator tf·10⁶·L + k1(1−b)·L + k1·b·dl·N. */
  private[graft] val Bm25NumCoef = (Bm25K1m + 1000L) * 1000L * 10000L
  private[graft] val Bm25ConstCoef = Bm25K1m * (1000L - Bm25Bm)
  private[graft] val Bm25DlCoef = Bm25K1m * Bm25Bm

  def bm25(spark: SparkSession, sf: String,
      query: String = "spark join stream window", k: Int = 15): DataFrame = {
    val terms = query.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), col("ws"), size(col("ws")).cast("long").as("dl"))
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_len"))
    // pooled for the same two-consumer reason as search()'s tf
    val tf = graft.CachePool.swapOne("bm25-tf",
      docs.select(col("doc_id"), col("dl"), explode(col("ws")).as("w"))
        .filter(col("w").isin(terms: _*))
        .groupBy(col("doc_id"), col("dl"), col("w"))
        .agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy(col("w"))
      .agg(countDistinct(col("doc_id")).as("df"))
    tf.join(broadcast(dfreq), Seq("w"))
      .crossJoin(broadcast(stats))
      .withColumn("idf_bits",
        length(bin(expr("(2 * n_docs + 2) div (2 * df + 1)"))).cast("long"))
      .withColumn("sat_bp", expr(
        s"""(cast(tf as decimal(38,0)) * $Bm25NumCoef
             * cast(total_len as decimal(38,0))) div
           (cast(tf as decimal(38,0)) * 1000000
             * cast(total_len as decimal(38,0))
            + $Bm25ConstCoef * cast(total_len as decimal(38,0))
            + $Bm25DlCoef * cast(dl as decimal(38,0))
                          * cast(n_docs as decimal(38,0)))"""))
      .groupBy(col("doc_id"))
      .agg(sum(col("idf_bits") * col("sat_bp")).as("score"),
        count(lit(1)).as("n_terms_hit"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) — the standard
    * hybrid-retrieval merge: a LEXICAL ranking (the integer tf·idf of
    * [[search]] over a bag-of-words query) and a VECTOR ranking (exact
    * quantized cosine of every embedding against one query vector,
    * the [[Similarity]] grid) are fused by summing 10⁹ div (60 + rank)
    * over the lists each document appears in. Ranks — not scores — are
    * fused, so the two signals need no calibration against each other;
    * the reciprocal weights are pre-floored integers, so the fused
    * score is exact cross-engine.
    *
    * The join key is the doc_id == vec_id alignment of the fixture
    * corpus (documents and their embeddings share ids — the contract
    * any embedded corpus has). Absent ranks surface as 0 (a document
    * inside only one list still fuses; 0 is un-ambiguous because real
    * ranks start at 1).
    *
    * Scale shape: each list is top-`depth` of an independently
    * shuffled ranking (lexical: term-filtered postings, the [[search]]
    * plan; vector: a LINEAR one-query scan — no pair explosion, the
    * per-query serving kernel that an IVF/LSH index would bound
    * further). The fusion join then touches ≤ 2·depth rows — driver
    * never sees data, and the full-outer join is between two
    * broadcast-sized frames. */
  /** RRF shape constants shared with the oracle SQL: leg depth and
    * the rank-smoothing k of Cormack et al.'s 1/(k + rank). */
  val RrfDepth = 100
  val RrfSmoothK = 60

  def rrfFusion(spark: SparkSession, sf: String,
      query: String = "spark join stream window", queryVec: Long = 0L,
      k: Int = 20, depth: Int = RrfDepth, rrfK: Int = RrfSmoothK): DataFrame = {
    import graft.functions.ArrayOps.{dot_long, quantize_q}
    val terms = query.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    // lexical leg — the search() scoring, ranked to `depth`
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), words(col("text")).as("ws"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    // <= |docs|x|terms| rows after the term filter -- persisted: the
    // idf derivation and the scoring join both consume it (one corpus
    // tokenization pass, not two)
    val tf = graft.CachePool.swapOne("tfidf-tf",
      docs.select(col("doc_id"), explode(col("ws")).as("w"))
        .filter(col("w").isin(terms: _*))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf")))
    val idf = tf.groupBy(col("w"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .crossJoin(broadcast(n))
      .select(col("w"), expr("(n_docs * 10000) div df").as("idf_bp"))
    // top-depth FIRST via TakeOrdered (per-partition heaps), so the
    // unpartitioned rank window that follows only ever sees ≤ depth
    // rows — never the corpus-sized single-partition collapse
    val lex = tf.join(broadcast(idf), Seq("w"))
      .groupBy(col("doc_id")).agg(sum(col("tf") * col("idf_bp")).as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(depth)
      .withColumn("lex_rk", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("lex_rk"))
    // vector leg — one query row broadcast into a linear scan
    // zero-norm hygiene (the Similarity.quantized contract): a broken
    // embedding's cosine is 0/0 = NaN, which Spark ranks above every
    // real neighbor — drop it at the source. Spark-side only, like
    // quantized(): fixture vectors are all nonzero so oracle rows are
    // unaffected; at scale this is the drop-broken-embeddings filter.
    val e = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), quantize_q(col("embedding"), Similarity.Q).as("iv"))
      .withColumn("norm", sqrt(dot_long(col("iv"), col("iv")).cast("double")))
      .filter(col("norm") > 0.0)
    val qv = e.filter(col("vec_id") === queryVec)
      .select(col("iv").as("iv_q"), col("norm").as("norm_q"))
    val vec = e.filter(col("vec_id") =!= queryVec)
      .crossJoin(broadcast(qv))
      .withColumn("cosine",
        dot_long(col("iv"), col("iv_q")).cast("double") /
          (col("norm") * col("norm_q")))
      .orderBy(col("cosine").desc, col("vec_id")).limit(depth)
      .withColumn("vec_rk", row_number().over(
        Window.orderBy(col("cosine").desc, col("vec_id"))).cast("long"))
      .select(col("vec_id"), col("vec_rk"))
    lex.join(vec, col("doc_id") === col("vec_id"), "full_outer")
      .select(
        coalesce(col("doc_id"), col("vec_id")).as("doc_id"),
        coalesce(col("lex_rk"), lit(0L)).as("lex_rk"),
        coalesce(col("vec_rk"), lit(0L)).as("vec_rk"))
      .withColumn("rrf_score",
        when(col("lex_rk") > 0,
          expr(s"1000000000 div ($rrfK + lex_rk)")).otherwise(lit(0L)) +
        when(col("vec_rk") > 0,
          expr(s"1000000000 div ($rrfK + vec_rk)")).otherwise(lit(0L)))
      .orderBy(col("rrf_score").desc, col("doc_id"))
      .limit(k)
  }

  /** BPE tokenizer training (Sennrich et al. 2016): learn `nMerges`
    * byte-pair merges from corpus word frequencies. The distributed
    * part is exactly the part that scales with the corpus — ONE
    * partial-aggregated word-count groupBy; the merge loop then runs
    * driver-side over the (word, count) VOCABULARY, which is HARD
    * bounded before collect by [[trainerVocab]]'s frequency floor +
    * deterministic top-`maxVocab` cap — the same driver-gets-
    * aggregates-never-data contract as the k-means and PQ trainers,
    * made safe against the hundreds-of-millions-of-types vocabulary a
    * 100 TB crawl actually has. Fully deterministic:
    * best pair by (count desc, left asc, right asc); no end-of-word
    * marker (merges act within words). Returns the merge table
    * (rank, left, right, merged, pair_count) — the artifact a
    * tokenizer ships. Oracle-exact: the q_bpe_merges DuckDB oracle
    * unrolls all [[BpeNMerges]] trainer stages as materialized CTEs
    * over the same word-frequency vocabulary (word state as a
    * `|tok||tok|` wrapped string; plain string `replace` has exactly
    * [[applyMerge]]'s leftmost-non-overlapping semantics), on top of
    * the CorpusSpec replay case that re-derives every recorded merge
    * count from the raw vocabulary.
    */
  /** One left-to-right non-overlapping application of merge (l, r) —
    * the single definition shared by training ([[bpeMerges]]) and
    * encoding ([[bpeEncode]]), so the two can never drift. */
  private[graft] def applyMerge(syms: Vector[String], l: String, r: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += l + r; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Default trainer-vocabulary bounds: the frequency floor is 1 (no
    * cut — fixture corpora have no hapax noise worth dropping) and the
    * cap is 10⁶ word types (~tens of MB of driver heap). At 100 TB web
    * text the TYPE vocabulary (typos, URLs, hex blobs) runs to
    * hundreds of millions — an unbounded collect() is a driver OOM —
    * so real deployments set `minCount ≥ 2` (the hapax cut removes
    * roughly half of crawl word types and BPE statistics don't want
    * count-1 evidence anyway) and keep the cap as the hard backstop. */
  val BpeMinCount = 1L
  val BpeMaxVocab = 1000000

  /** Merge-table size every default-arg caller (and the q_bpe_merges /
    * q_bpe_encode oracles, which unroll exactly this many replay
    * stages) trains to — one shared constant so the engine's loop
    * bound and the oracle's stage count cannot desynchronize. */
  val BpeNMerges = 30

  /** The ONLY corpus→driver hand-off of the BPE trainer: word counts
    * filtered by the frequency floor, then the top-`maxVocab` types by
    * (count desc, word asc) — a deterministic total order, so the cap
    * cuts the same set on every run/partitioning. Shared by
    * [[bpeMerges]] and (via it) [[bpeEncode]], so trainer and encoder
    * see one vocabulary definition and cannot drift. The cap rides
    * TakeOrdered (per-partition heaps), never a global sort. */
  private[graft] def trainerVocab(spark: SparkSession, sf: String,
      minCount: Long, maxVocab: Int): Array[(String, Long)] =
    Tables.load(spark, sf, "documents")
      .select(explode(words(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount)
      .orderBy(col("c").desc, col("w"))
      .limit(maxVocab)
      .collect().map(r => r.getString(0) -> r.getLong(1))

  def bpeMerges(spark: SparkSession, sf: String, nMerges: Int = BpeNMerges,
      minCount: Long = BpeMinCount, maxVocab: Int = BpeMaxVocab): DataFrame = {
    val wc = trainerVocab(spark, sf, minCount, maxVocab)
    var vocab: Seq[(Vector[String], Long)] =
      wc.sortBy(_._1).map { case (w, c) => (w.map(_.toString).toVector, c) }.toSeq
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    var rank = 0L
    var done = false
    while (rank < nMerges && !done) {
      val pairCounts = scala.collection.mutable.LinkedHashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, c) =>
        syms.sliding(2).foreach {
          case Vector(a, b) => pairCounts((a, b)) = pairCounts.getOrElse((a, b), 0L) + c
          case _ => ()
        }
      }
      if (pairCounts.isEmpty) done = true
      else {
        val ((l, r), c) = pairCounts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
        merges += ((rank, l, r, l + r, c))
        vocab = vocab.map { case (syms, n) => (applyMerge(syms, l, r), n) }
        rank += 1
      }
    }
    val spark2 = spark
    import spark2.implicits._
    merges.result().toDF("rank", "left", "right", "merged", "pair_count")
      .orderBy(col("rank"))
  }

  /** BPE ENCODE — apply the trained merge table ([[bpeMerges]]) to the
    * corpus and report per-document subword token counts: the
    * tokenize-everything pass that sizes a training corpus in model
    * tokens rather than words.
    *
    * Scale shape — the imperative merge replay runs over the DISTINCT
    * word vocabulary, never the corpus: encode cost is O(vocab ×
    * merges), corpus cost is one exploded word stream joined against
    * the (vocabulary-sized, shuffle-joined on word; broadcastable when
    * it fits) word → token-count map plus one per-doc partial agg.
    * Re-tokenizing 100 TB after a tokenizer change re-encodes only the
    * vocabulary; the corpus pays joins, not per-row loops. Merges
    * apply in rank order with the SAME left-to-right non-overlapping
    * pass as training ([[applyMerge]]), so a training word's final
    * symbol count equals the trainer's end-state vocabulary — the
    * CorpusSpec replay invariant. Oracle-exact via the same unrolled
    * trainer replay as q_bpe_merges: the oracle's per-word token
    * counts are the replay chain's end-state symbol counts. (The
    * oracle encodes the TRAINER vocabulary; under the default bounds
    * — minCount 1, cap non-binding — that vocabulary IS the corpus's
    * distinct word set, so the two sides tokenize identical word
    * sets. A deployment that raises minCount trades this exact oracle
    * for the replay spec, not for silence.)
    */
  def bpeEncode(spark: SparkSession, sf: String, nMerges: Int = BpeNMerges,
      minCount: Long = BpeMinCount, maxVocab: Int = BpeMaxVocab): DataFrame =
    bpeEncodeWith(spark, sf,
      bpeMerges(spark, sf, nMerges, minCount, maxVocab).collect()
        .map(r => (r.getString(1), r.getString(2))))

  /** q_bpe_encode_saved: [[bpeEncode]] SERVED FROM THE PERSISTED
    * TOKENIZER ARTIFACT — the q_ann_ivf_saved/q_nb_classify_saved
    * pattern applied to the pipeline's most-persisted artifact (a
    * tokenizer trains once and ships as storage; every re-tokenize of
    * a 100 TB corpus reads the same bytes): train → publish the merge
    * table through [[graft.operators.IndexStore]] → encode the corpus
    * with the LOADED table. Same output and DuckDB oracle as the
    * in-place encode, so a round-trip bit-flip or version mispin
    * changes a token count and fails the hash. */
  def bpeEncodeSaved(spark: SparkSession, sf: String): DataFrame = {
    val (root, v) = IndexStore.sessionArtifact(spark, sf, "bpe")(
      IndexStore.saveBpe(spark, sf, _))
    bpeEncodeWith(spark, sf, IndexStore.loadBpeMerges(spark, root, Some(v)))
  }

  /** q_unigram_encode_saved: [[unigramEncode]] served from the
    * persisted piece table — [[bpeEncodeSaved]]'s unigram twin. */
  def unigramEncodeSaved(spark: SparkSession, sf: String): DataFrame = {
    val (root, v) = IndexStore.sessionArtifact(spark, sf, "unigram")(
      IndexStore.saveUnigram(spark, sf, _))
    unigramEncodeWith(spark, sf,
      IndexStore.loadUnigramBits(spark, root, Some(v)))
  }

  /** Merge-count checkpoints of the ablation curve [[bpeCurve]].
    * BPE merge tables are PREFIX-CLOSED — the first k merges of an
    * N-merge train ARE the k-merge tokenizer (training greedily
    * appends; earlier merges never change) — so one trained table
    * prices every smaller vocabulary for free. Must end at
    * [[BpeNMerges]]; interpolated into the oracle, whose replay chain
    * already materializes every intermediate stage. */
  val BpeCurvePoints: Seq[Int] = Seq(10, 20, BpeNMerges)

  /** q_bpe_curve: the TOKENIZER MERGE-COUNT ABLATION — the
    * vocabulary-size knob curve a tokenizer team reads before fixing
    * merge count (the "compression vs vocab size" trade, Gage's BPE
    * applied as in Sennrich et al. 2016): corpus token mass and
    * chars-per-token at each [[BpeCurvePoints]] prefix of ONE trained
    * merge table. Prefix-closure makes this one trainer pass + one
    * merge replay per DISTINCT word with counts snapshotted at the
    * checkpoints — the corpus pays the usual word-keyed join and a
    * ≤ |points|-row aggregation, never a re-train or re-scan per
    * point. Oracle-exact: the DuckDB replay reads the SAME
    * intermediate stages (v10, v20, …) its q_bpe_merges chain
    * already builds. */
  def bpeCurve(spark: SparkSession, sf: String): DataFrame = {
    val merges = bpeMerges(spark, sf).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val bc = spark.sparkContext.broadcast(merges)
    val pts = BpeCurvePoints
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents")
    val docWords = docs
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
    val wordToks = docWords.select(col("w")).distinct().as[String]
      .flatMap { w =>
        var syms = w.map(_.toString).toVector
        val out = Seq.newBuilder[(String, Int, Long)]
        var applied = 0
        bc.value.foreach { case (l, r) =>
          syms = applyMerge(syms, l, r); applied += 1
          if (pts.contains(applied)) out += ((w, applied, syms.length.toLong))
        }
        // a trainer that ran dry early (no pairs left) serves its end
        // state at every later checkpoint
        pts.filter(_ > applied).foreach(p => out += ((w, p, syms.length.toLong)))
        out.result()
      }.toDF("w", "n_merges", "n_toks")
    val perPoint = docWords.join(wordToks, "w")
      .groupBy(col("n_merges"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_toks")).as("total_tokens"),
        sum(length(col("w"))).cast("long").as("total_alpha_chars"))
    spark.range(1)
      .select(explode(typedLit(pts.map(_.toLong))).as("n_merges"))
      .join(perPoint.withColumn("n_merges", col("n_merges").cast("long")),
        Seq("n_merges"), "left")
      .select(col("n_merges"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("total_tokens"), lit(0L)).as("total_tokens"),
        coalesce(col("total_alpha_chars"), lit(0L)).as("total_alpha_chars"),
        coalesce(expr("(total_alpha_chars * 1000) div total_tokens"),
          lit(0L)).as("chars_per_tok_pm"))
      .orderBy(col("n_merges"))
  }

  /** The encode pass parameterized by a MERGE TABLE — shared by the
    * train-in-place [[bpeEncode]] and the artifact-served
    * q_bpe_encode_saved ([[graft.operators.IndexStore.loadBpeMerges]]),
    * so "encode with the trained tokenizer" and "encode with the
    * loaded tokenizer" are one code path whose inputs differ. */
  private[graft] def bpeEncodeWith(spark: SparkSession, sf: String,
      merges: Array[(String, String)]): DataFrame = {
    val bc = spark.sparkContext.broadcast(merges)
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents")
    val docWords = docs
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
    val wordToks = docWords.select(col("w")).distinct().as[String]
      .map { w =>
        var syms = w.map(_.toString).toVector
        bc.value.foreach { case (l, r) => syms = applyMerge(syms, l, r) }
        (w, syms.length.toLong)
      }.toDF("w", "n_toks")
    val perDoc = docWords.join(wordToks, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_toks")).as("n_bpe_tokens"),
        sum(length(col("w"))).cast("long").as("n_alpha_chars"))
    // LEFT join from the corpus: a doc with no [a-z]+ word (digits,
    // punctuation, non-Latin) must REPORT zero, not vanish — a sizing
    // report with silently missing rows fails any coverage reconcile
    // against the corpus it claims to describe.
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"),
        coalesce(col("n_alpha_chars"), lit(0L)).as("n_alpha_chars"),
        // chars-per-token in per-mille: the compression the merge
        // table buys, integer-exact; 0 tokens → 0 (div-null coalesced)
        coalesce(expr("(n_alpha_chars * 1000) div n_bpe_tokens"), lit(0L))
          .as("chars_per_tok_pm"))
      .orderBy(col("doc_id"))
  }

  // ---- unigram-LM tokenizer (SentencePiece complement to BPE) -------

  /** Unigram trainer geometry, interpolated into both engines:
    * candidate pieces are word substrings up to this length. */
  val UnigramMaxPieceLen = 4
  /** Multi-character pieces retained per pruning pass (single chars
    * are ALWAYS retained — segmentation must stay total). */
  val UnigramKeepPieces = 16
  /** Hard-EM rounds. */
  val UnigramIters = 2
  /** DP unroll bound shared with the oracle's generated CTE chain;
    * the trainer REQUIREs vocabulary words fit it (fixture max is 8 —
    * measured at every SF; raise both sides together for corpora
    * with longer alpha runs). */
  val UnigramMaxWordLen = 16

  /** q_unigram_train: the UNIGRAM-LM TOKENIZER TRAINER (Kudo 2018,
    * SentencePiece's unigram model) in deterministic INTEGER-EXACT
    * hard-EM form — the complement of [[bpeMerges]] (BPE grows pieces
    * bottom-up by merge frequency; unigram seeds ALL substrings and
    * prunes top-down by usage under the model itself):
    *
    *   1. SEED: every substring of length ≤ [[UnigramMaxPieceLen]]
    *      of the [[trainerVocab]] words, counted by occurrence ×
    *      word frequency,
    *   2. E-STEP (hard): Viterbi-segment each vocabulary word under
    *      integer piece costs — `bits(p) = ⌊log2(T div (c+1))⌋ + 1`
    *      (the [[graft.operators.Text.surprisal]] `length(bin(·))`
    *      MDL trick, +1-smoothed so a zero-count piece stays
    *      finite); ties break lexicographically on (total bits,
    *      piece count, predecessor) — a packed-long min, so the
    *      replay is a plain MIN in any engine,
    *   3. M-STEP + PRUNE: recount pieces from the Viterbi paths,
    *      keep all single chars (totality) + the top
    *      [[UnigramKeepPieces]] multi-char pieces by (count desc,
    *      piece asc) — the deterministic pruning order,
    *   repeated [[UnigramIters]] times; final costs recomputed from
    *   the final counts.
    *
    * No floating-point log anywhere, so the DuckDB oracle REPLAYS THE
    * WHOLE TRAINER — seed census, every unrolled Viterbi chain, path
    * backtrack, recount, prune — and pins every (piece, count, bits)
    * row by hash. Trainer cost is driver-side over the bounded
    * [[trainerVocab]] (the BPE contract: corpus-scale work is the
    * word census; the EM loop touches vocabulary only). */
  def unigramTrain(spark: SparkSession, sf: String): DataFrame = {
    val table = unigramTable(spark, sf)
    val t = table.values.map(_ + 1L).sum
    val spark2 = spark
    import spark2.implicits._
    table.toSeq.sortBy(_._1)
      .map { case (p, c) => (p, c, bitsOf(t, c)) }
      .toDF("piece", "cnt", "bits")
  }

  private def bitsOf(t: Long, c: Long): Long =
    java.lang.Long.toBinaryString(t / (c + 1)).length.toLong

  /** Viterbi under (piece → bits): (totalBits, nPieces) at word end.
    * Tie order (bits, np, predecessor) — the packed-min contract the
    * oracle replays. */
  private def unigramViterbi(w: String,
      bits: collection.Map[String, Long]): (Long, Long, Array[Int]) = {
    val n = w.length
    val bestBits = new Array[Long](n + 1)
    val bestNp = new Array[Long](n + 1)
    val pred = new Array[Int](n + 1)
    var i = 1
    while (i <= n) {
      var bb = Long.MaxValue; var bn = Long.MaxValue; var bj = -1
      var j = math.max(0, i - UnigramMaxPieceLen)
      while (j < i) {
        // an UNREACHABLE prefix (bestBits == MaxValue) must not seed a
        // candidate: MaxValue + pb overflows negative and would win
        // every min, silently emitting garbage segmentations — the
        // reachable-under-capped-vocab hazard (minCount > 1 can drop a
        // character piece, the deployment setting BASELINE recommends)
        if (bestBits(j) != Long.MaxValue) {
          bits.get(w.substring(j, i)) match {
            case Some(pb) =>
              val cb = bestBits(j) + pb
              val cn = bestNp(j) + 1
              if (cb < bb || (cb == bb && (cn < bn || (cn == bn && j < bj)))) {
                bb = cb; bn = cn; bj = j
              }
            case None => ()
          }
        }
        j += 1
      }
      bestBits(i) = bb; bestNp(i) = bn; pred(i) = bj
      i += 1
    }
    require(bestBits(n) != Long.MaxValue,
      s"word '$w' cannot be segmented under the current piece table — " +
        "a capped/minCount-filtered vocabulary dropped a required " +
        "character piece; retrain with that character retained (single " +
        "chars must stay total) rather than emitting garbage tokens")
    (bestBits(n), bestNp(n), pred)
  }

  /** The trained (piece → count) table — shared by train and encode. */
  private def unigramTable(spark: SparkSession,
      sf: String): Map[String, Long] = {
    val vocab = trainerVocab(spark, sf, BpeMinCount, BpeMaxVocab)
    vocab.foreach { case (w, _) =>
      require(w.length <= UnigramMaxWordLen,
        s"word '$w' exceeds UnigramMaxWordLen=$UnigramMaxWordLen — " +
          "raise the constant (and the oracle unroll) together")
    }
    // seed: occurrence-counted substrings, lengths 1..MaxPieceLen
    val seed = collection.mutable.LinkedHashMap.empty[String, Long]
    vocab.foreach { case (w, c) =>
      var s = 0
      while (s < w.length) {
        var l = 1
        while (l <= UnigramMaxPieceLen && s + l <= w.length) {
          val p = w.substring(s, s + l)
          seed(p) = seed.getOrElse(p, 0L) + c
          l += 1
        }
        s += 1
      }
    }
    val chars = seed.keysIterator.filter(_.length == 1).toSeq.sorted
    var table: Map[String, Long] = seed.toMap
    for (_ <- 1 to UnigramIters) {
      val t = table.values.map(_ + 1L).sum
      val bits = table.map { case (p, c) => p -> bitsOf(t, c) }
      val newc = collection.mutable.HashMap.empty[String, Long]
      vocab.foreach { case (w, c) =>
        val (_, _, pred) = unigramViterbi(w, bits)
        var e = w.length
        while (e > 0) {
          val s = pred(e)
          val p = w.substring(s, e)
          newc(p) = newc.getOrElse(p, 0L) + c
          e = s
        }
      }
      val multis = newc.toSeq
        .filter { case (p, c) => p.length > 1 && c > 0 }
        .sortBy { case (p, c) => (-c, p) }
        .take(UnigramKeepPieces)
      table = (chars.map(ch => ch -> newc.getOrElse(ch, 0L)) ++ multis).toMap
    }
    table
  }

  /** q_unigram_encode: tokenize the corpus with the trained unigram
    * model and report per-document sizing — [[bpeEncode]]'s exact
    * shape (Viterbi replaces merge replay): the imperative
    * segmentation runs over the DISTINCT word vocabulary only, the
    * corpus pays one word-keyed join plus a per-doc partial agg, and
    * a doc with no alpha word reports zeros rather than vanishing.
    * Oracle-exact end to end: the DuckDB twin re-trains the table
    * (the q_unigram_train replay) and re-runs the unrolled Viterbi
    * chain per word. */
  def unigramEncode(spark: SparkSession, sf: String): DataFrame = {
    val table = unigramTable(spark, sf)
    val t = table.values.map(_ + 1L).sum
    unigramEncodeWith(spark, sf,
      table.map { case (p, c) => p -> bitsOf(t, c) })
  }

  /** The unigram encode pass parameterized by the PIECE-COST TABLE —
    * the [[bpeEncodeWith]] convention: train-in-place and
    * artifact-served encodes share one code path. The (piece, cnt,
    * bits) artifact [[unigramTrain]] publishes carries `bits`
    * directly, so serving needs no recount. */
  private[graft] def unigramEncodeWith(spark: SparkSession, sf: String,
      bits: Map[String, Long]): DataFrame = {
    val bc = spark.sparkContext.broadcast(bits)
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents")
    val docWords = docs
      .select(col("doc_id"), explode(words(col("text"))).as("w"))
    val wordToks = docWords.select(col("w")).distinct().as[String]
      .map { w =>
        val (_, np, _) = unigramViterbi(w, bc.value)
        (w, np)
      }.toDF("w", "n_toks")
    val perDoc = docWords.join(wordToks, "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_toks")).as("n_unigram_tokens"),
        sum(length(col("w"))).cast("long").as("n_alpha_chars"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_unigram_tokens"), lit(0L)).as("n_unigram_tokens"),
        coalesce(col("n_alpha_chars"), lit(0L)).as("n_alpha_chars"),
        coalesce(expr("(n_alpha_chars * 1000) div n_unigram_tokens"),
          lit(0L)).as("chars_per_tok_pm"))
      .orderBy(col("doc_id"))
  }

  /** The generated DuckDB replay of the unigram trainer: seed census,
    * [[UnigramIters]] unrolled (Viterbi DP chain → path backtrack →
    * recount → prune) rounds, final bits. CTEs are MATERIALIZED — the
    * DP arms reference the word census dozens of times and plain CTE
    * inlining re-opens the parquet per reference. The Viterbi min is
    * the packed `(bits·2¹⁶ + np·2⁸ + pred)` long, whose order equals
    * the engine's (bits, np, pred) tie order because np ≤ 16 and
    * pred ≤ 16 stay inside their byte. */
  private def unigramCtes(): Seq[String] = {
    val maxw = UnigramMaxWordLen
    val maxp = UnigramMaxPieceLen
    def dpChain(tag: String, tbl: String): Seq[String] = {
      val ctes = collection.mutable.ArrayBuffer.empty[String]
      ctes += s"b0_$tag AS MATERIALIZED (SELECT word, " +
        "CAST(0 AS BIGINT) AS bits, 0 AS np, -1 AS pred FROM w)"
      for (i <- 1 to maxw) {
        val arms = (math.max(0, i - maxp) until i).map { j =>
          s"SELECT w.word, b.bits AS pb, b.np AS pnp, $j AS j, " +
            s"substr(w.word, ${j + 1}, ${i - j}) AS piece " +
            s"FROM w JOIN b${j}_$tag b USING (word) " +
            s"WHERE len(w.word) >= $i"
        }.mkString("\nUNION ALL ")
        ctes += s"c${i}_$tag AS MATERIALIZED (SELECT u.word, " +
          "(u.pb + t.bits) * 65536 + (u.pnp + 1) * 256 + u.j AS pk " +
          s"FROM ($arms) u JOIN $tbl t ON t.piece = u.piece)"
        ctes += s"b${i}_$tag AS MATERIALIZED (SELECT word, " +
          "MIN(pk) // 65536 AS bits, (MIN(pk) % 65536) // 256 AS np, " +
          s"MIN(pk) % 256 AS pred FROM c${i}_$tag GROUP BY word)"
      }
      ctes += s"ball_$tag AS MATERIALIZED (" + (1 to maxw).map(i =>
        s"SELECT word, $i AS i, bits, np, pred FROM b${i}_$tag")
        .mkString(" UNION ALL ") + ")"
      ctes += s"p0_$tag AS MATERIALIZED (SELECT b.word, b.i AS e, " +
        s"b.pred AS s FROM ball_$tag b " +
        "JOIN w ON w.word = b.word AND len(w.word) = b.i)"
      for (t <- 1 until maxw)
        ctes += s"p${t}_$tag AS MATERIALIZED (SELECT p.word, p.s AS e, " +
          s"b.pred AS s FROM p${t - 1}_$tag p " +
          s"JOIN ball_$tag b ON b.word = p.word AND b.i = p.s " +
          "WHERE p.s > 0)"
      val pall = (0 until maxw).map(t => s"SELECT * FROM p${t}_$tag")
        .mkString(" UNION ALL ")
      ctes += s"pieces_$tag AS MATERIALIZED (SELECT word, " +
        "substr(word, s + 1, CAST(e - s AS INT)) AS piece " +
        s"FROM ($pall) WHERE e > s)"
      ctes.toSeq
    }
    def tableCtes(tag: String, countsRel: String): Seq[String] = Seq(
      s"tt_$tag AS MATERIALIZED (SELECT SUM(c + 1) AS T FROM $countsRel)",
      s"tbl_$tag AS MATERIALIZED (SELECT piece, " +
        "CAST(length(bin(T // (c + 1))) AS BIGINT) AS bits " +
        s"FROM $countsRel, tt_$tag)")
    def recount(tag: String): String =
      s"nc_$tag AS MATERIALIZED (SELECT p.piece, " +
        "CAST(SUM(w.cnt) AS BIGINT) AS c " +
        s"FROM pieces_$tag p JOIN w USING (word) GROUP BY p.piece)"
    def prune(tag: String, prevNc: String): String =
      s"keep_$tag AS MATERIALIZED (" +
        s"SELECT ch.piece, COALESCE(n.c, 0) AS c FROM chars ch " +
        s"LEFT JOIN $prevNc n USING (piece) UNION ALL " +
        s"SELECT piece, c FROM (SELECT piece, c FROM $prevNc " +
        "WHERE len(piece) > 1 AND c > 0 " +
        s"ORDER BY c DESC, piece LIMIT $UnigramKeepPieces))"
    val ctes = collection.mutable.ArrayBuffer.empty[String]
    ctes += "docs0 AS MATERIALIZED (SELECT lower(text) AS t FROM documents)"
    ctes += "w AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) " +
      "AS cnt FROM (SELECT unnest(regexp_extract_all(t, '[a-z]+')) " +
      "AS word FROM docs0) GROUP BY word)"
    ctes += "seed AS MATERIALIZED (SELECT substr(word, CAST(s AS INT), " +
      "CAST(l AS INT)) AS piece, CAST(SUM(cnt) AS BIGINT) AS c " +
      "FROM w, LATERAL (SELECT unnest(generate_series(1, len(word))) " +
      "AS s) ss, LATERAL (SELECT unnest(generate_series(1, " +
      s"$maxp)) AS l) ll WHERE s + l - 1 <= len(word) GROUP BY 1)"
    ctes += "chars AS MATERIALIZED (SELECT piece FROM seed " +
      "WHERE len(piece) = 1)"
    var counts = "seed"
    for (it <- 1 to UnigramIters) {
      ctes ++= tableCtes(s"i$it", counts)
      ctes ++= dpChain(s"i$it", s"tbl_i$it")
      ctes += recount(s"i$it")
      ctes += prune(s"k$it", s"nc_i$it")
      counts = s"keep_k$it"
    }
    ctes ++= tableCtes("fin", counts)
    ctes += "final AS MATERIALIZED (SELECT k.piece, k.c AS cnt, t.bits " +
      s"FROM $counts k JOIN tbl_fin t USING (piece))"
    ctes.toSeq
  }

  def unigramTrainOracle: String =
    "WITH " + unigramCtes().mkString(",\n") +
      "\nSELECT piece, CAST(cnt AS BIGINT) AS cnt, " +
      "CAST(bits AS BIGINT) AS bits FROM final ORDER BY piece"

  def unigramEncodeOracle: String =
    "WITH " + unigramEncodeCtes().mkString(",\n") +
      """
      SELECT doc_id, COALESCE(n_words, 0) AS n_words,
        COALESCE(n_unigram_tokens, 0) AS n_unigram_tokens,
        COALESCE(n_alpha_chars, 0) AS n_alpha_chars,
        COALESCE((n_alpha_chars * 1000) // n_unigram_tokens, 0)
          AS chars_per_tok_pm
      FROM documents LEFT JOIN perdoc USING (doc_id)
      ORDER BY doc_id"""

  /** [[unigramEncodeOracle]]'s per-language aggregation — the unigram
    * twin of the BPE fertility oracle, composed from the same CTE
    * chain. */
  def unigramFertilityOracle: String =
    "WITH " + unigramEncodeCtes().mkString(",\n") +
      """
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(COALESCE(n_words, 0)) AS BIGINT) AS n_words,
        CAST(SUM(COALESCE(n_unigram_tokens, 0)) AS BIGINT)
          AS n_unigram_tokens,
        CAST(SUM(COALESCE(n_alpha_chars, 0)) AS BIGINT) AS n_alpha_chars,
        CAST(COALESCE((SUM(COALESCE(n_unigram_tokens, 0)) * 1000)
          // SUM(COALESCE(n_words, 0)), 0) AS BIGINT) AS toks_per_word_pm,
        CAST(COALESCE((SUM(COALESCE(n_alpha_chars, 0)) * 1000)
          // SUM(COALESCE(n_unigram_tokens, 0)), 0) AS BIGINT)
          AS chars_per_tok_pm
      FROM documents LEFT JOIN perdoc USING (doc_id)
      GROUP BY lang ORDER BY lang"""

  private def unigramEncodeCtes(): Seq[String] = {
    val maxw = UnigramMaxWordLen
    val maxp = UnigramMaxPieceLen
    // one more DP chain under the FINAL table (encode), then per-doc
    // aggregation with the zero-word LEFT join
    val enc = collection.mutable.ArrayBuffer.empty[String]
    enc += s"b0_enc AS MATERIALIZED (SELECT word, " +
      "CAST(0 AS BIGINT) AS bits, 0 AS np, -1 AS pred FROM w)"
    for (i <- 1 to maxw) {
      val arms = (math.max(0, i - maxp) until i).map { j =>
        s"SELECT w.word, b.bits AS pb, b.np AS pnp, $j AS j, " +
          s"substr(w.word, ${j + 1}, ${i - j}) AS piece " +
          s"FROM w JOIN b${j}_enc b USING (word) WHERE len(w.word) >= $i"
      }.mkString("\nUNION ALL ")
      enc += s"c${i}_enc AS MATERIALIZED (SELECT u.word, " +
        "(u.pb + t.bits) * 65536 + (u.pnp + 1) * 256 + u.j AS pk " +
        s"FROM ($arms) u JOIN tbl_fin t ON t.piece = u.piece)"
      enc += s"b${i}_enc AS MATERIALIZED (SELECT word, " +
        "MIN(pk) // 65536 AS bits, (MIN(pk) % 65536) // 256 AS np, " +
        s"MIN(pk) % 256 AS pred FROM c${i}_enc GROUP BY word)"
    }
    enc += "ball_enc AS MATERIALIZED (" + (1 to maxw).map(i =>
      s"SELECT word, $i AS i, bits, np, pred FROM b${i}_enc")
      .mkString(" UNION ALL ") + ")"
    enc += "wnp AS MATERIALIZED (SELECT b.word, b.np FROM ball_enc b " +
      "JOIN w ON w.word = b.word AND len(w.word) = b.i)"
    enc += "docw AS MATERIALIZED (SELECT doc_id, " +
      "unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word " +
      "FROM documents)"
    enc += "perdoc AS MATERIALIZED (SELECT d.doc_id, " +
      "CAST(COUNT(*) AS BIGINT) AS n_words, " +
      "CAST(SUM(n.np) AS BIGINT) AS n_unigram_tokens, " +
      "CAST(SUM(len(d.word)) AS BIGINT) AS n_alpha_chars " +
      "FROM docw d JOIN wnp n USING (word) GROUP BY d.doc_id)"
    unigramCtes() ++ enc
  }

  /** q_unigram_fertility: per-language tokens-per-word and
    * chars-per-token under the UNIGRAM model — [[bpeFertility]]'s
    * exact shape over [[unigramEncode]]'s per-doc sizing, which is
    * what makes the two tokenizers comparable per language (train
    * both, read the two fertility tables side by side, pick per
    * corpus). Same scale argument: everything heavy is the encode's;
    * this adds one language-keyed partial agg. */
  def unigramFertility(spark: SparkSession, sf: String): DataFrame = {
    val perDoc = unigramEncode(spark, sf)
    val langs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("lang"))
    perDoc.join(langs, "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_unigram_tokens")).as("n_unigram_tokens"),
        sum(col("n_alpha_chars")).as("n_alpha_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"),
        col("n_unigram_tokens"), col("n_alpha_chars"),
        coalesce(expr("(n_unigram_tokens * 1000) div n_words"), lit(0L))
          .as("toks_per_word_pm"),
        coalesce(expr("(n_alpha_chars * 1000) div n_unigram_tokens"),
          lit(0L)).as("chars_per_tok_pm"))
      .orderBy(col("lang"))
  }

  /** Per-language tokenizer FERTILITY audit — the multilingual-
    * tokenizer health metric (tokens-per-word and chars-per-token by
    * language): a language whose fertility runs far above the corpus
    * mean is being shredded into sub-word confetti by a vocabulary
    * trained on someone else's script, and its effective context
    * window shrinks proportionally. Aggregates [[bpeEncode]]'s
    * per-document sizing by the `lang` column — integer per-mille
    * ratios, so the report replays engine-exact.
    *
    * Scale shape: everything heavy is [[bpeEncode]]'s (vocabulary-
    * bounded trainer + word-keyed joins); this adds one language-keyed
    * partial agg over the per-doc rows — languages ≪ documents, so
    * the added shuffle carries doc-count rows down to a handful. */
  def bpeFertility(spark: SparkSession, sf: String): DataFrame = {
    val perDoc = bpeEncode(spark, sf)
    val langs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("lang"))
    perDoc.join(langs, "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_bpe_tokens")).as("n_bpe_tokens"),
        sum(col("n_alpha_chars")).as("n_alpha_chars"))
      .select(col("lang"), col("n_docs"), col("n_words"),
        col("n_bpe_tokens"), col("n_alpha_chars"),
        coalesce(expr("(n_bpe_tokens * 1000) div n_words"), lit(0L))
          .as("toks_per_word_pm"),
        coalesce(expr("(n_alpha_chars * 1000) div n_bpe_tokens"), lit(0L))
          .as("chars_per_tok_pm"))
      .orderBy(col("lang"))
  }

  /** Collocation extraction: top-k bigrams by pointwise mutual
    * information, ranked by the integer-scaled LIFT
    * `N·c(x,y)·10⁴ / (c(x)·c(y))` — PMI is `log` of the same ratio and
    * `log` is monotone, so the ranking is identical while every
    * intermediate stays an exact BIGINT both engines agree on (the
    * product is bounded by N·maxCount·10⁴; at corpus sizes where that
    * nears 2⁶³, widen to decimal(38,0) — both engines carry it).
    * `minCount` prunes the hapax tail BEFORE the unigram joins, which
    * is what keeps the join input corpus-sublinear at scale. Shape:
    * two partial-agg counts off one tokenized scan + two equality
    * joins on word; the final top-k is a sort over only the surviving
    * collocation candidates.
    */
  def pmiTop(spark: SparkSession, sf: String, k: Int = 30,
      minCount: Long = 5L): DataFrame = {
    val ws = Tables.load(spark, sf, "documents")
      .select(words(col("text")).as("ws")).filter(size(col("ws")) >= 2)
    val uni = ws.select(explode(col("ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val bi = ws.select(explode(
        graft.functions.ArrayOps.shinglesAll(col("ws"), 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
    // N = Σ(len-1) — no second explode, one partial-agg scalar
    val total = ws.agg(sum(size(col("ws")) - 1).cast("long").as("n_total"))
    bi.join(uni.select(col("w").as("w1"), col("c").as("c_x")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c_y")), Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("bigram"), col("c_xy"),
        expr("(n_total * c_xy * 10000) div (c_x * c_y)").as("lift_bp"))
      .orderBy(col("lift_bp").desc, col("bigram"))
      .limit(k)
  }

  /** DSIR-style data selection (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every raw
    * document by how much its n-gram feature distribution looks like a
    * TARGET corpus (here: the `targetLang` slice), then keep the
    * above-average scorers. Deviations from the paper, both
    * deliberate: (a) the per-feature importance is the add-one-smoothed
    * COUNT RATIO in integer basis points rather than a log-likelihood
    * ratio — exact integer arithmetic is cross-engine reproducible
    * where float logs are not, and is monotone in the same ratio;
    * (b) `buckets = None` keys features by the bigram itself — the
    * exact B→∞ limit of the paper's hashed features, and what a SQL
    * oracle can re-derive. `buckets = Some(b)` is the paper's fixed-
    * size hashed variant and the 100 TB path: the count table becomes
    * a bounded b-row artifact regardless of corpus size (rows-only
    * check; pinned by the exact mode plus the CorpusSpec agreement
    * case).
    *
    * Shape at scale: ONE gram explode feeds both corpus counts (the
    * target is a conditional sum inside the same partial-agg groupBy,
    * not a second scan), the count join is gram-equality (AQE handles
    * stopword-bigram skew), and the keep threshold (above corpus
    * mean) is a broadcast of a single aggregate row.
    */
  def dsirWeights(spark: SparkSession, sf: String,
      targetLang: String = "en", buckets: Option[Int] = None): DataFrame = {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("lang"), words(col("text")).as("ws"))
      .filter(size(col("ws")) >= 2)
    val gram = buckets match {
      case Some(b) => pmod(xxhash64(col("g")), lit(b.toLong))
      case None => col("g")
    }
    val grams = docs.select(col("doc_id"), col("lang"),
        explode(graft.functions.ArrayOps.shinglesAll(col("ws"), 2)).as("g"))
      .select(col("doc_id"), col("lang"), gram.as("gram"))
    val counts = grams.groupBy(col("gram")).agg(
      count(lit(1)).as("rc"),
      sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("tc"))
    val w = grams.join(counts, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(expr("((tc + 1) * 10000) div (rc + 1)")).as("sbp"))
      .select(col("doc_id"), col("n_grams"),
        expr("sbp div n_grams").as("weight_bp"))
    val tot = w.agg(sum(col("weight_bp")).as("tot"), count(lit(1)).as("n"))
    w.crossJoin(broadcast(tot))
      .select(col("doc_id"), col("n_grams"), col("weight_bp"),
        (col("weight_bp") * col("n") > col("tot")).cast("long").as("keep"))
      .orderBy(col("doc_id"))
  }

  /** PII-style scrubbing: redact email-shaped spans then digit runs,
    * emitting the scrubbed-content hash and per-kind redaction counts.
    * Patterns are RE2-safe (no backrefs/lookaround) so Java and DuckDB
    * regex engines agree byte-for-byte. Narrow map, no shuffle.
    */
  def piiScrub(spark: SparkSession, sf: String): DataFrame =
    piiScrubDf(Tables.load(spark, sf, "documents"))

  /** [[piiScrub]] over any (doc_id, text) frame — split out so the
    * redaction path is testable on text that actually contains
    * redactable spans (the synthetic corpus is pure lowercase prose).
    */
  def piiScrubDf(docs: DataFrame): DataFrame = {
    val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    // n_numbers counts digit runs in the EMAIL-SCRUBBED text — the
    // same stream the <NUM> replacement actually runs on. Counting the
    // raw text would tally the digits inside every address the email
    // pass already swallowed (user123@… reports a number redaction
    // that never happened), so the counts could not reconcile with
    // the scrubbed content they describe.
    val emailScrubbed = regexp_replace(col("text"), email, "<EMAIL>")
    docs
      .select(col("doc_id"),
        md5(regexp_replace(emailScrubbed, "[0-9]+", "<NUM>")).as("scrub_md5"),
        size(regexp_extract_all(col("text"), lit(email), lit(0)))
          .cast("long").as("n_emails"),
        size(regexp_extract_all(emailScrubbed, lit("[0-9]+"), lit(0)))
          .cast("long").as("n_numbers"))
      .orderBy(col("doc_id"))
  }

  /** Train/test contamination audit: near-duplicate pairs whose two
    * documents landed in DIFFERENT splits — the leakage screen run
    * before any eval is trusted. Composes the exact near-dup pair set
    * with the content-hash split; [[contaminationLsh]] is the same
    * audit off the LSH candidate pairs — the scale path. (The
    * content-hash split already sends byte-EQUAL texts to one split;
    * this audits the near-but-not-identical tail.)
    */
  def contamination(spark: SparkSession, sf: String): DataFrame =
    contaminationFrom(spark, sf, Dedup.ngramJaccard(spark, sf))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        col("split_a"), col("split_b"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** [[contamination]] fed by the verified MinHash-LSH pairs — the
    * 100 TB leakage screen: edge derivation is the banded equality
    * join + per-candidate confirm, not the exact shingle self-join.
    * Emits the pair + splits without the similarity value (the pair
    * SET is the pinned quantity; the score rides q_minhash_lsh). */
  def contaminationLsh(spark: SparkSession, sf: String): DataFrame =
    contaminationFrom(spark, sf, Dedup.minhashLsh(spark, sf))
      .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Cross-split audit of any (doc_a, doc_b) near-dup pair source. */
  private def contaminationFrom(spark: SparkSession, sf: String,
      pairs: DataFrame): DataFrame = {
    // splitAssignDf, not splitAssign: the join input must not carry
    // the presentation orderBy's global range sort (same composition
    // rule as Text.qualityScoredDf)
    val splits = splitAssignDf(Tables.load(spark, sf, "documents"))
      .select(col("doc_id"), col("split"))
    pairs
      .join(splits.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("split", "split_a"), "doc_a")
      .join(splits.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("split", "split_b"), "doc_b")
      .filter(col("split_a") =!= col("split_b"))
  }

  /** End-to-end curation pipeline — the composition the individual
    * operators exist for: quality gate (length + lexical diversity) →
    * exact dedup keeping the canonical copy → content-hash split →
    * per-(split, lang) corpus accounting. One narrow filter, one
    * digest shuffle, one final aggregation; every stage is the same
    * code path the standalone q_* operators verify.
    */
  def curate(spark: SparkSession, sf: String): DataFrame = {
    val t = toks(col("text"))
    val byFp = Window.partitionBy(col("fp"))
    Tables.load(spark, sf, "documents")
      .withColumn("n_tokens", size(t).cast("long"))
      .withColumn("n_distinct", size(array_distinct(t)).cast("long"))
      .filter(col("n_tokens") >= 10 &&
        col("n_distinct").cast("double") / col("n_tokens").cast("double") >= 0.3)
      .withColumn("fp", md5(Text.normalized(col("text"))))
      .withColumn("canonical", min(col("doc_id")).over(byFp))
      .filter(col("doc_id") === col("canonical"))
      .withColumn("split", splitLabel)
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
      .orderBy(col("split"), col("lang"))
  }

  /** Sources the NB gate routes INTO the kept set — one definition
    * interpolated into the q_curate_v2 oracle's IN list. */
  private[graft] val CurateAllowSources: Seq[String] =
    (0 until 10).map("src" + _)

  /** End-to-end curation v2 — the composed pipeline a training-data
    * team actually ships, gluing four verified stages into ONE plan:
    *
    *   1. corpus-relative QUALITY GATE (exact-percentile cut, the
    *      q_quality_gate rule: score > p25),
    *   2. NB SOURCE GATE: the frozen q_nb_classify model (trained on
    *      the standard block-stratified slice) scores the gate
    *      survivors and keeps docs routed to [[CurateAllowSources]] —
    *      classifier-based routing, the fastText-style curation step,
    *   3. SEMANTIC SURVIVOR: intersect with the cell-fed
    *      cluster-balance artifact's keep set (q_cluster_balance_lsh's
    *      shared Similarity.clusterQualityRank rule — docs that are
    *      their semantic cluster's best-quality member),
    *   4. MIXTURE REBALANCE over what survived: [[mixtureRatesFrom]]
    *      water-filling rates recomputed on the surviving per-language
    *      census, keep = content-hash bucket < rate.
    *
    * Scan sharing is the point at 100 TB: ONE persisted quality-scored
    * documents projection serves the gate threshold, the gate filter,
    * the survivor rank and the output columns; ONE persisted tokenized
    * projection serves NB training and NB scoring (the two documents
    * scans — OperatorSpec pins the reuse); the embeddings side rides
    * the cell-bucketed cluster kernel. Every stage stays a narrow
    * id-keyed join or broadcast — nothing corpus-sized funnels through
    * a driver or a single partition.
    *
    * `exact` is [[qualityGate]]'s two-mode switch, threaded through so
    * the composition obeys the same scale rule as the standalone gate:
    * the DEFAULT (`false`) computes the stage-1 cut with
    * `approx_percentile` (t-digest — fixed-size mergeable sketch,
    * constant memory per partition at any corpus size); `true` is the
    * verification mode the DuckDB oracle replays (Spark's exact
    * `percentile` buffers every score in ONE final aggregation buffer
    * — never the 100 TB path). */
  /** The CUT-INDEPENDENT upstream of [[curateV2]] — everything both
    * gate modes share: the quality-scored base projection, the
    * tokenized scan, the frozen NB model frames, and the semantic
    * survivor set (the LSH cluster kernel + quality rank — the
    * single most expensive stage). The q_curate_v2 / q_curate_v2_approx
    * driver rows are IDENTICAL upstream of the stage-1 percentile
    * cut, so re-deriving all of this per mode doubled the composed
    * pipeline's cost for zero oracle value (the r15 verdict's #1
    * bench-budget line item). */
  private case class CurateUpstream(base: DataFrame, tokenized: DataFrame,
      classes: DataFrame, counts: DataFrame, surv: DataFrame)

  /** [[CurateUpstream]] per (session, dataset): each frame is its own
    * pooled kernel ([[graft.CachePool.sessionCheckpoint]], materialized
    * per `spark.graft.pool.materialize`), so the bench harness's
    * per-query `catalog.clearCache()` cannot force the second mode to
    * replay the whole build — ONE shared pre-cut scan serves both rows
    * (and both Verify dumps). At 100 TB these are checkpoints to the
    * job's scratch storage. */
  private def curateUpstream(spark: SparkSession,
      sf: String): CurateUpstream = {
    def pooled(name: String)(df: => DataFrame) =
      graft.CachePool.sessionCheckpoint(s"curate-$name", spark, sf)(df)
    val docs = Tables.load(spark, sf, "documents")
    val base = pooled("base") {
      Text.qualityScoredDf(docs, Seq(col("lang"), splitBucket.as("bucket")))
        .select(col("doc_id"), col("lang"), col("bucket"),
          col("quality_score"))
    }
    val tokenized = pooled("tokenized")(Text.nbTokenized(docs))
    val surv = pooled("survivors") {
      Similarity.clusterQualityRank(
          Similarity.semanticClustersLsh(spark, sf),
          base.select(col("doc_id").as("vec_id"), col("quality_score")))
        .filter(col("qrank") <= 1L)
        .select(col("vec_id").as("doc_id"), col("cluster_id"))
    }
    CurateUpstream(base, tokenized,
      pooled("nb-classes")(Text.nbModelFrom(tokenized)._1),
      pooled("nb-counts")(Text.nbModelFrom(tokenized)._2), surv)
  }

  def curateV2(spark: SparkSession, sf: String,
      exact: Boolean = false): DataFrame = {
    val up = curateUpstream(spark, sf)
    val base = up.base
    val cutExpr =
      if (exact) expr("percentile(quality_score, 0.25)")
      else expr(s"approx_percentile(quality_score, 0.25, $GateAccuracy)")
    val cut = base.agg(cutExpr.as("cut"))
    val gate = base.crossJoin(broadcast(cut))
      .filter(col("quality_score") > col("cut"))
      .select(col("doc_id"), col("lang"), col("bucket"),
        col("quality_score"))
    val pred = Text.nbScore(up.tokenized.join(gate.select(col("doc_id")),
        Seq("doc_id")), up.classes, up.counts)
      .select(col("doc_id"), col("pred_source"))
    val nbKept = gate.join(pred, Seq("doc_id"))
      .filter(col("pred_source").isin(CurateAllowSources: _*))
    val kept = nbKept.join(up.surv, Seq("doc_id"))
    val rates = mixtureRatesFrom(
      kept.groupBy(col("lang")).agg(count(lit(1)).as("n_docs")))
    kept.join(broadcast(rates), Seq("lang"))
      .filter(col("bucket") < col("rate_permille"))
      .select(col("doc_id"), col("lang"), col("quality_score"),
        col("pred_source"), col("cluster_id"), col("rate_permille"))
      .orderBy(col("doc_id"))
  }

  /** The RANK-INDEPENDENT upstream of [[curateV3]]: the Gopher-passed
    * per-doc LM scores with their mixture metadata (`s2pre`) and the
    * verified LSH near-dup pair set (`pairs`) — everything upstream
    * of the stage-2 rank cut, session-shared and checkpointed exactly
    * like [[CurateUpstream]] (the rank join consumes `s2pre` three
    * times: extremes, bucket projection, rank). */
  private case class CurateV3Upstream(s2pre: DataFrame, pairs: DataFrame)
  private def curateV3Upstream(spark: SparkSession,
      sf: String): CurateV3Upstream = {
    val s2pre = graft.CachePool.sessionCheckpoint("curate-v3-s2pre",
        spark, sf) {
      val docs = Tables.load(spark, sf, "documents")
      // stage 1: the Gopher rule battery — absolute degenerate-tail
      // pruning, a pure projection-filter on the scan
      val battery = Text.gopherRulesFrom(
          docs.select(col("doc_id"), col("text")))
        .filter(col("gopher_pass") === 1L)
        .select(col("doc_id"))
      // stage 2 scores: every document under the frozen train-split
      // trigram Stupid-Backoff model (the CCNet posture — the same
      // q_backoff_score plan, served from the session-pooled
      // full-corpus scored frame, r17)
      val scored = Text.backoffScoredAll(spark, sf)
        .select(col("doc_id"), col("mean_millibits"))
      val meta = docs.select(col("doc_id"), col("lang"),
        splitBucket.as("bucket"))
      battery.join(scored, "doc_id").join(meta, "doc_id")
        .select(col("doc_id"), col("lang"), col("bucket"),
          col("mean_millibits"))
    }
    // stage 3 pair set: the VERIFIED MinHash-LSH pipeline — banding
    // proposes, margin prunes, exact confirm on shingle arrays (never
    // the raw-shingle self-join)
    val pairs = graft.CachePool.sessionCheckpoint("curate-v3-pairs",
        spark, sf) {
      Dedup.minhashLsh(spark, sf).select(col("doc_a"), col("doc_b"))
    }
    CurateV3Upstream(s2pre, pairs)
  }

  /** Value-range buckets for [[curateV3]]'s stage-2 rank. */
  val CurateV3RankBuckets = 32

  /** End-to-end curation v3 — the r15 additions composed into the
    * production stack a CCNet/Gopher-style pipeline actually runs,
    * gluing four verified stages into ONE plan (the [[curateV2]]
    * precedent with the newer, sharper stages):
    *
    *   1. GOPHER RULE BATTERY ([[Text.gopherRulesFrom]], the
    *      q_gopher_rules verdict): absolute integer-exact rules prune
    *      the degenerate tail,
    *   2. REFERENCE-LM QUALITY QUARTILE: the frozen train-split
    *      trigram Stupid-Backoff model ([[Text.backoffScoredUnsorted]]
    *      — the q_backoff_score plan) scores every survivor; keep the
    *      best-compressing 3/4 by RANK (`4·rk ≤ 3·n` under the
    *      (mean_millibits, doc_id) total order — drop the
    *      most-surprising quartile, the CCNet perplexity-filter
    *      posture). Rank, not percentile value, ON PURPOSE:
    *      mean_millibits is an integer with heavy ties, so an
    *      interpolated percentile cut and its t-digest approximation
    *      disagree about the boundary ties (measured: 3-doc diff at
    *      sf0.001) — the rank rule is integer-exact in both engines
    *      AND scale-safe via [[TwoPhase.prefix]] (no
    *      exact-percentile buffer, no single-task window, no sketch),
    *   3. LSH NEAR-DUP SURVIVOR: among what stages 1–2 kept, drop
    *      every doc that is the larger id of a verified
    *      [[Dedup.minhashLsh]] pair whose BOTH endpoints survived —
    *      the one-hop greedy keep-first rule (the
    *      [[Dedup.dedupThresholdSweep]] drop-census convention), fed
    *      by banded candidates, never an all-pairs join,
    *   4. MIXTURE REBALANCE: [[mixtureRatesFrom]] water-filling rates
    *      on the surviving per-language census, keep = content-hash
    *      bucket < rate.
    *
    * The rank-independent upstream (battery ∘ scores ∘ pair set) is
    * session-shared through [[curateV3Upstream]] (the r16
    * [[CurateUpstream]] discipline). Nothing corpus-sized funnels
    * through a driver or a single partition: the battery and scoring
    * are scans + model joins, the rank is bucket-local windows over
    * broadcast offsets, the dedup drop is an output-sized anti-join,
    * the rates a languages-sized broadcast. */
  def curateV3(spark: SparkSession, sf: String): DataFrame =
    curateV3Frames(spark, sf)._4.orderBy(col("doc_id"))

  /** q_curate_v3_funnel: the composed stack's STAGE-ATTRITION census
    * — one row per stage with the surviving document count and the
    * docs the stage dropped, the funnel table a curation team reads
    * next to any composed pipeline (every ablation section of the
    * Gopher/RefinedWeb/Dolma line opens with exactly this table).
    * Derived from the SAME stage frames as q_curate_v3 (one
    * definition — the census cannot drift from the pipeline), five
    * single-row aggregates + a 5-row lag window. */
  def curateV3Funnel(spark: SparkSession, sf: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (s2pre, kept2, s3, fin) = curateV3Frames(spark, sf)
    val corpus = Tables.load(spark, sf, "documents").select(col("doc_id"))
    def cnt(df: DataFrame, idx: Long, stage: String): DataFrame =
      df.agg(count(lit(1)).as("n_docs"))
        .select(lit(idx).as("stage_idx"), lit(stage).as("stage"),
          col("n_docs"))
    cnt(corpus, 0L, "corpus")
      .unionAll(cnt(s2pre, 1L, "gopher_pass"))
      .unionAll(cnt(kept2, 2L, "lm_quartile"))
      .unionAll(cnt(s3, 3L, "neardup_survivor"))
      .unionAll(cnt(fin, 4L, "mixture"))
      .withColumn("n_dropped_here",
        coalesce(lag(col("n_docs"), 1).over(
          Window.orderBy(col("stage_idx"))) - col("n_docs"), lit(0L)))
      .orderBy(col("stage_idx"))
  }

  /** q_curate_v3_by_source: the composed stack's attrition PER FEED —
    * [[curateV3Funnel]] sliced by `source` (the
    * [[Text.gopherBySource]] posture: batteries and gates are
    * deployed per-source in practice, and the table a team reads
    * before dropping or rescuing a feed is "where does each source's
    * mass die in MY pipeline"). Same stage frames as the pipeline
    * row; four narrow id-keyed joins against the (doc_id, source)
    * projection + ≤|sources|-row aggregates; kept share in integer
    * basis points. */
  def curateV3BySource(spark: SparkSession, sf: String): DataFrame = {
    val (s2pre, kept2, s3, fin) = curateV3Frames(spark, sf)
    val src = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("source"))
    def census(df: DataFrame, name: String): DataFrame =
      df.select(col("doc_id")).join(src, "doc_id")
        .groupBy(col("source")).agg(count(lit(1)).as(name))
    src.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(census(s2pre, "n_gopher"), Seq("source"), "left")
      .join(census(kept2, "n_quartile"), Seq("source"), "left")
      .join(census(s3, "n_neardup"), Seq("source"), "left")
      .join(census(fin, "n_kept"), Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_gopher"), lit(0L)).as("n_gopher"),
        coalesce(col("n_quartile"), lit(0L)).as("n_quartile"),
        coalesce(col("n_neardup"), lit(0L)).as("n_neardup"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        expr("(coalesce(n_kept, 0) * 10000) div n_docs").as("kept_bp"))
      .orderBy(col("source"))
  }

  /** `s2pre` plus `rk`, its global rank by (mean_millibits, doc_id),
    * and the row count — the stage-2 rank shared by [[curateV3Frames]]
    * and [[curateV3Sweep]]. [[TwoPhase.prefix]] over equal-width value
    * ranges (bucket id monotone in score, ties confined to one
    * bucket). The three range scalars are ONE bounded head() off the
    * checkpointed frame (the house driver-bounded-trainer rule), so
    * the plan carries no single-row nested-loop broadcast inside the
    * 9-way-referenced rank subtree. */
  private def curateV3Ranked(s2pre: DataFrame): (DataFrame, Long) = {
    val ext = s2pre.agg(min(col("mean_millibits")),
      max(col("mean_millibits")), count(lit(1))).head()
    val (mn, mx, nTotal) = (ext.getLong(0), ext.getLong(1), ext.getLong(2))
    val width = math.max(1L,
      math.ceil((mx - mn + 1).toDouble / CurateV3RankBuckets).toLong)
    val ranged = s2pre
      .withColumn("vb", expr(s"(mean_millibits - ${mn}L) div ${width}L"))
    (TwoPhase.prefix(ranged, Nil, Seq("vb"),
      Seq(col("mean_millibits"), col("doc_id")), lit(1L), "rk"), nTotal)
  }

  /** The four stage frames of [[curateV3]] — (gopher-passed scored
    * set, rank-quartile survivors, near-dup survivors, mixture-kept
    * output) — shared by the pipeline row and its funnel census. */
  private[graft] def curateV3Frames(spark: SparkSession, sf: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val up = curateV3Upstream(spark, sf)
    val (ranked, nTotal) = curateV3Ranked(up.s2pre)
    // pooled: the quartile survivors feed the two dedup id joins, the
    // anti-join left side, and the mixture census — unpersisted, each
    // consumer would re-run the rank window (generational CachePool,
    // one cached generation per session)
    val kept2 = graft.CachePool.swapOne("curate-v3-kept2",
      ranked.filter(col("rk") * 4 <= lit(nTotal * 3))
        .select(col("doc_id"), col("lang"), col("bucket"),
          col("mean_millibits")))
    val ids = kept2.select(col("doc_id"))
    val dropIds = up.pairs
      .join(ids.withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .join(ids.withColumnRenamed("doc_id", "doc_b"), "doc_b")
      .select(col("doc_b").as("doc_id")).distinct()
    val s3 = kept2.join(dropIds, Seq("doc_id"), "left_anti")
    val rates = mixtureRatesFrom(
      s3.groupBy(col("lang")).agg(count(lit(1)).as("n_docs")))
    val fin = s3.join(broadcast(rates), Seq("lang"))
      .filter(col("bucket") < col("rate_permille"))
      .select(col("doc_id"), col("lang"), col("mean_millibits"),
        col("rate_permille"))
    (up.s2pre, kept2, s3, fin)
  }

  /** Rank-cut fractions swept by [[curateV3Sweep]], in basis points
    * of the kept LM-rank mass: half to seven-eighths around the
    * production 3/4. Interpolated into both engines. */
  val CurateV3SweepCutsBp: Seq[Long] = Seq(5000L, 6250L, 7500L, 8750L)

  /** q_curate_v3_sweep: the LM-rank-cut KNOB-TUNING curve for the
    * composed curation stack — before freezing the production 3/4
    * quartile, a curation team sweeps the cut and reads how much
    * corpus each setting keeps and how much of the kept mass the
    * near-dup keep-first rule then removes (the
    * [[graft.operators.Dedup.dedupThresholdSweep]] convention applied
    * to [[curateV3]]'s stage-2 knob). One row per candidate cut:
    * stage-2 survivors, keep-first near-dup drops among them, and the
    * post-dedup survivor count.
    *
    * Shape: the global rank is computed ONCE off the session-shared
    * checkpointed upstream ([[curateV3Ranked]] — no single-task
    * window), then every cut is
    * arithmetic over (a) the pooled rank frame (one |cuts|-row
    * broadcast fan-out + partial agg) and (b) the rank-joined pair
    * frame (output-bounded — near-dup pairs, not the corpus). The
    * sweep costs ONE rank pass + |pairs|·|cuts| projection, never a
    * pipeline re-run per knob. */
  def curateV3Sweep(spark: SparkSession, sf: String): DataFrame = {
    val up = curateV3Upstream(spark, sf)
    val (rankedAll, nTotal) = curateV3Ranked(up.s2pre)
    // pooled: the rank frame feeds the per-cut census AND both sides
    // of the pair-rank join
    val ranked = graft.CachePool.swapOne("curate-v3-sweep-ranked",
      rankedAll.select(col("doc_id"), col("rk")))
    val cuts = spark.range(1)
      .select(explode(typedLit(CurateV3SweepCutsBp)).as("cut_bp"))
    val n2 = ranked.crossJoin(broadcast(cuts))
      .filter(col("rk") * 10000 <= col("cut_bp") * lit(nTotal))
      .groupBy(col("cut_bp")).agg(count(lit(1)).as("n_rank_kept"))
    val pairRk = up.pairs
      .join(ranked.select(col("doc_id").as("doc_a"), col("rk").as("rk_a")),
        "doc_a")
      .join(ranked.select(col("doc_id").as("doc_b"), col("rk").as("rk_b")),
        "doc_b")
    val drops = pairRk.crossJoin(broadcast(cuts))
      .filter(col("rk_a") * 10000 <= col("cut_bp") * lit(nTotal) &&
        col("rk_b") * 10000 <= col("cut_bp") * lit(nTotal))
      .select(col("cut_bp"), col("doc_b")).distinct()
      .groupBy(col("cut_bp")).agg(count(lit(1)).as("n_dup_dropped"))
    cuts.join(n2, Seq("cut_bp"), "left")
      .join(drops, Seq("cut_bp"), "left")
      .select(col("cut_bp"),
        coalesce(col("n_rank_kept"), lit(0L)).as("n_rank_kept"),
        coalesce(col("n_dup_dropped"), lit(0L)).as("n_dup_dropped"),
        (coalesce(col("n_rank_kept"), lit(0L)) -
          coalesce(col("n_dup_dropped"), lit(0L))).as("n_survivors"))
      .orderBy(col("cut_bp"))
  }

  /** Sampling-exponent points for [[temperatureSweep]] in basis
    * points: α ∈ {0, 1/4, 1/2, 1}. Restricted ON PURPOSE to exponents
    * expressible through correctly-rounded IEEE primitives (keep-all,
    * sqrt∘sqrt, sqrt, integer ratio) — arbitrary-α `pow` carries no
    * cross-engine bit guarantee (the [[temperatureSample]] rule). */
  val TemperatureAlphasBp: Seq[Long] = Seq(0L, 2500L, 5000L, 10000L)

  /** q_temperature_sweep: the sampling-TEMPERATURE knob curve — the
    * per-language keep rate and kept-document census at each α, the
    * table a multilingual-corpus team reads before committing a
    * temperature (the mBERT/XLM-R α ablation): α=0 keeps everything,
    * α=1 samples proportional to share (maximum downsampling of the
    * head), the production α=1/2 sits between.
    *
    * Shape: the corpus is scanned ONCE for a (lang, bucket) census
    * (≤ languages × 1000 aggregated rows); every α's rate AND kept
    * count are arithmetic over that census — the
    * [[graft.operators.Dedup.dedupThresholdSweep]] fan-out
    * convention (sweep cost = |langs·buckets| × |alphas| projection,
    * never a corpus rescan per knob). */
  def temperatureSweep(spark: SparkSession, sf: String): DataFrame = {
    val docs = Tables.load(spark, sf, "documents")
    val census = docs.groupBy(col("lang"), splitBucket.as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val counts = census.groupBy(col("lang")).agg(sum(col("cnt")).as("n_docs"))
    val mx = counts.agg(max(col("n_docs")).as("mx"))
    val alphas = spark.range(1)
      .select(explode(typedLit(TemperatureAlphasBp)).as("alpha_bp"))
    val rates = counts.crossJoin(broadcast(mx)).crossJoin(broadcast(alphas))
      .select(col("alpha_bp"), col("lang"),
        when(col("alpha_bp") === 0L, lit(1000L))
          .when(col("alpha_bp") === 2500L,
            least(lit(1000L), floor(lit(1000.0) *
              sqrt(sqrt(col("n_docs").cast("double"))) /
              sqrt(sqrt(col("mx").cast("double")))).cast("long")))
          .when(col("alpha_bp") === 5000L,
            least(lit(1000L), floor(lit(1000.0) *
              sqrt(col("n_docs").cast("double")) /
              sqrt(col("mx").cast("double"))).cast("long")))
          .otherwise(expr("n_docs * 1000 div mx"))
          .as("rate_permille"))
    val kept = rates.join(census, Seq("lang"))
      .filter(col("bucket") < col("rate_permille"))
      .groupBy(col("alpha_bp"), col("lang"))
      .agg(sum(col("cnt")).as("n_kept"))
    rates.join(kept, Seq("alpha_bp", "lang"), "left")
      .select(col("alpha_bp"), col("lang"), col("rate_permille"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy(col("alpha_bp"), col("lang"))
  }

  /** Deterministic per-language stratified sampling — the corpus
    * rebalancing step (downsample a dominant language, keep the tail
    * whole). The keep decision is `content-hash bucket < rate‰` per
    * stratum: reproducible, order- and partitioning-independent, and
    * coherent with [[splitAssign]] (same bucket function, so resampled
    * corpora keep their split assignments). Pure projection + filter —
    * zero shuffle at any scale; changing a stratum's rate yields a
    * strict subset/superset (nested samples), the property that makes
    * ablation corpora comparable.
    */
  def stratifiedSample(spark: SparkSession, sf: String,
      permilleByLang: Map[String, Int] = Map("en" -> 500),
      defaultPermille: Int = 1000): DataFrame = {
    val rate = permilleByLang.foldLeft(lit(defaultPermille)) {
      case (acc, (lang, r)) => when(col("lang") === lang, lit(r)).otherwise(acc)
    }
    Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("lang"), splitBucket.as("bucket"),
        rate.cast("long").as("rate_permille"))
      .filter(col("bucket") < col("rate_permille"))
      .orderBy(col("doc_id"))
  }

  /** Fold count for [[stratifiedKfold]]. Interpolated into both
    * engines. */
  val KfoldK = 5

  /** Hash-range buckets for [[stratifiedKfold]]'s per-stratum rank. */
  val KfoldRankBuckets = 64

  /** q_stratified_kfold: K-fold cross-validation assignment,
    * stratified by language — every fold receives ⌊nₗ/K⌋ or ⌈nₗ/K⌉
    * documents of each language (the class-balance property plain
    * `hash % K` does NOT give: a residue split's per-fold class counts
    * are binomial, and a small class can land entirely in one fold).
    * Documents order within their stratum by CONTENT hash (first 8 md5
    * hex digits — the [[splitBucket]] family), so the assignment is a
    * pure function of content: reproducible across engines,
    * partitionings, and runs, and stable under corpus reordering.
    * Fold = (per-stratum rank − 1) mod K — the round-robin deal.
    *
    * Scale shape: a stratum at 100 TB cannot ride one
    * `Window.partitionBy(lang)` task, so the per-stratum rank is
    * [[TwoPhase.prefix]] by `lang` over [[KfoldRankBuckets]]
    * equal-width ranges of the hash value. */
  def stratifiedKfold(spark: SparkSession, sf: String,
      k: Int = KfoldK, buckets: Int = KfoldRankBuckets): DataFrame = {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("lang"),
        expr("cast(conv(substring(md5(text), 1, 8), 16, 10) as bigint)")
          .as("h"))
    // equal-width hash ranges: h is uniform in [0, 2^32)
    val width = (1L << 32) / buckets
    val ranged = docs.withColumn("bucket", expr(s"h div ${width}L"))
    TwoPhase.prefix(ranged, Seq("lang"), Seq("bucket"),
        Seq(col("h"), col("doc_id")), lit(1L), "rk")
      .select(col("doc_id"), col("lang"),
        ((col("rk") - 1) % k).cast("long").as("fold"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB replay of [[stratifiedKfold]]: the bare per-stratum
    * ROW_NUMBER over (hash, doc_id) — the two-phase construction must
    * reproduce the identical total order per stratum. */
  def stratifiedKfoldOracle: String =
    s"""SELECT doc_id, lang,
         CAST((ROW_NUMBER() OVER (PARTITION BY lang
           ORDER BY ('0x' || substring(md5(text), 1, 8))::BIGINT, doc_id)
           - 1) % $KfoldK AS BIGINT) AS fold
       FROM documents
       ORDER BY doc_id"""

  /** t-digest accuracy knob shared by [[qualityGate]] and
    * [[curateV2]]'s default (approximate) stage-1 cut. */
  val GateAccuracy = 10000

  /** Corpus-relative quality gate: keep documents whose composite
    * [[Text.quality]] score clears the corpus q-quantile — the "drop
    * the worst quartile" curation cut, made against the corpus's own
    * distribution rather than a magic constant. The threshold is one
    * scalar aggregate broadcast over a narrow filter — the gate itself
    * stays a map, no shuffle of the corpus either way.
    *
    * `exact = false` (the DEFAULT — the scale path) computes the cut
    * with `approx_percentile` (t-digest, fixed-size sketch, mergeable
    * partial aggregation): constant memory per partition at any corpus
    * size. `exact = true` uses Spark's exact `percentile`, which
    * buffers EVERY score in a single aggregation buffer — the
    * verification-scale oracle mode (it matches DuckDB's
    * `quantile_cont` interpolation bit-for-bit), never the 100 TB
    * path. `accuracy` is the t-digest knob (default 10⁴ ≈ 10⁻⁴
    * quantile error — the cut moves by at most that quantile mass).
    */
  def qualityGate(spark: SparkSession, sf: String,
      q: Double = 0.25, exact: Boolean = false,
      accuracy: Int = GateAccuracy): DataFrame = {
    val scored = Text.qualityScoredDf(Tables.load(spark, sf, "documents"))
      .select(col("doc_id"), col("quality_score"))
    val cutExpr =
      if (exact) expr(s"percentile(quality_score, $q)")
      else expr(s"approx_percentile(quality_score, $q, $accuracy)")
    val cut = scored.agg(cutExpr.as("cut"))
    scored.crossJoin(broadcast(cut))
      .filter(col("quality_score") > col("cut"))
      .select(col("doc_id"), col("quality_score"))
      .orderBy(col("doc_id"))
  }

  /** Quality thresholds (integer per-mille of the composite score)
    * swept by [[qualityThresholdSweep]] — spanning the fixture's
    * score range (measured ≈ [0.15, 0.55] at every SF) so the curve
    * actually bends. Interpolated into both engines; the comparison
    * value is `threshold_pm / 1000.0`, a correctly-rounded IEEE
    * division both engines perform identically. */
  val QualitySweepThresholdsPm: Seq[Long] =
    Seq(180L, 220L, 260L, 300L, 350L, 400L)

  /** q_quality_sweep: the quality-gate KNOB-TUNING curve — the
    * [[graft.operators.Dedup.dedupThresholdSweep]] pattern applied to
    * the curation gate: before committing an absolute score cutoff, a
    * curation team sweeps it and reads how much corpus (documents AND
    * tokens — quality cuts are never token-neutral, low-score docs
    * skew short or degenerate) each setting keeps. ONE scoring scan
    * ([[Text.qualityScoredDf]] — the same composite q_quality_gate
    * ranks by), one |docs|×|thresholds| fan-out projection, bounded
    * aggregation; kept shares in integer basis points off a
    * broadcast single-row total.
    *
    * Where [[qualityGate]] cuts at a score QUANTILE (drop the worst
    * quartile wherever it falls), this curve prices ABSOLUTE cuts —
    * the two compose: the sweep picks the threshold, the gate's
    * percentile form monitors drift once the threshold is frozen. */
  def qualityThresholdSweep(spark: SparkSession, sf: String): DataFrame = {
    val scored = Text.qualityScoredDf(Tables.load(spark, sf, "documents"))
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
    val totals = scored.agg(count(lit(1)).as("total_docs"),
      sum(col("n_tokens")).as("total_tokens"))
    val swept = scored
      .select(col("n_tokens"), col("quality_score"),
        explode(typedLit(QualitySweepThresholdsPm)).as("threshold_pm"))
      .filter(col("quality_score") >=
        col("threshold_pm").cast("double") / lit(1000.0))
      .groupBy(col("threshold_pm"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_tokens")).as("kept_tokens"))
    spark.range(1)
      .select(explode(typedLit(QualitySweepThresholdsPm)).as("threshold_pm"))
      .join(swept, Seq("threshold_pm"), "left")
      .crossJoin(broadcast(totals))
      .select(col("threshold_pm"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("total_docs") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        expr("(coalesce(n_kept, 0) * 10000) div total_docs")
          .as("kept_docs_bp"),
        expr("(coalesce(kept_tokens, 0) * 10000) div total_tokens")
          .as("kept_tokens_bp"))
      .orderBy(col("threshold_pm"))
  }

  /** Deterministic epoch shuffle: a reproducible pseudo-random total
    * order over the corpus per training epoch — same epoch, same data
    * → bit-identical order on any cluster/partitioning; a new epoch
    * reshuffles. The shuffle key is `md5("epoch<e>:" || doc_id)`
    * (content-free, so the order is stable under text edits; keyed on
    * the id like the split/sample bucket functions).
    *
    * The global rank is [[TwoPhase.prefix]]: the first two hex digits
    * of the key range-bucket rows into 256 ordered groups (hex-string
    * order == numeric order at fixed width). At 100 TB the writer
    * pairs this with `repartitionByRange(shuffle_rank)` +
    * `sortWithinPartitions` to lay out training shards.
    */
  def epochShuffle(spark: SparkSession, sf: String,
      epoch: Int = 1): DataFrame = {
    val keyed = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        md5(concat(lit(s"epoch$epoch:"), col("doc_id").cast("string")))
          .as("skey"))
      .withColumn("bucket",
        expr("cast(conv(substring(skey, 1, 2), 16, 10) as bigint)"))
    TwoPhase.prefix(keyed, Nil, Seq("bucket"),
        Seq(col("skey"), col("doc_id")), lit(1L), "rk")
      .select(col("doc_id"), (col("rk") - 1).as("shuffle_rank"))
      .orderBy(col("doc_id"))
  }

  /** Temperature-scaled multilingual sampling (the mBERT/XLM-R α=0.5
    * recipe): each language is kept at a rate ∝ √(its share), so
    * dominant languages are downsampled toward parity and tail
    * languages kept whole — `rate_permille(l) = min(1000,
    * ⌊1000·√n_l/√n_max⌋)`. α is FIXED at 0.5 because `sqrt`, `*`, `/`
    * are correctly-rounded IEEE in every engine (bit-identical rates
    * cross-engine); arbitrary-α `pow` carries no such guarantee.
    * The keep decision is the same content-hash bucket as
    * [[splitAssign]]/[[stratifiedSample]] — zero shuffle of the
    * corpus; the rate table is one tiny broadcast (languages ×
    * counts come from one partial-aggregated groupBy).
    */
  def temperatureSample(spark: SparkSession, sf: String): DataFrame = {
    val docs = Tables.load(spark, sf, "documents")
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val mx = counts.agg(max(col("n_docs")).as("mx"))
    val rates = counts.crossJoin(broadcast(mx))
      .select(col("lang"),
        least(lit(1000L),
          floor(lit(1000.0) * sqrt(col("n_docs").cast("double")) /
            sqrt(col("mx").cast("double"))).cast("long"))
          .as("rate_permille"))
    docs.join(broadcast(rates), "lang")
      .select(col("doc_id"), col("lang"), splitBucket.as("bucket"),
        col("rate_permille"))
      .filter(col("bucket") < col("rate_permille"))
      .orderBy(col("doc_id"))
  }

  /** Gram width for [[dupNgramFrac]]. Gopher (Rae et al. 2021, App. A)
    * tracks duplicate-n-gram character fractions for n = 5…10 on web
    * text; this fixture's documents are short streams over a compact
    * vocabulary where 5-grams never repeat within a doc (measured: 0
    * duplicated 5-grams at every SF) while 3-grams do — so 3 is the
    * analogous non-degenerate knob here. Interpolated into both
    * engines. */
  val DupGramN = 3

  /** q_dup_ngram_frac: the duplicate-n-gram COVERAGE fraction per
    * document — what share of a doc's tokens sit inside some
    * word-[[DupGramN]]-gram that occurs ≥ 2× WITHIN the same doc (the
    * Gopher repetition family's n-gram member; [[repetition]] covers
    * only the top-unigram share, and this is the signal that catches
    * looped phrases and template stutter a unigram census misses).
    * Coverage is an interval UNION — overlapping duplicated grams
    * must not double-count a token — computed as count(distinct
    * covered index). Output in integer per-mille (count·1000 div
    * n_tokens — engine-exact).
    *
    * Scale shape: all wide ops are doc-keyed — one (doc, gram-hash)
    * partial-agg census (grams census on `xxhash64`, the
    * q_boilerplate exchange rule: 8-byte keys, never gram strings),
    * one hash-equality join back, one (doc, idx) distinct — fan-out
    * bounded by [[DupGramN]]× the token stream; no window, no driver
    * state.
    *
    * DELIBERATE keying asymmetry (the q_boilerplate caveat, restated
    * here): the engine's within-doc duplicate census keys on
    * `xxhash64(gram)` while the DuckDB oracle compares raw gram
    * strings — a 64-bit collision between two DISTINCT grams inside
    * one document would mark both as duplicated and split the
    * engines. With ≤ ~10⁴ grams per document the within-doc birthday
    * bound is ≤ ~10⁻¹¹ per doc; accepted, because shuffling 8-byte
    * keys instead of gram strings is the whole exchange-width win. */
  def dupNgramFrac(spark: SparkSession, sf: String,
      n: Int = DupGramN): DataFrame = {
    // ONE corpus scan: the hashed-gram arrays + token counts persist
    // together and serve all three consumers (dup census, coverage
    // join, final per-doc projection) — the naive three-branch form
    // re-scanned documents per consumer (plan-audited). The cached
    // projection is hashes + counts, never text.
    // sequence(0, k) DESCENDS for k < 0 — short docs take the guard.
    val base = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), words(col("text")).as("t"))
      .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"),
        when(size(col("t")) >= n, transform(
            sequence(lit(0L), (size(col("t")) - n).cast("long")),
            i => xxhash64(array_join(
              slice(col("t"), (i + 1).cast("int"), lit(n)), " "))))
          .otherwise(typedLit(Seq.empty[Long])).as("gh"))
    val baseC = graft.CachePool.swapOne("chunk-gram-base", base)
    val grams = baseC
      .select(col("doc_id"), posexplode(col("gh")).as(Seq("pos", "gram_h")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("gram_h"))
    val dup = grams.groupBy(col("doc_id"), col("gram_h"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
      .select(col("doc_id"), col("gram_h"))
    val covered = grams.join(dup, Seq("doc_id", "gram_h"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("idx"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_covered"))
    baseC.select(col("doc_id"), col("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        expr("coalesce(n_covered, 0) * 1000 div greatest(n_tokens, 1)")
          .cast("long").as("dup_pm"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB replay of [[dupNgramFrac]]: same tokenizer, gram windows
    * (list slicing is 1-based end-inclusive — matches Spark's
    * slice(t, pos+1, n)), within-doc dup census, and distinct-index
    * coverage union. */
  def dupNgramFracOracle: String = {
    val n = DupGramN
    s"""WITH t AS (
         SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t
         FROM documents),
       b AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n_tokens FROM t),
       g AS (
         SELECT doc_id, CAST(i AS BIGINT) AS pos,
           array_to_string(t[CAST(i + 1 AS INT):CAST(i + $n AS INT)], ' ')
             AS gram
         FROM b, LATERAL (SELECT unnest(range(0, n_tokens - $n + 1)) AS i) s
         WHERE n_tokens >= $n),
       dup AS (SELECT doc_id, gram FROM g GROUP BY 1, 2
               HAVING COUNT(*) >= 2),
       cov AS (
         SELECT doc_id, CAST(COUNT(DISTINCT idx) AS BIGINT) AS n_covered
         FROM (SELECT gg.doc_id, gg.pos FROM g gg JOIN dup
                 USING (doc_id, gram)) dp,
           LATERAL (SELECT unnest(generate_series(pos, pos + ${n - 1}))
             AS idx) ix
         GROUP BY doc_id)
       SELECT b.doc_id, b.n_tokens,
         CAST(COALESCE(cov.n_covered, 0) AS BIGINT) AS n_covered,
         CAST(COALESCE(cov.n_covered, 0) * 1000
           // greatest(b.n_tokens, 1) AS BIGINT) AS dup_pm
       FROM b LEFT JOIN cov USING (doc_id)
       ORDER BY b.doc_id"""
  }

  /** Within-document repetition score (Gopher-style quality signal):
    * the most-frequent word's share of all words. Boilerplate and
    * keyword-stuffed spam score high; prose scores low. One shuffle on
    * (doc_id, word) with map-side combine, then a per-doc rollup.
    */
  def repetition(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "documents")
      .select(col("doc_id"), explode(words(col("text"))).as("word"))
      .groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_words"),
        count(lit(1)).as("n_distinct"),
        max(col("tf")).as("top_tf"))
      .select(col("doc_id"), col("n_words"), col("n_distinct"), col("top_tf"),
        (col("top_tf").cast("double") / col("n_words").cast("double"))
          .as("rep_ratio"))
      .orderBy(col("doc_id"))

  /** Token-budget curation: keep the highest-quality documents whose
    * cumulative token count fits a global `budget` — the "give me the
    * best N tokens" selection a training run makes against a curated
    * pool. Greedy by [[Text.quality]] composite (doc_id tie-break):
    * a doc is kept iff the running token total THROUGH it stays within
    * budget, so the kept set is a prefix of the quality ordering and
    * shrinking the budget always yields a subset (ablation-comparable
    * corpora, same argument as [[stratifiedSample]]'s nesting).
    *
    * The running total is [[TwoPhase.prefix]] over equal-width
    * QUALITY-RANGE buckets (descending; score order ↔ bucket order,
    * ties stay within one bucket since the bucket is a function of the
    * score). Token counts are integers, so the cumulative sums are
    * exact regardless of how the double-valued bucket boundaries
    * fall.
    */
  def tokenBudget(spark: SparkSession, sf: String,
      budget: Long = 10000L, buckets: Int = 32): DataFrame = {
    val scored = Text.qualityScoredDf(Tables.load(spark, sf, "documents"))
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
    val ext = scored.agg(min(col("quality_score")).as("mn"),
      max(col("quality_score")).as("mx"))
    val ranged = scored.crossJoin(broadcast(ext))
      .withColumn("bucket",
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(lit(buckets - 1L),
            floor((col("mx") - col("quality_score")) /
              ((col("mx") - col("mn")) / buckets)))))
    TwoPhase.prefix(ranged, Nil, Seq("bucket"),
        Seq(col("quality_score").desc, col("doc_id")), col("n_tokens"),
        "cum_tokens")
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"),
        col("cum_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Balanced training-shard layout: round-robin over the corpus in
    * token-count-descending order — `shard = (size_rank − 1) mod
    * shards` — the classic LPT-style bound without greedy state: each
    * "round" of `shards` consecutive ranks spreads its largest-vs-
    * smallest gap across different shards, so shard token totals differ
    * by at most one document's tokens (CorpusSpec asserts the bound).
    * The writer pairs this with `repartition(col("shard"))` to produce
    * byte-balanced output files — the fix for the long-tail-straggler
    * shard a naive hash split produces when doc sizes are skewed.
    *
    * The global size rank is [[TwoPhase.prefix]] over equal-width
    * TOKEN-COUNT ranges (descending, all-integer).
    */
  def shardAssign(spark: SparkSession, sf: String,
      shards: Int = 8, buckets: Int = 32): DataFrame = {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), size(toks(col("text"))).cast("long").as("n_tokens"))
    val ext = docs.agg(min(col("n_tokens")).as("mn"),
      max(col("n_tokens")).as("mx"))
    val ranged = docs.crossJoin(broadcast(ext))
      .withColumn("bucket", expr(
        s"(mx - n_tokens) div cast(ceil((mx - mn + 1) / $buckets.0) as bigint)"))
    TwoPhase.prefix(ranged, Nil, Seq("bucket"),
        Seq(col("n_tokens").desc, col("doc_id")), lit(1L), "rk")
      .select(col("doc_id"), col("n_tokens"),
        ((col("rk") - 1) % shards).as("shard"))
      .orderBy(col("doc_id"))
  }

  /** Sliding-window chunk layout: split every document into
    * fixed-size token chunks with overlap (`chunk` tokens per window,
    * window starts every `stride` tokens, `chunk − stride` tokens of
    * overlap) — the RAG-indexing / context-window-packing step between
    * curation and tokenize-and-write. Emits one row per (doc, chunk)
    * with the token span; the final short chunk is kept (clamped to the
    * doc end) and every doc yields at least one chunk.
    *
    * `n_chunks = 1 + max(0, ⌈(n − chunk)/stride⌉)` in pure integer
    * arithmetic. Narrow map + explode — zero shuffle at any scale; the
    * output expansion factor is exactly the chosen overlap ratio, and
    * the explode is codegen'd row multiplication, not a join. Fixture
    * defaults are sized to the synthetic docs (~50 tokens); a real
    * pipeline runs e.g. chunk=2048, stride=1920.
    */
  def chunkStride(spark: SparkSession, sf: String,
      chunk: Int = 32, stride: Int = 24): DataFrame =
    Tables.load(spark, sf, "documents")
      .select(col("doc_id"), size(toks(col("text"))).cast("long").as("n_tokens"))
      .withColumn("n_chunks",
        expr(s"1L + greatest(0L, (n_tokens - $chunk + ${stride - 1}) div $stride)"))
      .select(col("doc_id"), col("n_tokens"),
        explode(expr("sequence(0L, n_chunks - 1L)")).as("chunk_idx"))
      .withColumn("start_tok", col("chunk_idx") * stride)
      .withColumn("end_tok",
        least(col("start_tok") + chunk, col("n_tokens")))
      .select(col("doc_id"), col("n_tokens"), col("chunk_idx"),
        col("start_tok"), col("end_tok"),
        (col("end_tok") - col("start_tok")).as("chunk_tokens"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Explicit-target mixture sampling — the data-mixing step where the
    * recipe says "the blend is 40% en, 15% each of zh/es/de/fr" rather
    * than a formula over observed shares ([[temperatureSample]]'s
    * cousin with the ratios chosen by the experimenter). Produces the
    * LARGEST mixture achievable from the available per-language pools
    * at exactly those proportions: the binding language is the one that
    * exhausts first (`T = min_l ⌊n_l·1000/p_l⌋`), and every language's
    * keep rate is then `⌊p_l·T/n_l⌋` permille (capped at 1000). All
    * rate arithmetic is integer multiply/divide — bit-identical in any
    * engine. Languages absent from the target map are dropped.
    *
    * The keep decision is the shared content-hash bucket
    * ([[splitAssign]]/[[stratifiedSample]]/[[temperatureSample]] — one
    * policy, so mixtures nest with splits): the corpus is never
    * shuffled, the rate table is one broadcast of a
    * languages-sized frame built from a partial-aggregated groupBy.
    */
  /** The default mixture recipe — ONE definition interpolated into
    * the engine default AND the q_mixture_sample / q_curate_v2 oracle
    * CASE expressions (the pageRankOracle one-constant pattern), so a
    * retuned mixture retunes both sides in the same commit. Ordered
    * for deterministic SQL generation. */
  private[graft] val MixtureTargets: Seq[(String, Int)] = Seq(
    "en" -> 400, "zh" -> 150, "es" -> 150, "de" -> 150, "fr" -> 150)

  def mixtureSample(spark: SparkSession, sf: String,
      targetPermille: Map[String, Int] = MixtureTargets.toMap)
      : DataFrame = {
    val docs = Tables.load(spark, sf, "documents")
    val rates = mixtureRatesFrom(
      docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs")),
      targetPermille)
    docs.join(broadcast(rates), "lang")
      .select(col("doc_id"), col("lang"), splitBucket.as("bucket"),
        col("rate_permille"))
      .filter(col("bucket") < col("rate_permille"))
      .orderBy(col("doc_id"))
  }

  /** Per-language keep rates for the water-filling mixture: the total
    * corpus size is set by the scarcest language relative to its
    * target share (t_total = min n_docs·1000/target), every language
    * keeps `target·t_total div n_docs` per-mille capped at 1000.
    * Factored over any (lang, n_docs) frame so [[mixtureSample]]
    * (whole corpus) and [[curateV2]] (the surviving subset) share one
    * rate definition. */
  private[graft] def mixtureRatesFrom(byLang: DataFrame,
      targetPermille: Map[String, Int] = MixtureTargets.toMap,
      massCol: String = "n_docs"): DataFrame = {
    val target = targetPermille.foldLeft(lit(0L)) {
      case (acc, (l, p)) => when(col("lang") === l, lit(p.toLong)).otherwise(acc)
    }
    val counts = byLang
      .withColumn("target_permille", target)
      .filter(col("target_permille") > 0)
    val tmin = counts.agg(
      min(expr(s"$massCol * 1000 div target_permille")).as("t_total"))
    counts.crossJoin(broadcast(tmin))
      .select(col("lang"),
        least(lit(1000L),
          expr(s"(target_permille * t_total) div $massCol"))
          .as("rate_permille"))
  }

  /** q_token_mixture: the water-filling mixture computed on TOKEN
    * MASS — what a training run actually budgets ([[mixtureSample]]
    * rebalances document COUNTS; two corpora with identical doc
    * counts but 10× different mean lengths are not the same mixture
    * to a token-budgeted run). Identical integer water-filling
    * arithmetic over the per-language token census
    * ([[mixtureRatesFrom]] with the mass column swapped — one rate
    * definition, two census units): the binding language is the one
    * whose TOKEN pool exhausts first, and the keep decision stays the
    * shared content-hash bucket, i.e. doc-level thinning whose kept
    * token share converges to rate‰ because the hash is decorrelated
    * from length. Zero extra shuffle over the census groupBy; rates
    * broadcast. */
  def tokenMixture(spark: SparkSession, sf: String,
      targetPermille: Map[String, Int] = MixtureTargets.toMap)
      : DataFrame = {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("lang"), splitBucket.as("bucket"),
        size(toks(col("text"))).cast("long").as("n_tokens"))
    val rates = mixtureRatesFrom(
      docs.groupBy(col("lang")).agg(sum(col("n_tokens")).as("total_tokens")),
      targetPermille, massCol = "total_tokens")
    docs.join(broadcast(rates), "lang")
      .filter(col("bucket") < col("rate_permille"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("bucket"),
        col("rate_permille"))
      .orderBy(col("doc_id"))
  }

  /** Token-mass systematic sampling: walk the corpus in content-hash
    * order and keep every document that straddles a multiple of `step`
    * tokens in the running total — classic systematic sampling over
    * the cumulative token mass. Each document's keep probability is
    * min(1, n_tokens/step) (size-proportional: long documents are
    * ALWAYS kept, a 1-token doc survives at 1/step), the sample holds
    * ≈ total_tokens/step documents spaced evenly through the mass, and
    * everything is integer compares on long cumsums — no float RNG, so
    * the sample is bit-identical on re-run and in any engine. The
    * hash-order walk is what makes "systematic" unbiased here: corpus
    * position is decorrelated from content before the stride is laid
    * over it.
    *
    * Scale: the running total is [[TwoPhase.prefix]] over equal-width
    * HASH-KEY ranges (the key is uniform on [0, 2³²), so ranges are
    * balanced by construction).
    */
  def systematicSample(spark: SparkSession, sf: String,
      step: Long = 100, buckets: Int = 32): DataFrame = {
    val width = ((1L << 32) + buckets - 1) / buckets
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        size(toks(col("text"))).cast("long").as("n_tokens"),
        expr("cast(conv(substring(md5(text), 1, 8), 16, 10) as bigint)")
          .as("hkey"))
      .withColumn("bucket", expr(s"hkey div ${width}L"))
    TwoPhase.prefix(docs, Nil, Seq("bucket"),
        Seq(col("hkey"), col("doc_id")), col("n_tokens"), "cum")
      .filter(expr(s"cum div ${step}L > (cum - n_tokens) div ${step}L"))
      .select(col("doc_id"), col("n_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Dataset card — the one-call corpus summary a pipeline publishes
    * with a release: document/token/char volume, language and source
    * breadth, exact-duplicate mass, token-length extremes, and
    * vocabulary size, in long (metric, value) format. Every metric is
    * a count/sum/distinct over integers, so the card is bit-identical
    * in any engine and any partitioning (float means are deliberately
    * excluded: a double sum is order-dependent; the per-row quality
    * surface lives in [[Text.quality]] where rows, not sums, are
    * compared).
    *
    * Plan: one scan drives every base aggregate (single partial-agg
    * reduction); the vocabulary branch is the only explode, reduced by
    * countDistinct on the term. The exact distincts (Expand) are the
    * verification-scale form; at 100 TB swap `approx_count_distinct`
    * for the same single-scan shape minus Expand, as in the profiler.
    */
  def datasetCard(spark: SparkSession, sf: String): DataFrame = {
    val docs = Tables.load(spark, sf, "documents")
    val nTok = size(toks(col("text"))).cast("long")
    val base = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(nTok).as("n_tokens"),
      sum(length(col("text")).cast("long")).as("n_chars"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(md5(col("text"))).as("n_unique_docs"),
      max(nTok).as("max_tokens"),
      min(nTok).as("min_tokens"))
    val vocab = docs.select(explode(words(col("text"))).as("w"))
      .agg(countDistinct(col("w")).as("vocab_size"))
    base.crossJoin(vocab)
      .select(explode(array(
        struct(lit("n_docs").as("metric"), col("n_docs").as("value")),
        struct(lit("n_tokens").as("metric"), col("n_tokens").as("value")),
        struct(lit("n_chars").as("metric"), col("n_chars").as("value")),
        struct(lit("n_langs").as("metric"), col("n_langs").as("value")),
        struct(lit("n_sources").as("metric"), col("n_sources").as("value")),
        struct(lit("n_unique_docs").as("metric"),
          col("n_unique_docs").as("value")),
        struct(lit("n_exact_dups").as("metric"),
          (col("n_docs") - col("n_unique_docs")).as("value")),
        struct(lit("max_tokens").as("metric"), col("max_tokens").as("value")),
        struct(lit("min_tokens").as("metric"), col("min_tokens").as("value")),
        struct(lit("vocab_size").as("metric"), col("vocab_size").as("value"))
      )).as("m"))
      .select(col("m.metric").as("metric"), col("m.value").as("value"))
      .orderBy(col("metric"))
  }

  /** INCREMENTAL dataset-card maintenance — [[datasetCard]] computed
    * the way a continuously-fed pipeline must: the already-ingested
    * corpus (first 80% of ids, the [[Dedup.deltaDedup]] framing) is
    * reduced ONCE to mergeable state — five algebraic scalars plus
    * four per-key count tables (lang, source, text-hash, word) — and
    * the new delivery's state MERGES into it by key-summing unions.
    * Every distinct-count metric the card carries (n_langs,
    * n_unique_docs, vocab_size…) is non-algebraic over raw partials,
    * which is exactly why the state must be per-KEY counts, not
    * counts-of-distinct: COUNT over the merged key table recovers the
    * exact distinct count of the union. Output and oracle are
    * IDENTICAL to q_dataset_card — merging state must land on the
    * same card a full rescan produces, bit for bit.
    *
    * Scale: updating the card for a delivery costs O(delta) scan +
    * O(state) merge — never a corpus rescan. The corpus-side key
    * tables are the stored artifact a real pipeline keeps next to the
    * data (the band-index pattern in [[graft.streaming.DocStream]]);
    * persisted here to stand in for that stored table. The widest
    * state (hash table, one row per unique doc) is columnar-narrow
    * and key-partitioned — the merge shuffles state-sized data on the
    * same key it is stored by. */
  def deltaCard(spark: SparkSession, sf: String): DataFrame = {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    val w = docs.agg(floor((max(col("doc_id")) + 1) * 0.8).cast("long").as("w"))
    // ten aggregation branches consume the cutoff-tagged scan (two
    // scalar reductions + eight key tables) — without the pin each
    // branch re-runs the parquet scan AND the max(doc_id) cutoff agg
    val all = graft.CachePool.swapOne("delta-card-all",
      docs.crossJoin(broadcast(w)))
    val corpus = all.filter(col("doc_id") < col("w"))
    val delta = all.filter(col("doc_id") >= col("w"))

    val nTok = size(toks(col("text"))).cast("long")
    def scalars(d: DataFrame): DataFrame = d.agg(
      count(lit(1)).as("n_docs"),
      sum(nTok).as("n_tokens"),
      sum(length(col("text")).cast("long")).as("n_chars"),
      max(nTok).as("max_tokens"),
      min(nTok).as("min_tokens"))
    // NULL keys are dropped to match countDistinct / the oracle's
    // count(DISTINCT ...) semantics — a merged key table that kept
    // NULL as a countable key would read one high on every distinct
    // metric the moment a table carries a null
    def keyCounts(d: DataFrame, k: Column): DataFrame =
      d.select(k.as("k")).filter(col("k").isNotNull)
        .groupBy(col("k")).agg(count(lit(1)).as("cnt"))
    def wordCounts(d: DataFrame): DataFrame =
      keyCounts(d.select(explode(words(col("text"))).as("wd")), col("wd"))

    val corpusState: Map[String, DataFrame] = Map(
      "lang" -> keyCounts(corpus, col("lang")),
      "source" -> keyCounts(corpus, col("source")),
      "hash" -> keyCounts(corpus, md5(col("text"))),
      "word" -> wordCounts(corpus)
    ).map { case (n, d) =>
      n -> graft.CachePool.swapOne(s"delta-card-state-$n", d) }

    def mergedDistinct(name: String, deltaTab: DataFrame,
        alias: String): DataFrame =
      corpusState(name).unionByName(deltaTab)
        .groupBy(col("k")).agg(sum(col("cnt")).as("cnt"))
        .agg(count(lit(1)).as(alias))

    val sc = scalars(corpus).unionByName(scalars(delta))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        max(col("max_tokens")).as("max_tokens"),
        min(col("min_tokens")).as("min_tokens"))
    sc.crossJoin(broadcast(
        mergedDistinct("lang", keyCounts(delta, col("lang")), "n_langs")))
      .crossJoin(broadcast(
        mergedDistinct("source", keyCounts(delta, col("source")), "n_sources")))
      .crossJoin(broadcast(
        mergedDistinct("hash", keyCounts(delta, md5(col("text"))),
          "n_unique_docs")))
      .crossJoin(broadcast(
        mergedDistinct("word", wordCounts(delta), "vocab_size")))
      .select(explode(array(
        struct(lit("n_docs").as("metric"), col("n_docs").as("value")),
        struct(lit("n_tokens").as("metric"), col("n_tokens").as("value")),
        struct(lit("n_chars").as("metric"), col("n_chars").as("value")),
        struct(lit("n_langs").as("metric"), col("n_langs").as("value")),
        struct(lit("n_sources").as("metric"), col("n_sources").as("value")),
        struct(lit("n_unique_docs").as("metric"),
          col("n_unique_docs").as("value")),
        struct(lit("n_exact_dups").as("metric"),
          (col("n_docs") - col("n_unique_docs")).as("value")),
        struct(lit("max_tokens").as("metric"), col("max_tokens").as("value")),
        struct(lit("min_tokens").as("metric"), col("min_tokens").as("value")),
        struct(lit("vocab_size").as("metric"), col("vocab_size").as("value"))
      )).as("m"))
      .select(col("m.metric").as("metric"), col("m.value").as("value"))
      .orderBy(col("metric"))
  }

  /** Vocabulary coverage table — the tokenizer-design probe: the top
    * `topN` word types by corpus frequency, each with its rank,
    * count, running count, and cumulative coverage of all token
    * occurrences in basis points ("how much of the corpus do the top
    * k types cover"). All-integer coverage (`cum·10000 div total`) so
    * ranks and coverage are bit-identical cross-engine; ties break by
    * term so the table is deterministic.
    *
    * Scale: the heavy side (corpus explode → per-term counts) is one
    * partial-aggregated shuffle on term; the ranked prefix is a
    * global top-k — Spark plans `orderBy.limit` as TakeOrderedAndProject
    * (per-partition heaps, no full sort materialization), and the
    * window cumsum then runs over only `topN` rows. The running sum
    * over the top-k prefix equals the running sum over the full
    * ranked vocabulary at those ranks, so truncating first is exact.
    */
  def vocabCoverage(spark: SparkSession, sf: String,
      topN: Int = 100): DataFrame = {
    val termCounts = Tables.load(spark, sf, "documents")
      .select(explode(words(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val total = termCounts.agg(sum(col("cnt")).as("total"))
    val top = termCounts
      .orderBy(col("cnt").desc, col("term")).limit(topN)
    top
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("term")))
          .cast("long"))
      .withColumn("cum_cnt", sum(col("cnt")).over(
        Window.orderBy(col("rank"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("term"), col("cnt"), col("cum_cnt"),
        expr("cum_cnt * 10000 div total").as("coverage_bp"))
      .orderBy(col("rank"))
  }

  /** EXACT heavy hitters (terms with frequency > total/k) via the
    * two-pass Misra–Gries reduction — the streaming-sketch answer to
    * "top terms" that never shuffles the token stream on term:
    *
    *  - Pass 1: each partition runs a capacity-k Misra–Gries summary
    *    (k counters; overflow decrements all) and emits only its ≤ k
    *    surviving candidate terms. Completeness is guaranteed, not
    *    heuristic: a term with global share > 1/k has, by averaging,
    *    local share > 1/k ≥ 1/(k+1) in at least one partition, and
    *    capacity-k MG retains every term with local share > 1/(k+1).
    *    So the candidate union (≤ k × partitions strings on the
    *    driver) is a SUPERSET of all true heavy hitters.
    *  - Pass 2: exact counts for candidates only — a broadcast semi
    *    join (no shuffle of the stream) and a partial-agg groupBy
    *    whose shuffle is bounded by candidates × partitions rows, then
    *    the exact `cnt · k > total` threshold.
    *
    * The emitted rows are exact counts past an exact threshold — fully
    * DuckDB-oracle-checkable, unlike a lossy sketch top-k. At 100 TB
    * the token stream is scanned twice but shuffled never; the classic
    * one-pass groupBy alternative shuffles every token once, which is
    * the difference between 2× scan I/O and a corpus-sized exchange.
    */
  /** The share denominator the driver row runs with — the oracle SQL
    * derives its HAVING threshold from this same constant (the
    * pageRankOracle pattern), so retuning k cannot desynchronize the
    * two sides. */
  val HeavyHittersK = 40

  /** Misra-Gries insert of one token into a k-bounded counter map —
    * the classic streaming step: bump if present, admit if room,
    * otherwise decrement all (the new term is NOT inserted). */
  private def mgInsert(k: Int,
      counters: scala.collection.mutable.HashMap[String, Long],
      w: String): Unit =
    counters.get(w) match {
      case Some(c) => counters(w) = c + 1L
      case None if counters.size < k => counters(w) = 1L
      case None =>
        val dead = List.newBuilder[String]
        counters.mapValuesInPlace { (key, c) =>
          if (c == 1L) dead += key
          c - 1L
        }
        dead.result().foreach(counters.remove)
    }

  /** MERGE of two k-bounded Misra-Gries summaries (Agarwal, Cormode,
    * Huang, Phillips, Wei, Yi — "Mergeable Summaries", PODS'12): sum
    * counters, and if more than k survive, subtract the (k+1)-th
    * largest count from all and drop the non-positive. Deficiency
    * stays ≤ n/(k+1) under ANY merge tree, so an item with true count
    * > total/k survives to the final summary no matter how many
    * partitions fed it — the superset guarantee the exact second pass
    * relies on, now independent of partition count. */
  private[graft] def mgMerge(k: Int)(
      a: scala.collection.mutable.HashMap[String, Long],
      b: scala.collection.mutable.HashMap[String, Long])
      : scala.collection.mutable.HashMap[String, Long] = {
    b.foreach { case (w, c) =>
      a.updateWith(w) { prev => Some(prev.getOrElse(0L) + c) }
    }
    if (a.size > k) {
      val cut = a.values.toArray.sortInPlace()(Ordering[Long].reverse)
        .apply(k) // the (k+1)-th largest
      a.mapValuesInPlace((_, c) => c - cut)
      a.filterInPlace((_, c) => c > 0L)
    }
    a
  }

  /** Pass 1 as a treeAggregate: per-task MG summaries merge up a
    * 2-level tree, so the DRIVER receives exactly one k-entry map (+
    * the stream total) — ~k strings of traffic whether the corpus has
    * 32 partitions or 100k, replacing the k×partitions candidate
    * collect whose driver footprint grew linearly with the cluster. */
  private[graft] def mgCandidates(tok: org.apache.spark.sql.Dataset[String],
      k: Int): (Seq[String], Long) = {
    val zero = (scala.collection.mutable.HashMap.empty[String, Long], 0L)
    val (summary, total) = tok.rdd.treeAggregate(zero)(
      seqOp = { case ((m, n), w) => mgInsert(k, m, w); (m, n + 1L) },
      combOp = { case ((ma, na), (mb, nb)) => (mgMerge(k)(ma, mb), na + nb) },
      depth = 2)
    (summary.keys.toSeq, total)
  }

  def heavyHitters(spark: SparkSession, sf: String,
      k: Int = HeavyHittersK): DataFrame = {
    import spark.implicits._
    val tok = Tables.load(spark, sf, "documents")
      .select(explode(words(col("text"))).as("w"))
    // Pass 1 (mergeable MG, k-bounded driver traffic) yields the
    // candidate superset and the stream total in one scan; pass 2
    // exact-counts only the ≤ k candidates — "scanned twice, shuffled
    // never" is literal, and now partition-count-proof.
    val (cands, total) = mgCandidates(tok.as[String], k)
    tok.join(broadcast(cands.toDF("w")), Seq("w"), "left_semi")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * k > total)
      .orderBy(col("cnt").desc, col("w"))
  }

  /** Count-Min Sketch geometry for [[cmsHeavyHitters]] — interpolated
    * into both engines. Depth 4 rows × width 512 counters: ε = e/512,
    * δ = e⁻⁴ in the Cormode–Muthukrishnan bound. */
  val CmsDepth = 4
  val CmsWidth = 512

  /** Candidate rows emitted by [[cmsHeavyHitters]]. */
  val CmsTopN = 30

  /** q_cms_heavy_hitters: Count-Min Sketch frequency estimates
    * (Cormode & Muthukrishnan 2005) next to [[heavyHitters]]'s exact
    * Misra–Gries: the sketch build aggregates the token stream into a
    * fixed [[CmsDepth]]×[[CmsWidth]] counter grid — the shuffle
    * carries at most depth×width rows PER PARTITION after map-side
    * combine, regardless of vocabulary size, which is the whole point
    * of a CMS at 100 TB (a vocabulary-keyed groupBy exchanges one row
    * per distinct term; the sketch exchanges a constant). Row hashes
    * are md5-derived (`md5(term || '#' || row)`), so both engines
    * compute identical grids.
    *
    * Output: the exact top-[[CmsTopN]] terms (ties to the term) with
    * their true count, the sketch estimate (min over the term's
    * [[CmsDepth]] cells), and the overcount verdict `ge_flag`
    * (CMS never underestimates — every flag must be 1; a 0 means the
    * grid drifted). The exact side exists for the VERDICT, like every
    * *_recall row — a production probe takes its candidates from the
    * MG pass and reads only the sketch. */
  def cmsHeavyHitters(spark: SparkSession, sf: String,
      topN: Int = CmsTopN): DataFrame = {
    val tok = Tables.load(spark, sf, "documents")
      .select(explode(words(col("text"))).as("w"))
    def bucket(wcol: String, r: Int) =
      expr(s"cast(conv(substring(md5(concat($wcol, '#$r')), 1, 8)" +
        s", 16, 10) as bigint) % $CmsWidth")
    // sketch build: 4 (row, bucket) cells per token, then ONE
    // partial-agg groupBy over depth×width keys
    val cells = tok
      .select(explode(array((0 until CmsDepth).map(r =>
        struct(lit(r).as("r"), bucket("w", r).as("b"))): _*)).as("cell"))
      .select(col("cell.r").as("r"), col("cell.b").as("b"))
      .groupBy(col("r"), col("b")).agg(count(lit(1)).as("c"))
    // exact verdict side: true counts, top-N candidates. Persisted:
    // the ≤ topN-row frame feeds both the probe explode and the final
    // projection — without the pin each reference recomputes the
    // vocabulary count (one extra corpus scan)
    val top = graft.CachePool.swapOne("cms-top",
      tok.groupBy(col("w")).agg(count(lit(1)).as("n_true"))
        .orderBy(col("n_true").desc, col("w")).limit(topN))
    // estimate = min over the candidate's depth cells; the cell grid
    // is ≤ depth×width rows — broadcast side of the probe join
    val probes = top.select(col("w"), col("n_true"),
        explode(array((0 until CmsDepth).map(r =>
          struct(lit(r).as("r"), bucket("w", r).as("b"))): _*)).as("cell"))
      .select(col("w"), col("n_true"),
        col("cell.r").as("r"), col("cell.b").as("b"))
    probes.join(broadcast(cells), Seq("r", "b"))
      .groupBy(col("w"), col("n_true"))
      .agg(min(col("c")).as("n_est"))
      .select(col("w"), col("n_true"), col("n_est"),
        when(col("n_est") >= col("n_true"), 1L).otherwise(0L).as("ge_flag"))
      .orderBy(col("n_true").desc, col("w"))
  }

  /** DuckDB replay of [[cmsHeavyHitters]]: identical md5 row hashes,
    * grid aggregation, min-over-rows estimate, and overcount flag. */
  def cmsHeavyHittersOracle: String = {
    val rows = (0 until CmsDepth)
      .map(r => s"SELECT $r AS r").mkString(" UNION ALL ")
    s"""WITH tok AS (
         SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
         FROM documents),
       rs AS ($rows),
       cells AS (
         SELECT r, ('0x' || substring(md5(w || '#' || CAST(r AS VARCHAR)),
             1, 8))::BIGINT % $CmsWidth AS b,
           CAST(COUNT(*) AS BIGINT) AS c
         FROM tok CROSS JOIN rs
         GROUP BY 1, 2),
       top AS (
         SELECT w, CAST(COUNT(*) AS BIGINT) AS n_true
         FROM tok GROUP BY w
         ORDER BY n_true DESC, w LIMIT $CmsTopN),
       est AS (
         SELECT t.w, t.n_true, MIN(c.c) AS n_est
         FROM top t CROSS JOIN rs
         JOIN cells c ON c.r = rs.r
           AND c.b = ('0x' || substring(md5(t.w || '#' ||
             CAST(rs.r AS VARCHAR)), 1, 8))::BIGINT % $CmsWidth
         GROUP BY t.w, t.n_true)
       SELECT w, n_true, CAST(n_est AS BIGINT) AS n_est,
         CAST(CASE WHEN n_est >= n_true THEN 1 ELSE 0 END AS BIGINT)
           AS ge_flag
       FROM est ORDER BY n_true DESC, w"""
  }

  /** q_ngram_diversity: per-source n-gram diversity — the corpus-level
    * Self-BLEU-style monitor (Zhu et al. 2018) a generation/curation
    * pipeline tracks to catch mode collapse and template flooding: a
    * source whose distinct-trigram share collapses is emitting the
    * same constructions over and over even when exact dedup stays
    * clean. One row per (source, n) for n ∈ {1,2,3}: total n-grams,
    * distinct n-grams, and their ratio in ppm (integer div —
    * engine-exact).
    *
    * Scale shape: one token-array scan explodes into a single unioned
    * (source, n, gram) stream (fan-out ≤ 3× the token count), then
    * one (source, n, gram) partial-agg groupBy collapses duplicates
    * BEFORE the per-(source, n) rollup — the gram-keyed shuffle
    * carries one row per distinct gram per source, not the raw
    * stream, thanks to map-side combine; the output is sources × 3
    * rows. At extreme vocabularies the distinct count swaps for HLL
    * (the q_approx_distinct machinery) — the exact form here IS the
    * oracle mode.
    */
  def ngramDiversity(spark: SparkSession, sf: String): DataFrame = {
    val docs = graft.Tables.load(spark, sf, "documents")
      .select(col("source"), words(col("text")).as("t"))
      .filter(size(col("t")) >= 1)
    // ONE corpus scan: every position emits its 1/2/3-gram structs in
    // a single flatten-transform (null-filtered at the tail where the
    // longer grams run out) — the three-branch union form scanned the
    // token stream three times for the same multiset (plan-audited)
    val grams = docs.select(col("source"), explode(expr(
        "flatten(transform(sequence(0, size(t)-1), i -> filter(array(" +
          " struct(1 as n, t[i] as g)," +
          " case when i <= size(t)-2 then" +
          "   struct(2 as n, concat(t[i], ' ', t[i+1]) as g)" +
          "   else null end," +
          " case when i <= size(t)-3 then" +
          "   struct(3 as n, concat(t[i], ' ', t[i+1], ' ', t[i+2]) as g)" +
          "   else null end)," +
          " x -> x is not null)))")).as("x"))
      .select(col("source"), col("x.n").as("n"), col("x.g").as("g"))
    grams.groupBy(col("source"), col("n"), col("g"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"), col("n"))
      .agg(sum(col("cnt")).cast("long").as("total_ngrams"),
        count(lit(1)).as("distinct_ngrams"))
      .select(col("source"), col("n").cast("long").as("n"),
        col("total_ngrams"), col("distinct_ngrams"),
        expr("distinct_ngrams * 1000000 div total_ngrams")
          .as("diversity_ppm"))
      .orderBy(col("source"), col("n"))
  }

  /** DuckDB replay of [[ngramDiversity]]. */
  def ngramDiversityOracle: String =
    """WITH docs AS (
         SELECT source, regexp_extract_all(lower(text), '[a-z]+') AS t
         FROM documents),
       grams AS (
         SELECT source, 1 AS n, unnest(t) AS g FROM docs
         UNION ALL
         SELECT source, 2, t[i] || ' ' || t[i+1]
         FROM docs, unnest(range(1, len(t))) AS u(i)
         WHERE len(t) >= 2
         UNION ALL
         SELECT source, 3, t[i] || ' ' || t[i+1] || ' ' || t[i+2]
         FROM docs, unnest(range(1, len(t) - 1)) AS u(i)
         WHERE len(t) >= 3)
       SELECT source, CAST(n AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS total_ngrams,
         CAST(COUNT(DISTINCT g) AS BIGINT) AS distinct_ngrams,
         CAST((COUNT(DISTINCT g) * 1000000) // COUNT(*) AS BIGINT)
           AS diversity_ppm
       FROM grams GROUP BY source, n
       ORDER BY source, n"""
}
