package graft.operators

import graft.DuckSql.{d2Sql, floorDivSql, dlit}
import graft.{QueryRow, Tables}
import graft.functions.ArrayOps.dot_long
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Similarity search over the `embeddings` table (64-dim float
  * vectors).
  *
  * Baseline: brute-force cosine top-k — a broadcast-able n×m pair
  * scan; exact, O(n·m·d). Scale path: random-hyperplane LSH
  * bucketing — signature is a narrow map, candidates share a bucket
  * key, so the join is equality-partitioned instead of a cross
  * product (this is what survives 100 TB; brute force is the oracle).
  *
  * Numeric determinism: floats are quantized onto an exact power-of-
  * two integer grid and dot products/norms computed in exact long
  * arithmetic; the single long→double conversion at the end is
  * correctly rounded everywhere, so Spark and DuckDB agree bit-for-bit
  * and ranks are stable.
  */
object Similarity {

  private[graft] val Dim = 64

  /** Quantization grid 2²⁶: multiplying a double by a power of two is
    * exact (exponent shift), floor is exact, so `floor(x·2²⁶)` is
    * bit-identical in every engine — unlike float→decimal casts, whose
    * rounding paths differ between engines. Products are ≤ 2⁵⁴ and
    * 64-element sums ≤ 2⁶⁰: everything stays in exact long arithmetic.
    */
  val Q: Double = 67108864.0 // 2^26

  /** Per-vector quantized norms & dimension — the sanity projection.
    * norm_sq is on the Q² grid (divide by 2⁵² for the real value).
    * Quantize once, then one codegen'd `dot_long` — the interpreted
    * `aggregate(zip_with(...))` HOF form costs 5-35× at scale. */
  def norms(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        size(col("embedding")).cast("long").as("dim"),
        graft.functions.ArrayOps.quantize_q(col("embedding"), Q).as("iv"))
      .select(col("vec_id"), col("label"), col("dim"),
        dot_long(col("iv"), col("iv")).as("norm_sq"))
      .orderBy(col("vec_id"))

  /** Per-label mean embedding (class centroids) — the vector-mean
    * primitive behind classifier heads, cluster seeding, and
    * class-balanced curation. Exact cross-engine: components are
    * summed on the 2²⁶ integer grid (posexplode → partial-aggregated
    * groupBy on (label, pos) — one shuffle of scalar rows, never a
    * whole-vector reduce), with the single grid→double division at
    * the end. */
  def labelCentroids(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "embeddings")
      .select(col("label").cast("long").as("label"),
        posexplode(graft.functions.ArrayOps.quantize_q(col("embedding"), Q))
          .as(Seq("pos", "q")))
      .groupBy(col("label"), col("pos").cast("long").as("pos"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("q")).as("q_sum"))
      .select(col("label"), col("pos"), col("n_vecs"),
        (col("q_sum").cast("double") / (col("n_vecs").cast("double") * lit(Q)))
          .as("centroid"))
      .orderBy(col("label"), col("pos"))

  /** Quantization grid for the prototypicality kernel: 2¹³, coarser
    * than [[Q]] because the CENTROID side carries component SUMS —
    * with |x| ≤ 1 the worst-case per-term product is
    * q·Σq ≤ 2¹³ · (n·2¹³), so at n = 10⁹ vectors per class the
    * 64-term dot stays ≤ 2¹³⁺¹³⁺³⁰⁺⁶ = 2⁶² — inside exact long
    * arithmetic at any realistic class size, where the 2²⁶ grid
    * would overflow past n ≈ 30. */
  val ProtoQ: Double = 8192.0 // 2^13

  /** Prototypicality scoring — cosine of every vector against its own
    * class centroid, ranked within the class: the data-pruning metric
    * of Sorscher et al. 2022 ("Beyond neural scaling laws": prune the
    * most prototypical examples) and the ordering SemDeDup-style
    * curation uses to pick which cluster members to keep. Rank 1 = the
    * most central (most redundant) example; the tail is the hard/
    * outlier set a curation pass keeps or audits.
    *
    * Engine-exact: components quantize to the [[ProtoQ]] integer grid;
    * centroid component sums, the vector·centroid dot, and both
    * squared norms are exact long aggregates (order-independent), and
    * the single double division at the end is IEEE-correctly-rounded
    * in every engine — cosine needs no 1/n scaling because cosine is
    * scale-invariant, so the centroid is used as the raw SUM vector.
    *
    * Scale shape: one posexplode shuffle keyed (label, pos) builds the
    * centroids (classes × dim rows — tiny), one broadcast-join of that
    * table back onto the SAME exploded stream computes every dot and
    * norm in a single (vec_id)-keyed partial agg. No vector ever rides
    * a per-pair shuffle; nothing is driver-side. */
  def prototypicality(spark: SparkSession, sf: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        posexplode(graft.functions.ArrayOps.quantize_q(col("embedding"), ProtoQ))
          .as(Seq("pos", "q")))
    val cent = comp.groupBy(col("label"), col("pos"))
      .agg(sum(col("q")).as("q_sum"))
    val cnorm = cent.groupBy(col("label"))
      .agg(sum(col("q_sum") * col("q_sum")).as("c_sq"))
      .select(col("label"), sqrt(col("c_sq").cast("double")).as("c_norm"))
    comp.join(broadcast(cent), Seq("label", "pos"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("q") * col("q_sum")).as("dot_qc"),
        sum(col("q") * col("q")).as("v_sq"))
      .join(broadcast(cnorm), "label")
      // zero-norm hygiene, same rationale as [[quantized]]
      .filter(col("v_sq") > 0L && col("c_norm") > 0.0)
      .select(col("vec_id"), col("label"),
        (col("dot_qc").cast("double") /
          (sqrt(col("v_sq").cast("double")) * col("c_norm"))).as("proto_cos"))
      .withColumn("proto_rank", row_number().over(
        Window.partitionBy(col("label"))
          .orderBy(col("proto_cos").desc, col("vec_id"))).cast("long"))
      .orderBy(col("vec_id"))
  }

  /** Embedding-space health diagnostics — the per-dimension moment
    * table every embedding pipeline audits before trusting a model:
    * mean and variance per dimension (dead dimensions: variance ≈ 0),
    * plus each dimension's most-correlated partner (redundant/
    * collapsed axes — the anisotropy smell that makes cosine
    * similarity saturate). All moments are exact-long sums on the
    * [[ProtoQ]] grid, so the report replays bit-for-bit: variance and
    * covariance are emitted in the integer form n·Σxy − Σx·Σy (the
    * textbook scaled-by-n² moment — monotone in the real value, which
    * is all ranking/zero-tests need), and the one double emitted —
    * the Pearson correlation with the partner — divides exact
    * integers once. Range note (the q_pmi_top convention): the n·Σ
    * products stay inside exact long through n ≈ 3·10⁵ vectors on
    * this grid; a larger corpus widens the three product expressions
    * to decimal(38,0) — both engines carry it exactly, same plan,
    * wider lanes.
    *
    * Scale shape: one posexplode pass builds per-dim sums (d rows,
    * persisted — three consumers), one self-join of the exploded
    * stream on vec_id builds pairwise co-moments (d² rows after the
    * partial agg — 4096 at d = 64; the shuffle carries (vec_id, pos,
    * q) scalars, never whole vectors; the corpus is scanned once per
    * join side). The d²-row co-moment table persists before the
    * symmetric union — its two sides otherwise re-run the self-join —
    * and the argmax partner is a d²-row window. Nothing driver-side. */
  def embedDiagnostics(spark: SparkSession, sf: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comp = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"),
        posexplode(graft.functions.ArrayOps.quantize_q(col("embedding"), ProtoQ))
          .as(Seq("pos", "q")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"), col("q"))
    // d rows, referenced three times (two broadcast sides + the final
    // join) — persist so each reference reads the tiny aggregate
    // instead of re-deriving it from the corpus
    val dims = graft.CachePool.swapOne("embed-diag-dims",
      comp.groupBy(col("pos"))
        .agg(count(lit(1)).as("n"), sum(col("q")).as("s"),
          sum(col("q") * col("q")).as("ss")))
    // pairwise co-moments: join the exploded stream with itself on the
    // vector id — at d dims each vector contributes d² scalar pairs
    val co = comp.as("a").join(comp.as("b"),
        col("a.vec_id") === col("b.vec_id") && col("a.pos") < col("b.pos"))
      .groupBy(col("a.pos").as("pos"), col("b.pos").as("pos_b"))
      .agg(sum(col("a.q") * col("b.q")).as("sxy"))
    val scored = co
      .join(broadcast(dims.select(col("pos"), col("s").as("sx"),
        col("ss").as("ssx"), col("n"))), "pos")
      .join(broadcast(dims.select(col("pos").as("pos_b"), col("s").as("sy"),
        col("ss").as("ssy"))), "pos_b")
      .select(col("pos"), col("pos_b"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("cov_num"),
        (col("n") * col("ssx") - col("sx") * col("sx")).as("var_x"),
        (col("n") * col("ssy") - col("sy") * col("sy")).as("var_y"))
      // d²/2 rows, referenced twice by the symmetric union below —
      // without the persist each union side re-runs the whole
      // co-moment self-join (the plan audit measured 18 corpus scans)
    val scoredC = graft.CachePool.swapOne("embed-diag-co", scored)
    // symmetric view so every dimension sees every partner
    val sym = scoredC.select(col("pos"), col("pos_b"), col("cov_num"),
        col("var_x"), col("var_y"))
      .union(scored.select(col("pos_b").as("pos"), col("pos").as("pos_b"),
        col("cov_num"), col("var_y").as("var_x"), col("var_x").as("var_y")))
      .withColumn("corr",
        col("cov_num").cast("double") /
          (sqrt(col("var_x").cast("double")) * sqrt(col("var_y").cast("double"))))
    val best = Window.partitionBy(col("pos"))
      .orderBy(abs(col("corr")).desc, col("pos_b"))
    sym.withColumn("rk", row_number().over(best))
      .filter(col("rk") === 1)
      .join(dims, "pos")
      .select(col("pos"), col("n"), col("s").as("q_sum"),
        (col("n") * col("ss") - col("s") * col("s")).as("var_num"),
        col("pos_b").as("top_corr_dim"), col("corr").as("top_corr"))
      .orderBy(col("pos"))
  }

  /** MMR (Maximal Marginal Relevance) diversified top-k selection —
    * the rerank step every retrieval-augmented pipeline runs between
    * ANN shortlist and context window: greedily pick items maximizing
    * λ·relevance − (1−λ)·max-similarity-to-already-picked, so the
    * result covers the query's neighborhood instead of returning k
    * near-copies of the best hit (Carbonell & Goldstein 1998). The
    * "query" here is the corpus SUM vector (cosine is scale-invariant,
    * so the sum stands in for the mean) — fully data-derived, no
    * free-text parameter.
    *
    * Scale shape — three stages with strictly shrinking data:
    *  1. relevance for every vector: the [[prototypicality]] kernel
    *     corpus-wide (one (pos)-keyed partial agg + one broadcast
    *     join; exact-long dots on the [[ProtoQ]] grid),
    *  2. shortlist: top-`c` by (rel desc, id) — TakeOrdered per-
    *     partition heaps, never a global sort; at 100 TB the shortlist
    *     comes from the ANN index instead and `c` stays ~10³,
    *  3. greedy selection over the COLLECTED shortlist — c quantized
    *     vectors (c·d longs, the bounded trainer-contract hand-off;
    *     MMR is inherently sequential in k, so the k·c² driver loop on
    *     metadata-sized input beats k distributed argmax jobs).
    *
    * Engine-exact: relevance doubles come from exact-long dots (one
    * IEEE division), pairwise similarities from the 2²⁶ grid the exact
    * kernels share, and the greedy comparison λ·rel − (1−λ)·maxSim is
    * fixed-order double arithmetic — DuckDB replays the whole greedy
    * chain (a recursive CTE) bit-for-bit, ties on the smaller id. */
  /** MMR defaults — shared with the q_mmr_select oracle SQL (the
    * pageRankOracle one-constant pattern): retuning here retunes the
    * oracle's replayed greedy chain in the same commit. */
  val MmrK = 10
  val MmrC = 64
  val MmrLambda = 0.7
  def mmrSelect(spark: SparkSession, sf: String, k: Int = MmrK,
      c: Int = MmrC, lambda: Double = MmrLambda): DataFrame = {
    val comp = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"),
        posexplode(graft.functions.ArrayOps.quantize_q(col("embedding"), ProtoQ))
          .as(Seq("pos", "q")))
    val qsum = comp.groupBy(col("pos")).agg(sum(col("q")).as("q_sum"))
    val qnorm = qsum.agg(
      sqrt(sum(col("q_sum") * col("q_sum")).cast("double")).as("q_norm"))
    val rel = comp.join(broadcast(qsum), "pos")
      .groupBy(col("vec_id"))
      .agg(sum(col("q") * col("q_sum")).as("dot_qs"),
        sum(col("q") * col("q")).as("v_sq"))
      .crossJoin(broadcast(qnorm))
      .filter(col("v_sq") > 0L && col("q_norm") > 0.0)
      .select(col("vec_id"),
        (col("dot_qs").cast("double") /
          (sqrt(col("v_sq").cast("double")) * col("q_norm"))).as("rel"))
    val shortlist = rel.orderBy(col("rel").desc, col("vec_id")).limit(c)
      .join(Tables.load(spark, sf, "embeddings")
        .select(col("vec_id"),
          graft.functions.ArrayOps.quantize_q(col("embedding"), Q).as("iv")),
        "vec_id")
      .select(col("vec_id"), col("rel"), col("iv"))
      .collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Long](2).toArray))
    // pairwise cosines on the 2^26 grid — c² exact doubles
    def cos(a: Array[Long], b: Array[Long]): Double = {
      var d = 0L; var na = 0L; var nb = 0L; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    }
    val selected = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Double, Double, Double)] // step, id, rel, maxSim, mmr
    val chosen = scala.collection.mutable.LinkedHashMap.empty[Long, Array[Long]]
    while (selected.length < math.min(k, shortlist.length)) {
      val scoredCands = shortlist
        .filter { case (id, _, _) => !chosen.contains(id) }
        .map { case (id, r, iv) =>
          val maxSim =
            if (chosen.isEmpty) 0.0
            else chosen.valuesIterator.map(s => cos(iv, s)).max
          (id, r, maxSim, lambda * r - (1.0 - lambda) * maxSim)
        }
      val (id, r, maxSim, mmr) =
        scoredCands.minBy { case (i, _, _, s) => (-s, i) }
      chosen.put(id, shortlist.find(_._1 == id).get._3)
      selected += ((selected.length + 1L, id, r, maxSim, mmr))
    }
    val spark2 = spark
    import spark2.implicits._
    selected.toSeq.toDF("step", "vec_id", "rel", "max_sim", "mmr")
      .orderBy(col("step"))
  }

  /** Quantized int vector + norm, computed ONCE per vector —
    * the n·m pair scan then does a single integer dot per pair
    * (3× fewer array passes than naively recomputing norms per pair,
    * and quantization happens n times, not n·m). */
  /** Shared quantized projection. Zero-norm vectors (a null/failed
    * embedding, or every component inside [0, 2^-26)) are EXCLUDED at
    * the source: a zero vector has no direction, its cosine against
    * anything is 0/0 = NaN, and Spark orders NaN above every double —
    * so one bad row would out-rank every true neighbor in the top-k
    * windows AND pass every `cosine >= t` near-dup filter, merging
    * unrelated docs into one cluster. Excluding it is the only answer
    * consistent across engines (DuckDB's NaN ordering differs).
    * Fixture embeddings are all nonzero, so oracle rows are
    * unaffected; at scale this is the standard drop-broken-embeddings
    * hygiene filter. */
  private def quantized(e: DataFrame, idCol: String): DataFrame =
    e.select(col("vec_id").as(idCol),
      graft.functions.ArrayOps.quantize_q(col("embedding"), Q).as(s"iv_$idCol"))
      .withColumn(s"norm_$idCol",
        sqrt(dot_long(col(s"iv_$idCol"), col(s"iv_$idCol")).cast("double")))
      .filter(col(s"norm_$idCol") > 0.0)

  /** Fail-fast guardrail for the exact O(n·m) kernels: they broadcast
    * the full candidate side, which is right for verification scale
    * and catastrophic on a real corpus — a silent 10⁸-vector broadcast
    * would OOM every executor long after queueing hours of work. The
    * bound is `spark.graft.exact.maxBroadcastRows` (default 1,000,000
    * vectors ≈ 300 MB at 64-dim float). The count is a parquet
    * metadata read, not a scan. */
  private def guardExactKernel(e: DataFrame, op: String): Unit = {
    val limit = e.sparkSession.conf
      .get("spark.graft.exact.maxBroadcastRows", "1000000").toLong
    val n = e.count()
    require(n <= limit,
      s"$op would broadcast $n vectors (limit $limit): the exact " +
        "O(n*m) kernel is the verification oracle, not the scale path " +
        "— use annLsh/annIvf for large datasets, or raise " +
        "spark.graft.exact.maxBroadcastRows")
  }

  /** Brute-force cosine top-k neighbors per vector (k=5, excluding
    * self). The probe side is broadcast; at scale this is the
    * per-query-batch scoring kernel that LSH/IVF candidate sets feed.
    *
    * GUARD SEMANTICS (r17 advisory): the
    * `spark.graft.exact.maxBroadcastRows` fail-fast runs PER BUILD,
    * not per call — a warm serve from the session pool re-reads the
    * already-materialized top-k frame and never re-scans the source,
    * so it correctly skips the guard; lowering the bound mid-session
    * takes effect at the next cold build
    * ([[graft.CachePool.clear]] forces one). */
  def knnBruteForce(spark: SparkSession, sf: String, k: Int = 5): DataFrame = {
    // SESSION-POOLED (r17): the guarded O(n·m) broadcast-NL scan is
    // the session's single most re-derived exact kernel — q_knn_brute
    // (k=5), q_label_knn's vote feed (k=5) and q_ivf_sweep's truth set
    // (k=3) each paid it in full. Pool the top-max(k,5) frame once per
    // (dataset, session); any k ≤ pooled depth is a PREFIX of it
    // (row_number over the same deterministic (cosine desc, id) order),
    // so serving k from the pooled frame is bit-identical to computing
    // it directly. A caller past the pooled depth builds its own entry.
    val kPool = math.max(k, 5)
    val top = graft.CachePool.sessionCheckpoint(s"knn-brute-top:$kPool",
        spark, sf) {
      val e = Tables.load(spark, sf, "embeddings")
      guardExactKernel(e, "knnBruteForce")
      // probe side repartitioned to session parallelism (r18): the
      // embeddings scan is one partition per fixture file, and the
      // n·m scoring below is MAP-side against the broadcast — with no
      // exchange to re-parallelize it, the whole O(n·m) stage
      // otherwise runs on a single task (the shingledCached finding)
      val n = math.max(1, spark.sparkContext.defaultParallelism)
      val a = quantized(e, "query_id").repartition(n, col("query_id"))
      val b = quantized(e, "neighbor_id")
      // broadcast the probe side: every partition of `a` scores against
      // an in-memory copy of `b` — no shuffle of the big side at scale
      val pairs = a.crossJoin(broadcast(b))
        .filter(col("query_id") =!= col("neighbor_id"))
        .withColumn("cosine",
          dot_long(col("iv_query_id"), col("iv_neighbor_id")).cast("double") /
            (col("norm_query_id") * col("norm_neighbor_id")))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      pairs.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= kPool)
        .select(col("query_id"), col("neighbor_id"), col("rk"),
          col("cosine"))
    }
    top.filter(col("rk") <= k)
      .orderBy(col("query_id"), col("rk"))
  }

  /** Leave-one-out kNN label prediction — the standard embedding-
    * quality eval: each vector is classified by the MAJORITY label of
    * its k nearest neighbors (self excluded), ties broken (count desc,
    * label asc) so the prediction is a pure function of the data. The
    * per-vector (truth, prediction, correct) frame is what an
    * embedding-training run monitors; aggregate accuracy is one
    * groupBy away.
    *
    * Built on [[knnBruteForce]]'s exact quantized kernel (so the
    * neighbor sets are bit-identical cross-engine); at scale the same
    * majority vote runs over ANN candidates from the IVF/LSH index —
    * the eval inherits whichever retrieval tier serves it. */
  def labelKnn(spark: SparkSession, sf: String, k: Int = 5): DataFrame =
    labelVoteFrom(spark, sf, knnBruteForce(spark, sf, k))

  /** [[labelKnn]] served by the IVF index instead of the exact kernel
    * — the 100 TB form of the embedding-quality eval (the exact twin
    * rides [[knnBruteForce]]'s guarded broadcast and fail-fasts past
    * 10⁶ vectors): neighbor candidates come from [[annIvf]]'s
    * cell-probed top-k, the majority vote is ONE shared code path
    * with the exact twin ([[labelVoteFrom]]). Driver-checkable value
    * for value — the DuckDB oracle replays the unrolled-Lloyd IVF
    * index (the q_ann_ivf CTE chain) and votes over the same top-5,
    * so a drifted centroid, probe miss, or vote tie-break is a row
    * diff at the gate, strictly stronger than a recall gate. A query
    * whose probed cells hold no other vector drops from the output
    * (no neighbors → no prediction) on both engines alike. */
  def labelKnnIvf(spark: SparkSession, sf: String, k: Int = 5): DataFrame =
    labelVoteFrom(spark, sf, annIvf(spark, sf, k))

  /** Shared majority vote over a (query_id, neighbor_id, …) neighbor
    * feed: join neighbor labels, count votes per (query, label), keep
    * the (count desc, label asc) winner, compare to truth. */
  private def labelVoteFrom(spark: SparkSession, sf: String,
      neighbors: DataFrame): DataFrame = {
    val labels = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"))
    // the label lookup is CORPUS-cardinality (one row per vector) —
    // no broadcast hint: the neighbor feed is output-bounded, so an
    // id-keyed shuffle join is fine at 100 TB and the planner still
    // picks broadcast at fixture scale from its own statistics
    val votes = neighbors
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label")), Seq("neighbor_id"))
      .groupBy(col("query_id"), col("n_label"))
      .agg(count(lit(1)).as("n_votes"))
    val wVote = Window.partitionBy(col("query_id"))
      .orderBy(col("n_votes").desc, col("n_label"))
    votes.withColumn("rk", row_number().over(wVote))
      .filter(col("rk") === 1)
      .select(col("query_id").as("vec_id"), col("n_label").as("pred_label"))
      .join(labels, Seq("vec_id"))
      .select(col("vec_id"), col("label"), col("pred_label"),
        (col("label") === col("pred_label")).cast("long").as("correct"))
      .orderBy(col("vec_id"))
  }

  /** Inverse-frequency class weights over the label column — the
    * class-balance table an imbalanced-data trainer consumes
    * (weight ∝ N/(K·n_c), the sklearn "balanced" heuristic), in
    * integer basis points: weight_bp = (N·10⁴) div (K·n_c), so a
    * uniformly distributed label sits at ~10 000 and a rare class
    * proportionally above. One partial-aggregated groupBy + two
    * broadcast scalars; nothing else moves. */
  def classWeights(spark: SparkSession, sf: String): DataFrame = {
    val e = Tables.load(spark, sf, "embeddings")
      .select(col("label").cast("long").as("label"))
    val counts = e.groupBy(col("label")).agg(count(lit(1)).as("n"))
    val totals = counts.agg(sum(col("n")).as("n_total"),
      count(lit(1)).as("n_classes"))
    counts.crossJoin(broadcast(totals))
      .select(col("label"), col("n"),
        expr("(n_total * 10000) div (n_classes * n)").as("weight_bp"))
      .orderBy(col("label"))
  }

  // ---- random-hyperplane LSH ---------------------------------------

  /** Number of hyperplane sign bits per bucket key. */
  val SignBits = 12

  /** Deterministic pseudo-random hyperplane component in [-1, 1):
    * hash-derived, no RNG state, identical on every executor. */
  private def planeComponent(plane: Int, i: Int): Double = {
    val h = scala.util.hashing.byteswap64(plane.toLong * 1315423911L + i * 2654435761L)
    (h & 0xFFFFFFFFL).toDouble / 2147483648.0 - 1.0
  }

  /** Hyperplanes quantized onto the 2²⁰ grid: the sign of
    * Σ iv[i]·planeQ[i] (exact longs, ≤ 2⁵³) decides each bucket bit —
    * 12 codegen'd dot_long calls per vector, no interpreted lambdas.
    * private[graft]: the plane constants are DATA-INDEPENDENT, so the
    * q_ann_lsh oracle interpolates these exact longs as SQL literals
    * (one shared definition — engine plan literals and oracle VALUES
    * rows cannot desynchronize). */
  private[graft] def planeQ(plane: Int): Seq[Long] =
    (0 until Dim).map(i => math.floor(planeComponent(plane, i) * 1048576.0).toLong)

  /** Sign-bit bucket key from hyperplane family `table`: 12 dot-
    * product signs packed into a long (family t uses planes
    * [12t, 12t+11] — disjoint deterministic coefficient blocks, so
    * tables are independent). Vectors in the same bucket are cosine-
    * close with high probability; the candidate join is a plain
    * equality shuffle. */
  def lshBucketT(iv: Column, table: Int): Column =
    (0 until SignBits).map { p =>
      shiftleft(when(dot_long(iv, typedLit(planeQ(table * SignBits + p))) >= 0, 1L)
        .otherwise(0L), p)
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Family-0 bucket key — the ANN index key. */
  def lshBucket(iv: Column): Column = lshBucketT(iv, 0)

  /** LSH-bucketed ANN: exact cosine, but only within buckets —
    * the recall/cost dial is SignBits. Returns each vector's best
    * in-bucket neighbors (k=3). */
  def annLsh(spark: SparkSession, sf: String, k: Int = 3): DataFrame = {
    val e = Tables.load(spark, sf, "embeddings")
    def side(idCol: String): DataFrame =
      quantized(e, idCol)
        .withColumn("bucket", lshBucket(col(s"iv_$idCol")))
    val pairs = side("query_id").join(side("neighbor_id"), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        dot_long(col("iv_query_id"), col("iv_neighbor_id")).cast("double") /
          (col("norm_query_id") * col("norm_neighbor_id")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    pairs.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rk"), col("cosine"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Multi-probe LSH: a query probes its own bucket plus every
    * Hamming-distance-1 neighbor bucket of hyperplane family `table` —
    * recovering near-dups that straddle a single hyperplane boundary
    * for a 13× probe fan-out instead of 13 independent hash tables (the
    * standard multi-probe trade: fan-out is cheap rows, tables are
    * whole extra indexes). The per-table probe fan-out of the near-dup
    * pair kernel. */
  def multiProbeBucketsT(iv: Column, table: Int): Column = {
    val base = lshBucketT(iv, table)
    array((base +: (0 until SignBits).map(p =>
      base.bitwiseXOR(lit(1L << p)))): _*)
  }

  /** Driver-visible ANN recall pin. The natural embeddings have no
    * near-dup pairs (max pairwise cosine ≈ 0.51 in the fixtures), so
    * the recall statement is made on PLANTED ground truth: every
    * vector gets a deterministic near-identical twin (id + 1e6, first
    * component ×1.01, cosine ≥ 0.999), the twins are indexed by LSH
    * bucket, and the originals probe with Hamming≤1 multi-probe. The
    * output is every (query, twin) pair the index recovered; the
    * DuckDB oracle is the full planted list — green iff recall = 100%.
    *
    * FIXTURE COUPLING (like the minhash pin's miss-probability note):
    * each table's Hamming≤1 multi-probe structurally covers
    * single-bit bucket flips, and the TWO independent tables (r17 —
    * sf0.001's vec 232 twin two-flips family 0; family 1 recovers it)
    * cover two-flips unless they happen in both families at once: the
    * ×1.01 first-component perturbation rotates each twin ≤ 0.57°, so
    * a residual miss needs the vector within that angle of ≥2 planes
    * in BOTH 12-plane families — ~10⁻⁸-scale per vector under
    * regenerated random embeddings. If a future fixture regen turns
    * this row red with no code change, check for a both-family
    * two-flip twin before debugging the index.
    */
  def annPlantedRecall(spark: SparkSession, sf: String): DataFrame = {
    // TWO independent hyperplane tables, the [[nearDupPairsLsh]]
    // recall structure: the sf0.001 fixture's vec 232 twin straddles
    // TWO family-0 planes at once (both dots within the ×1.01
    // perturbation of zero), so the single-table Hamming≤1 probe this
    // row ran through r16 missed it — found red against the DuckDB
    // full-planted-list oracle in the r17 green check. Family 1 sees
    // the same twin at Hamming 0; losing a twin now needs a two-flip
    // in BOTH independent families at once (~10⁻⁸ per vector under
    // fixture regeneration vs ~10⁻⁴ single-table). Probe fan-out is
    // 2×13 exploded rows per query, and the distinct below already
    // de-duplicated multi-probe hits, so the union adds no output.
    val e = Tables.load(spark, sf, "embeddings")
    val twins = e.select((col("vec_id") + 1000000L).as("neighbor_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x * lit(1.01)).otherwise(x)).as("twin"))
      .select(col("neighbor_id"),
        graft.functions.ArrayOps.quantize_q(col("twin"), Q).as("iv_n"))
    // pinned (r17): both frames feed BOTH hash tables — unpinned, the
    // parquet scan + twin transform + quantize ran once per table
    val Seq(twinsC, qC) = graft.CachePool.swap("ann-recall-sides",
      twins, quantized(e, "query_id"))
    val q = qC
    val perTable = (0 until 2).map { t =>
      val index = twinsC.withColumn("bucket", lshBucketT(col("iv_n"), t))
      val probes = q.select(col("query_id"),
        explode(multiProbeBucketsT(col("iv_query_id"), t)).as("bucket"))
      probes.join(index, Seq("bucket"))
        .filter(col("neighbor_id") === col("query_id") + 1000000L)
        .select(col("query_id"), col("neighbor_id"))
    }
    perTable.reduce(_ union _).distinct()
      .orderBy(col("query_id"))
  }

  /** Matryoshka-funnel recall pin (Kusupati et al. 2022: MRL
    * embeddings are trained so every PREFIX of the vector is itself a
    * usable embedding). The production retrieval funnel that property
    * buys: a COARSE pass scores ¼-length prefixes (¼ the memory
    * bandwidth and FLOPs of full vectors — at a billion vectors this
    * is the difference between the index fitting executor memory or
    * not), shortlists `shortlist` candidates per query, and a FINE
    * pass rescores only the shortlist at full dimension. Same planted
    * ground truth as [[annPlantedRecall]]; green iff every query's
    * final full-dim top-1 is its cosine-0.999 twin — i.e. the funnel
    * lost nobody at either stage.
    *
    * Both stages run on the exact integer grid (a prefix of a
    * quantized vector IS the quantized prefix, so truncation commutes
    * with quantization and costs nothing). The coarse broadcast here
    * is the guarded verification form; at scale the truncated vectors
    * feed the SAME LSH/IVF index machinery at ¼ width, and the fine
    * stage's cost is |queries|·shortlist regardless of corpus size. */
  def mrlPlantedRecall(spark: SparkSession, sf: String,
      truncDim: Int = 16, shortlist: Int = 5): DataFrame = {
    val e = Tables.load(spark, sf, "embeddings")
    guardExactKernel(e, "mrlPlantedRecall")
    val index = e.select((col("vec_id") + 1000000L).as("neighbor_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x * lit(1.01)).otherwise(x)).as("twin"))
      .select(col("neighbor_id"),
        graft.functions.ArrayOps.quantize_q(col("twin"), Q).as("iv_n"))
      .withColumn("norm_n",
        sqrt(dot_long(col("iv_n"), col("iv_n")).cast("double")))
      .withColumn("iv_n_t", slice(col("iv_n"), 1, truncDim))
      .withColumn("norm_n_t",
        sqrt(dot_long(col("iv_n_t"), col("iv_n_t")).cast("double")))
      // zero-norm hygiene on the INDEX side too (same contract as
      // `quantized` on the probe side): a broken twin would NaN-rank
      // above every real candidate in both stages
      .filter(col("norm_n") > 0.0 && col("norm_n_t") > 0.0)
    val probes = quantized(e, "query_id")
      .withColumn("iv_q_t", slice(col("iv_query_id"), 1, truncDim))
      .withColumn("norm_q_t",
        sqrt(dot_long(col("iv_q_t"), col("iv_q_t")).cast("double")))
      // PROBE-side truncated-norm hygiene, mirroring the index side:
      // `quantized` guarantees the full norm > 0, but a probe whose
      // 16-dim PREFIX quantizes to all zeros would make cos_t NaN —
      // and NaN orders above every real double in the descending
      // coarse rank, scrambling the shortlist
      .filter(col("norm_q_t") > 0.0)
    val wCoarse = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_t").desc, col("neighbor_id"))
    val wFine = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_f").desc, col("neighbor_id"))
    // coarse stage emits IDS ONLY: cos_t is computed map-side and the
    // vectors are dropped before the rank window's exchange+sort —
    // carrying the 64-long payloads through the n·m pair stream is the
    // measured 3-5× tax the cell-pair kernel already paid and fixed
    // truncated norms are per-VECTOR columns (computed n times, not
    // n·m — the same hoist `quantized` does for the full vectors)
    val coarse = probes
      .select(col("query_id"), col("iv_q_t"), col("norm_q_t"))
      .crossJoin(broadcast(index.select(col("neighbor_id"), col("iv_n_t"),
        col("norm_n_t"))))
      .withColumn("cos_t",
        dot_long(col("iv_q_t"), col("iv_n_t")).cast("double") /
          (col("norm_q_t") * col("norm_n_t")))
      .select(col("query_id"), col("neighbor_id"), col("cos_t"))
      .withColumn("crk", row_number().over(wCoarse))
      .filter(col("crk") <= shortlist)
      .select(col("query_id"), col("neighbor_id"))
    // fine stage re-joins full vectors onto the |queries|·shortlist
    // survivors only. The survivor frame is shortlist-bounded but the
    // INDEX side is corpus-cardinality — no broadcast hint (the
    // id-keyed shuffle join is the 100 TB shape; fixture-scale stats
    // still pick broadcast on their own)
    coarse
      .join(probes.select(col("query_id"), col("iv_query_id"),
        col("norm_query_id")), Seq("query_id"))
      .join(index.select(col("neighbor_id"), col("iv_n"),
        col("norm_n")), Seq("neighbor_id"))
      .withColumn("cos_f",
        dot_long(col("iv_query_id"), col("iv_n")).cast("double") /
          (col("norm_query_id") * col("norm_n")))
      .withColumn("rk", row_number().over(wFine))
      .filter(col("rk") === 1 &&
        col("neighbor_id") === col("query_id") + 1000000L)
      .select(col("query_id"), col("neighbor_id"))
      .orderBy(col("query_id"))
  }

  /** Shared LSH-bucketed near-dup pair kernel: TWO independent
    * hyperplane tables, each probed with its Hamming≤1 multi-probe set
    * against a single-bucket index, unioned and de-duplicated, with
    * the exact quantized cosine as the residual confirm.
    *
    * Recall structure — pair recovery cannot tolerate the misses ANN
    * top-k absorbs (a missed pair is a duplicate kept forever), so
    * multi-table beats a wider single-table probe radius twice over:
    * losing a pair needs ≥2 sign flips in BOTH independent families at
    * once (a radius-2 single table caps out at exactly 2 flips, and
    * its 79-bucket fan-out multiplied the skew of hot LSH buckets —
    * measured 6.3 s vs ~2 s for this form at sf0.1), while the probe
    * fan-out stays 2×13 exploded rows per vector. The sf0.001 fixtures
    * contain a real two-flip twin in family 0 (vec 232) that family 1
    * recovers. Input: (vec_id, embedding). */
  private[graft] def nearDupPairsLsh(vecs: DataFrame,
      threshold: Double): DataFrame = {
    // pinned (r17, narrowed r18): ONE quantized frame feeds both hash
    // tables AND both sides of the candidate join — unpinned, the
    // source scan + quantize ran once per (side, table), 4× per call;
    // the r17 two-frame pin still paid the scan+quantize twice.
    // Repartitioned to session parallelism before the pin: the pinned
    // frame otherwise inherits the scan's one-partition-per-fixture-
    // file layout and the per-table probe stages (26 bucket dot
    // products per vector) run single-task off the cache.
    val base = graft.CachePool.swapOne("neardup-lsh-base",
      quantized(vecs, "vid").repartition(
        math.max(1, vecs.sparkSession.sparkContext.defaultParallelism),
        col("vid")))
    // Candidate discovery on (id, bucket) LONGS only (r18, guide §8
    // "decide with small rows, move big rows once"): the r17 shape
    // carried both 64-long quantized vectors and both norms through
    // the probe explode (13×), the bucket-join exchange AND the
    // pair-dedup exchange — ~1 KB/row where 16 bytes decide. The
    // candidate pair set is identical; payloads attach ONCE, after
    // the dedup, by two id-keyed joins against the same pinned frame.
    val perTable = (0 until 2).map { t =>
      val probes = base.select(col("vid").as("vec_a"),
        explode(multiProbeBucketsT(col("iv_vid"), t)).as("bucket"))
      val index = base.select(col("vid").as("vec_b"),
        lshBucketT(col("iv_vid"), t).as("bucket"))
      probes.join(index, Seq("bucket"))
        .filter(col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"))
    }
    // dedup BEFORE the dot product: a pair found by both tables (the
    // common case for true near-dups) scores once, not twice
    perTable.reduce(_ union _)
      .dropDuplicates("vec_a", "vec_b")
      .join(base.select(col("vid").as("vec_a"),
        col("iv_vid").as("iv_a"), col("norm_vid").as("norm_a")), "vec_a")
      .join(base.select(col("vid").as("vec_b"),
        col("iv_vid").as("iv_b"), col("norm_vid").as("norm_b")), "vec_b")
      .withColumn("cosine",
        dot_long(col("iv_a"), col("iv_b")).cast("double") /
          (col("norm_a") * col("norm_b")))
      .filter(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }

  /** Embedding-cosine near-duplicate pairs (cosine ≥ threshold) via
    * multi-probe LSH buckets — the embedding-space analog of MinHash
    * dedup. Candidate discovery is [[nearDupPairsLsh]]; recall of the
    * bucketed path is pinned by [[cosinePlantedRecall]]
    * (q_cosine_recall), since the natural fixtures have no pair above
    * the near-dup threshold (max pairwise cosine ≈ 0.51 → this query
    * is empty at sf0.01 by construction, not by accident). */
  def cosineNearDup(spark: SparkSession, sf: String, threshold: Double = 0.95): DataFrame =
    nearDupPairsLsh(
      Tables.load(spark, sf, "embeddings").select(col("vec_id"), col("embedding")),
      threshold)
      .orderBy(col("vec_a"), col("vec_b"))

  /** Driver-visible recall pin for the cosine near-dup path — the
    * q_ann_recall construction at the NEAR-DUP threshold: every vector
    * gets a deterministic near-identical twin (id + 1e6, first
    * component ×1.01, cosine ≥ 0.999), the twins are unioned into the
    * corpus, and the SAME [[nearDupPairsLsh]] kernel the production
    * query runs must recover every (original, twin) pair at
    * threshold 0.95. The DuckDB oracle is the full planted list —
    * green iff recall = 100%. Original↔original and twin↔twin pairs
    * sit at cosine ≤ ~0.51 and cannot contaminate the output, so the
    * planted filter is exact.
    *
    * FIXTURE COUPLING (same note as [[annPlantedRecall]]): each table
    * structurally covers single-plane straddles (Hamming≤1), so a miss
    * needs the twin within 0.57° of ≥2 hyperplanes in BOTH independent
    * 12-plane families at once — zero fixtures (sf0.001's vec 232
    * two-flips family 0 and is recovered by family 1), ~10⁻⁸-scale
    * under regeneration. */
  def cosinePlantedRecall(spark: SparkSession, sf: String,
      threshold: Double = 0.95): DataFrame = {
    val e = Tables.load(spark, sf, "embeddings")
    val twins = e.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"),
        (x, i) => when(i === 0, x * lit(1.01)).otherwise(x)).as("embedding"))
    nearDupPairsLsh(
      e.select(col("vec_id"), col("embedding")).union(twins), threshold)
      .filter(col("vec_b") === col("vec_a") + 1000000L)
      .select(col("vec_a").as("query_id"), col("vec_b").as("neighbor_id"))
      .orderBy(col("query_id"))
  }

  // ---- IVF (inverted-file) ANN -------------------------------------

  /** Number of IVF cells, probed cells per query, Lloyd iterations. */
  val IvfCells = 16
  val NProbe = 2
  val KmeansIters = 3

  /** Distributed Lloyd's k-means over the quantized vectors — the real
    * IVF training step. All arithmetic is exact longs: per-cell
    * per-dimension sums are exact and the centroid update is floor
    * division, so the trained centroids are bit-identical regardless
    * of partitioning — a replan can never move a vector across cells.
    * Each iteration is one explode-by-dimension shuffle; the driver
    * receives k×d aggregate rows (16×64), never data. At 100 TB the
    * training input is a bounded TABLESAMPLE; assignment (below) stays
    * full-scale either way.
    */
  def kmeansCentroidsQ(e: DataFrame, k: Int = IvfCells,
      iters: Int = KmeansIters): Seq[Seq[Long]] = {
    val iv = e.select(col("vec_id"),
      graft.functions.ArrayOps.quantize_q(col("embedding"), Q).as("iv"))
    // deterministic spread init: the k first vectors in MD5-of-id
    // order. md5 (not xxhash64) on purpose: it is the one hash every
    // engine computes identically, and with it the WHOLE trainer —
    // init, integer-exact assignment, floor-division update — replays
    // as plain SQL in an independent engine (the q_ann_ivf /
    // q_pq_codes oracles unroll these same Lloyd iterations in DuckDB)
    var centroids: Seq[Seq[Long]] =
      iv.orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(k)
        .collect().map(_.getSeq[Long](1).toSeq).toSeq
    for (_ <- 1 to iters) {
      val stats = iv
        .withColumn("cell",
          element_at(nearestCellsQ(col("iv"), centroids, 1), 1))
        .select(col("cell"), posexplode(col("iv")).as(Seq("pos", "v")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .collect()
        .groupBy(_.getInt(0))
      centroids = centroids.indices.map { c =>
        stats.get(c).map { rows =>
          // floorDiv, not truncating /: quantized components are
          // negative for negative floats, and the two differ on
          // negative non-exact division — floor keeps the update the
          // documented floor-division semantics everywhere
          val byPos = rows.map(r =>
            r.getInt(1) -> Math.floorDiv(r.getLong(2), r.getLong(3))).toMap
          (0 until Dim).map(byPos): Seq[Long]
        }.getOrElse(centroids(c)) // an emptied cell keeps its centroid
      }
    }
    centroids
  }

  /** Cell ids of the `n` nearest centroids by exact squared L2
    * distance: argmin ‖v−c‖² = argmin (c·c − 2 v·c), the v·v term is
    * constant per vector. Ties break on cell id — fully deterministic. */
  private def nearestCellsQ(iv: Column, centroids: Seq[Seq[Long]],
      n: Int): Column = {
    val scored = array(centroids.zipWithIndex.map { case (cq, c) =>
      struct(
        (lit(cq.map(x => x * x).sum) - lit(2L) * dot_long(iv, typedLit(cq)))
          .as("d2"),
        lit(c).as("cell"))
    }: _*)
    slice(transform(array_sort(scored), s => s.getField("cell")), 1, n)
  }

  /** Deterministic 1-in-[[SampleDenom]] row-hash sample — the actual
    * TABLESAMPLE shape the trainer's 100 TB note promises: a stateless
    * hash filter on the key (no sort, no shuffle, scan-pushable) whose
    * row set is a pure function of vec_id, so it reproduces across
    * partitionings and engines — Bernoulli `.sample` does not. */
  val SampleDenom = 8L
  private[graft] def trainingSample(e: DataFrame): DataFrame =
    e.filter(pmod(xxhash64(col("vec_id")), lit(SampleDenom)) === 0L)

  /** Trained k-means centroids, a [[graft.CachePool]] entry per
    * (dataset, session): k-means output is a persistent index artifact
    * (deterministic per dataset content), so the index and its recall
    * gate — and repeated queries — share one training run, and
    * rewriting the parquet under the same path forces a retrain
    * instead of serving a stale index. At 100 TB the artifact lives
    * next to the data keyed by its snapshot version. */
  private[graft] def centroidsFor(spark: SparkSession,
      sf: String, sampled: Boolean = false): Seq[Seq[Long]] =
    graft.CachePool.memo(
        if (sampled) "ivf-centroids#sampled" else "ivf-centroids", spark, sf) {
      graft.CachePool.Held(kmeansCentroidsQ(
        trainerPool(Tables.load(spark, sf, "embeddings"), sampled, IvfCells)))
    }

  /** SALTED cell join (r18, guide §2.5), shared by every cell-probed
    * scoring kernel: the bare join key has only [[IvfCells]] (16)
    * distinct values, so at most 16 tasks ever score candidates — a
    * structural parallelism cap — and one hot cell bounds the stage at
    * its own occupancy², which AQE skew-join cannot split (one key =
    * one indivisible partition). The salt is DETERMINISTIC (xxhash64
    * of the index-side id — never rand(): a retried map task would
    * re-draw and lose/duplicate rows, SPARK-38388): each cell's index
    * list splits S ways, probes explode all S salt values, so every
    * (query, neighbor) candidate still meets EXACTLY once and the
    * output is independent of S (spec-pinned). S derives from the
    * session's parallelism — scale-adaptive, never a local constant;
    * S=1 reproduces the unsalted plan. `spark.graft.ivf.salts`
    * overrides for specs/tuning. */
  private def ivfSalts(spark: SparkSession): Int =
    spark.conf.get("spark.graft.ivf.salts",
      math.max(1, spark.sparkContext.defaultParallelism * 2 / IvfCells)
        .toString).toInt

  private def saltIndexSide(df: DataFrame, idCol: String,
      salts: Int): DataFrame =
    df.withColumn("salt", pmod(xxhash64(col(idCol)), lit(salts.toLong)))

  private def saltProbeSide(df: DataFrame, salts: Int): DataFrame =
    df.withColumn("salt",
      explode(array((0 until salts).map(s => lit(s.toLong)): _*)))

  /** The IVF candidate-pair stream every cell-probed consumer shares:
    * vectors index into their nearest k-means cell, queries probe the
    * NProbe nearest cells, candidates meet on CELL EQUALITY (shuffle
    * on a 16-value key; per-cell lists bounded by occupancy, never a
    * cross join) and score by the shared exact quantized cosine.
    * Emits (query_id, neighbor_id, cosine) — [[annIvf]] windows it to
    * top-k, [[labelKnnIvf]] votes over the top-k labels,
    * [[tripletMineIvf]] arg-maxes it per (anchor, same-label) side. */
  private[graft] def ivfCandidatePairs(spark: SparkSession,
      sf: String): DataFrame =
    ivfCandidatePairsWith(spark, sf, centroidsFor(spark, sf))

  /** The candidate stream against an EXPLICIT centroid artifact — the
    * serve path of [[graft.operators.IndexStore]]: a loaded index
    * must produce the same stream as the in-JVM trainer memo. */
  private[graft] def ivfCandidatePairsWith(spark: SparkSession,
      sf: String, cents: Seq[Seq[Long]]): DataFrame = {
    val e = Tables.load(spark, sf, "embeddings")
    val salts = ivfSalts(spark)
    val indexed = saltIndexSide(quantized(e, "neighbor_id")
      .withColumn("cell",
        element_at(nearestCellsQ(col("iv_neighbor_id"), cents, 1), 1)),
      "neighbor_id", salts)
    val probes = saltProbeSide(quantized(e, "query_id")
      .withColumn("cell",
        explode(nearestCellsQ(col("iv_query_id"), cents, NProbe))),
      salts)
    probes.join(indexed, Seq("cell", "salt"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine",
        dot_long(col("iv_query_id"), col("iv_neighbor_id")).cast("double") /
          (col("norm_query_id") * col("norm_neighbor_id")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
  }

  /** IVF ANN: top-k per query over [[ivfCandidatePairs]]. */
  def annIvf(spark: SparkSession, sf: String, k: Int = 3): DataFrame =
    annIvfWith(spark, sf, centroidsFor(spark, sf), k)

  private def annIvfWith(spark: SparkSession, sf: String,
      cents: Seq[Seq[Long]], k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    // No pair dedup: each neighbor is indexed in exactly ONE cell and
    // a query's probe cells are distinct, so a (query, neighbor) pair
    // cannot repeat — a dropDuplicates here would be a pure extra
    // hash-agg exchange over the full top-k result.
    ivfCandidatePairsWith(spark, sf, cents)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rk"), col("cosine"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** q_ann_ivf_saved: IVF search SERVED FROM THE PERSISTED INDEX
    * ARTIFACT — the [[graft.operators.IndexStore]] round trip run
    * end-to-end inside one row: train → publish the versioned
    * centroid artifact → load the pinned version → answer the same
    * top-k as [[annIvf]] from the LOADED centroids (the serve path
    * receives them as an argument, so the trainer memo cannot leak
    * into it). The
    * DuckDB oracle is q_ann_ivf's trainer-replay query, so a
    * save/load bit-flip, a version mispin, or a stale-memo leak moves
    * an assignment and fails the hash. This is the FAISS
    * write_index/read_index contract, and the missing completion of
    * the delta family: [[deltaIvfAssign]] freezes centroids within a
    * run, the store freezes them across sessions. */
  def annIvfSaved(spark: SparkSession, sf: String, k: Int = 3): DataFrame = {
    val (root, v) = IndexStore.freshArtifact("ivf")(
      IndexStore.saveIvf(spark, sf, _))
    annIvfWith(spark, sf,
      IndexStore.loadIvfCentroids(spark, root, Some(v)), k)
  }

  /** Metadata predicate for [[annIvfFiltered]] — the filter language,
    * interpolated into both engines. */
  val FilterLang = "en"

  /** q_ann_filtered: FILTERED vector search — every production ANN
    * deployment's second feature request ("nearest neighbors WHERE
    * lang = 'en'", license = permissive, date > cutoff …): top-k per
    * query over the IVF candidate stream restricted to documents
    * passing a metadata predicate (the embeddings table's vec_id
    * aligns with documents.doc_id). This is the POST-FILTER form —
    * the one that serves per-query predicates: probe cells as usual,
    * drop disallowed candidates before ranking. With a predicate this
    * selective-or-less it costs one broadcast semi-join inside the
    * candidate stream; a HIGHLY selective predicate starves probed
    * cells and the production dials are widening NProbe or
    * PRE-filtering (partition the index by the attribute — the
    * q_bucketed_join layout argument applied to cells), both of which
    * compose with this same code path. The DuckDB oracle replays the
    * shared IVF candidate chain and applies the identical predicate —
    * value-exact, strictly stronger than a recall gate. */
  def annIvfFiltered(spark: SparkSession, sf: String,
      k: Int = 3): DataFrame = {
    val allowed = Tables.load(spark, sf, "documents")
      .filter(col("lang") === FilterLang)
      .select(col("doc_id").as("neighbor_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    // `allowed` is a FILTERED documents projection — still
    // corpus-cardinality, so no broadcast hint on the semi probe
    ivfCandidatePairs(spark, sf)
      .join(allowed, Seq("neighbor_id"), "left_semi")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rk"), col("cosine"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** q_delta_ivf: INCREMENTAL index maintenance — the FAISS `add()`
    * path that completes the delta story (delta_dedup for
    * fingerprints, delta_card for the release card, this for the ANN
    * index): the already-indexed corpus (first 80% of vec_ids, the
    * shared delta framing) trains the centroid artifact ONCE, and a
    * new embedding delivery assigns into the FROZEN cells with one
    * integer argmin per vector — no retrain, no touch of the indexed
    * data, cost O(delta × k). The argmin ties on cell id and every
    * distance is an exact long, so the DuckDB oracle replays the
    * restricted trainer (the SAME unrolled Lloyd CTEs as q_ann_ivf,
    * trained on the base slice only) and pins the delta's cell
    * assignment value for value — a drifted frozen artifact or a
    * retrain-on-delta bug moves a vector's cell and fails the hash.
    * The operational signal: a delivery whose assignment skews into
    * few cells is distribution drift — retrain time (the monitoring
    * handoff to q_stream_embed_drift). */
  def deltaIvfAssign(spark: SparkSession, sf: String): DataFrame = {
    val e = Tables.load(spark, sf, "embeddings")
    val wRow = e.agg(floor((max(col("vec_id")) + 1) * 0.8).cast("long"))
      .head()
    // empty table → max() is NULL: no base slice to train on and no
    // delta to assign — return the empty frame with the right schema
    // instead of NPEing on the null aggregate
    if (wRow.isNullAt(0))
      return e.select(col("vec_id"), lit(0L).as("cell")).limit(0)
    val w = wRow.getLong(0)
    val cents = kmeansCentroidsQ(e.filter(col("vec_id") < w))
    e.filter(col("vec_id") >= w)
      .select(col("vec_id"),
        graft.functions.ArrayOps.quantize_q(col("embedding"), Q).as("iv"))
      .withColumn("cell",
        element_at(nearestCellsQ(col("iv"), cents, 1), 1).cast("long"))
      .select(col("vec_id"), col("cell"))
      .orderBy(col("vec_id"))
  }

  /** Driver-visible IVF recall pin — q_ann_recall's twin for the
    * k-means index: every vector's planted near-identical twin
    * (id + 1e6, first component ×1.01) is indexed into its nearest
    * cell; originals probe their NProbe nearest cells; the DuckDB
    * oracle is the full planted list — green iff recall = 100%.
    *
    * FIXTURE COUPLING: a miss requires the twin's nearest centroid to
    * be NEITHER of the query's two nearest — the ≤0.57° twin rotation
    * must flip the argmin while the runner-up also loses, i.e. the
    * vector sits that close to a two-boundary corner. Zero fixtures
    * hit this; a regenerated-embeddings red here means check the
    * corner case before debugging the index. */
  def ivfPlantedRecall(spark: SparkSession, sf: String): DataFrame =
    ivfRecallWith(spark, sf, centroidsFor(spark, sf))

  /** [[ivfPlantedRecall]]'s SAMPLED-TRAINER twin: identical planted
    * construction, but the centroids are trained on the deterministic
    * 1/[[SampleDenom]] hash sample — the bounded-training-cost path
    * the full trainer's doc promises at 100 TB (FAISS practice: train
    * on a corpus sample, assign at full scale). The gate proves
    * sample-trained cells stay twin-safe: a twin's ≤0.57° rotation
    * lands in the query's probed cells for this centroid set too, so
    * a cheaper trainer costs zero recall on the planted ground truth. */
  def ivfSampledPlantedRecall(spark: SparkSession, sf: String): DataFrame =
    ivfRecallWith(spark, sf, centroidsFor(spark, sf, sampled = true))

  private def ivfRecallWith(spark: SparkSession, sf: String,
      cents: Seq[Seq[Long]]): DataFrame = {
    val e = Tables.load(spark, sf, "embeddings")
    val index = e.select((col("vec_id") + 1000000L).as("neighbor_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x * lit(1.01)).otherwise(x)).as("twin"))
      .select(col("neighbor_id"),
        graft.functions.ArrayOps.quantize_q(col("twin"), Q).as("iv_n"))
      .withColumn("cell", element_at(nearestCellsQ(col("iv_n"), cents, 1), 1))
    val probes = quantized(e, "query_id")
      .select(col("query_id"),
        explode(nearestCellsQ(col("iv_query_id"), cents, NProbe)).as("cell"))
    probes.join(index, Seq("cell"))
      .filter(col("neighbor_id") === col("query_id") + 1000000L)
      .select(col("query_id"), col("neighbor_id")).distinct()
      .orderBy(col("query_id"))
  }

  /** Probe depths swept by [[ivfProbeSweep]] — 1 to half the
    * [[IvfCells]] cell count, so the curve spans "cheapest possible"
    * to "half the index scanned". Interpolated into the oracle. */
  val ProbeSweepPoints: Seq[Long] = Seq(1L, 2L, 4L, 8L)

  /** True-neighbor depth the sweep scores against (recall@k of the
    * exact brute-force top-k). */
  val SweepTrueK = 3

  /** q_ivf_sweep: the ANN KNOB-TUNING curve — recall vs probe depth,
    * the dial every IVF deployment turns (FAISS `nprobe`): for each
    * [[ProbeSweepPoints]] depth, the candidate mass the index would
    * score (the cost axis) and how many exact top-[[SweepTrueK]]
    * neighbors the probed cells contain (the recall axis, in integer
    * basis points). The [[graft.operators.Dedup.dedupThresholdSweep]]
    * pattern applied to retrieval: ONE cell-ranking pass per vector
    * (cells ranked once to the deepest point — a shallower probe is a
    * PREFIX of a deeper one, the nprobe analog of BPE prefix-closure),
    * one candidate census keyed by FIRST probe depth that admits the
    * pair, one fan-out to the swept depths — never a re-probe per
    * point. Ground truth is the guarded exact kernel
    * ([[knnBruteForce]] — verification-scale by convention; at 100 TB
    * the truth set comes from a held-out query SAMPLE, the standard
    * ANN-bench protocol, and the sweep arithmetic is unchanged). */
  def ivfProbeSweep(spark: SparkSession, sf: String): DataFrame = {
    val e = Tables.load(spark, sf, "embeddings")
    val cents = centroidsFor(spark, sf)
    val maxP = ProbeSweepPoints.max.toInt
    val q = quantized(e, "vec_id")
    val index = q.select(col("vec_id").as("neighbor_id"),
      element_at(nearestCellsQ(col("iv_vec_id"), cents, 1), 1).as("cell"))
    val probes = q.select(col("vec_id").as("query_id"),
        posexplode(nearestCellsQ(col("iv_vec_id"), cents, maxP))
          .as(Seq("p0", "cell")))
      .select(col("query_id"), col("cell"),
        (col("p0") + 1).cast("long").as("cell_rank"))
    // first probe depth admitting each (query, neighbor) candidate —
    // cells are disjoint (a vector indexes into exactly one), so this
    // min is the unique admitting depth
    val candFirst = probes.join(index, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(min(col("cell_rank")).as("first_rank"))
    // pooled: the truth set feeds BOTH the hit join and the recall
    // denominator — unpinned, the guarded brute-force kernel (the
    // deliberate broadcast-NL all-pairs scan) runs twice
    val truth = graft.CachePool.swapOne("ivf-sweep-truth",
      knnBruteForce(spark, sf, SweepTrueK)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("is_true")))
    val swept = candFirst
      .join(truth, Seq("query_id", "neighbor_id"), "left")
      .select(col("first_rank"),
        coalesce(col("is_true"), lit(0L)).as("is_true"),
        explode(typedLit(ProbeSweepPoints)).as("nprobe"))
      .filter(col("first_rank") <= col("nprobe"))
      .groupBy(col("nprobe"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(col("is_true")).as("n_true_hits"))
    val totals = truth.agg(count(lit(1)).as("n_true_total"))
    spark.range(1)
      .select(explode(typedLit(ProbeSweepPoints)).as("nprobe"))
      .join(swept, Seq("nprobe"), "left")
      .crossJoin(broadcast(totals))
      .select(col("nprobe"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_true_hits"), lit(0L)).as("n_true_hits"),
        expr("(coalesce(n_true_hits, 0) * 10000) div n_true_total")
          .as("recall_bp"))
      .orderBy(col("nprobe"))
  }

  /** Exact brute-force cosine pairs over a threshold — the
    * oracle-checkable twin of the LSH near-dup path. */
  def cosinePairsExact(spark: SparkSession, sf: String,
      threshold: Double = 0.25): DataFrame = {
    guardExactKernel(Tables.load(spark, sf, "embeddings"), "cosinePairsExact")
    // probe side repartitioned to session parallelism (r18): the
    // O(n·m) broadcast scoring below is map-side — on a one-file scan
    // it otherwise runs single-task (the knnBruteForce fix applied to
    // its pair-kernel sibling; feeds the pooled semantic-clusters
    // build)
    val a = quantized(Tables.load(spark, sf, "embeddings"), "vec_a")
      .repartition(math.max(1, spark.sparkContext.defaultParallelism),
        col("vec_a"))
    val b = quantized(Tables.load(spark, sf, "embeddings"), "vec_b")
    a.crossJoin(broadcast(b))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cosine",
        dot_long(col("iv_vec_a"), col("iv_vec_b")).cast("double") /
          (col("norm_vec_a") * col("norm_vec_b")))
      .filter(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  // ---- product quantization (PQ) -----------------------------------

  /** PQ geometry: 64 dims → 8 subspaces × 8 dims, 16 centroids per
    * subspace. A vector compresses to 8 four-bit codes — 8 bytes
    * against 256 bytes of float32, the memory answer that makes a
    * billion-vector ANN index executor-resident at 100 TB (the IVF
    * cells bound WHICH candidates are scored; PQ bounds what each
    * candidate costs to hold and score). */
  val PqM = 8
  val PqSubDim: Int = Dim / PqM
  val PqK = 16
  val PqIters = 3

  private def subVec(iv: Column, m: Int): Column =
    slice(iv, m * PqSubDim + 1, PqSubDim)

  /** Nearest centroid of one subspace by exact squared L2 over the
    * quantized grid (argmin ‖v−c‖² = argmin (c·c − 2 v·c); the v·v
    * term is constant per subvector). Ties break on cell id. */
  private def nearestSubCellQ(sub: Column, book: Seq[Seq[Long]]): Column = {
    val scored = array(book.zipWithIndex.map { case (cq, c) =>
      struct(
        (lit(cq.map(x => x * x).sum) - lit(2L) * dot_long(sub, typedLit(cq)))
          .as("d2"),
        lit(c).as("cell"))
    }: _*)
    element_at(transform(array_sort(scored), s => s.getField("cell")), 1)
  }

  /** Per-subspace PQ codebooks ([M][K][SubDim] exact longs) by
    * distributed Lloyd's — every subspace trains in the SAME pass:
    * one explode-by-(subspace, position) partial-aggregated shuffle
    * per iteration, driver receives M·K·SubDim aggregate rows (8·16·8)
    * per round, never data. Same exactness contract as the IVF
    * trainer: integer sums + floor division make the codebooks
    * bit-identical under any partitioning, so a replan can never move
    * a vector across codes. At 100 TB the training input is a bounded
    * TABLESAMPLE; encoding (below) stays full-scale either way. */
  def pqCodebooksQ(e: DataFrame, iters: Int = PqIters): Seq[Seq[Seq[Long]]] = {
    val iv = e.select(col("vec_id"),
      graft.functions.ArrayOps.quantize_q(col("embedding"), Q).as("iv"))
    // deterministic spread init: the K first vectors in MD5-of-id
    // order (engine-portable — see kmeansCentroidsQ) seed every
    // subspace with their m-th subvector
    val seeds = iv.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(PqK).collect().map(_.getSeq[Long](1).toSeq)
    require(seeds.length == PqK,
      s"PQ training needs at least $PqK vectors to seed $PqK centroids " +
        s"per subspace, got ${seeds.length} — the emptied-cell fallback " +
        "indexes books(m)(c) and would fail opaquely on a short seed set")
    var books: Seq[Seq[Seq[Long]]] = (0 until PqM).map(m =>
      seeds.map(s => s.slice(m * PqSubDim, (m + 1) * PqSubDim)).toSeq)
    for (_ <- 1 to iters) {
      val stats = iv.select(explode(array((0 until PqM).map(m =>
          struct(lit(m).as("m"),
            nearestSubCellQ(subVec(col("iv"), m), books(m)).as("cell"),
            subVec(col("iv"), m).as("sub"))): _*)).as("s"))
        .select(col("s.m"), col("s.cell"),
          posexplode(col("s.sub")).as(Seq("pos", "v")))
        .groupBy(col("m"), col("cell"), col("pos"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .collect()
      val byM = stats.groupBy(_.getInt(0))
      books = (0 until PqM).map { m =>
        val byCell = byM.getOrElse(m, Array.empty).groupBy(_.getInt(1))
        (0 until PqK).map { c =>
          byCell.get(c).map { rs =>
            val byPos = rs.map(r =>
              r.getInt(2) -> Math.floorDiv(r.getLong(3), r.getLong(4))).toMap
            (0 until PqSubDim).map(byPos): Seq[Long]
          }.getOrElse(books(m)(c)) // an emptied cell keeps its centroid
        }
      }
    }
    books
  }

  /** Trainer input selection: the 1/[[SampleDenom]] hash sample when
    * `sampled`, EXCEPT when the sample undershoots the `minSeeds` the
    * trainer requires (a tiny fixture) — then the full set, so the
    * cheap-trainer path degrades to the exact one instead of crashing
    * (PQ) or silently training a smaller index (IVF). At any real
    * scale the sample dwarfs the seed count. */
  private[graft] def trainerPool(base: DataFrame,
      sampled: Boolean, minSeeds: Int): DataFrame =
    if (!sampled) base
    else {
      val s = trainingSample(base)
      if (s.limit(minSeeds).count() < minSeeds) base else s
    }

  private[graft] def pqTrainerPool(base: DataFrame,
      sampled: Boolean): DataFrame = trainerPool(base, sampled, PqK)

  /** Trained PQ codebooks — the same [[graft.CachePool]] contract as
    * [[centroidsFor]]. */
  private[graft] def pqCodebooksFor(spark: SparkSession,
      sf: String, sampled: Boolean = false): Seq[Seq[Seq[Long]]] =
    graft.CachePool.memo(
        if (sampled) "pq-codebooks#sampled" else "pq-codebooks", spark, sf) {
      graft.CachePool.Held(pqCodebooksQ(
        pqTrainerPool(Tables.load(spark, sf, "embeddings"), sampled)))
    }

  /** PQ encoding: every vector's M codes against the trained
    * codebooks — a shuffle-free map (the codebooks ride the plan as
    * literals), exploded to scalar (vec_id, subspace, code) rows.
    * Oracle-exact: the DuckDB twin replays the Lloyd's iterations in
    * SQL off the same MD5-ordered seeds (integer sums + floor
    * division make every codebook component engine-reproducible), so
    * the driver hash-pins every code — plus [[pqPlantedRecall]]'s
    * end-to-end gate and the determinism/range spec cases. */
  def pqCodes(spark: SparkSession, sf: String): DataFrame = {
    val books = pqCodebooksFor(spark, sf)
    Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"),
        graft.functions.ArrayOps.quantize_q(col("embedding"), Q).as("iv"))
      .select(col("vec_id"), posexplode(array((0 until PqM).map(m =>
          nearestSubCellQ(subVec(col("iv"), m), books(m)).cast("long")): _*))
        .as(Seq("subspace", "code")))
      .select(col("vec_id"), col("subspace").cast("long").as("subspace"),
        col("code"))
      .orderBy(col("vec_id"), col("subspace"))
  }

  /** A query's flattened ADC lookup table: entry m·K+k is the exact
    * ranking term ‖c‖² − 2·q_m·c against centroid k of subspace m
    * (the +‖q_m‖² constant is per-query and drops out of the argmin).
    * M·K small longs per query row, computed once; candidates then
    * cost M table lookups each ([[graft.functions.ArrayOps.pq_adc]]).
    */
  private def pqLut(iv: Column, books: Seq[Seq[Seq[Long]]]): Column =
    array((for { m <- 0 until PqM; cq <- books(m) } yield
      lit(cq.map(x => x * x).sum) - lit(2L) * dot_long(subVec(iv, m), typedLit(cq))): _*)

  /** Driver-visible PQ recall pin — the planted-twin construction over
    * the COMPRESSED index: twins (id + 1e6, first component ×1.01) are
    * PQ-encoded, originals scan the code index with the codegen ADC
    * kernel, and every query's top-1 by ADC distance must be its own
    * twin (ties break on neighbor id). The DuckDB oracle is the full
    * planted list — green iff 8-byte codes retain enough geometry to
    * rank a cosine-0.999 twin above every cosine-≤0.51 stranger, i.e.
    * the whole train→encode→score loop works end-to-end. The scan is
    * the exact-kernel verification shape (guarded broadcast); at scale
    * ADC scans IVF-cell candidate lists instead of the full index. */
  def pqPlantedRecall(spark: SparkSession, sf: String): DataFrame =
    pqRecallWith(spark, sf, pqCodebooksFor(spark, sf), "pqPlantedRecall")

  /** [[pqPlantedRecall]]'s SAMPLED-TRAINER twin — the PQ analog of
    * [[ivfSampledPlantedRecall]]: codebooks train on the deterministic
    * 1/[[SampleDenom]] hash sample (the bounded-training-cost path the
    * trainer's 100 TB note promises; FAISS practice trains PQ on ~1%
    * of the corpus), encoding and the ADC scan stay full-scale. Green
    * iff sample-trained codebooks still rank every planted twin first
    * — a cheaper trainer costs zero recall on the ground truth. */
  def pqSampledPlantedRecall(spark: SparkSession, sf: String): DataFrame =
    pqRecallWith(spark, sf, pqCodebooksFor(spark, sf, sampled = true),
      "pqSampledPlantedRecall")

  // `books` is by-name: the guard must refuse BEFORE the trainer runs
  // (the trainer is the expensive part), so the codebook expression
  // passed by the callers is only forced after guardExactKernel.
  private def pqRecallWith(spark: SparkSession, sf: String,
      booksThunk: => Seq[Seq[Seq[Long]]], op: String): DataFrame = {
    val e = Tables.load(spark, sf, "embeddings")
    guardExactKernel(e, op)
    val books = booksThunk
    val index = e.select((col("vec_id") + 1000000L).as("neighbor_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x * lit(1.01)).otherwise(x)).as("twin"))
      .select(col("neighbor_id"),
        graft.functions.ArrayOps.quantize_q(col("twin"), Q).as("iv_n"))
      .select(col("neighbor_id"), array((0 until PqM).map(m =>
          nearestSubCellQ(subVec(col("iv_n"), m), books(m)).cast("long")): _*)
        .as("codes"))
    val queries = e.select(col("vec_id").as("query_id"),
        graft.functions.ArrayOps.quantize_q(col("embedding"), Q).as("iv"))
      .select(col("query_id"), pqLut(col("iv"), books).as("lut"))
    // top-1 as a PARTIAL-AGGREGABLE argmin — min(struct(adc, id)) with
    // lexicographic struct ordering IS "min adc, ties on id", and the
    // map side combines to one row per query per partition. The first
    // cut used a row_number window here: the pair rows then carried
    // the 1 KB lut array into a 25M-row shuffle sort and the query ran
    // 228 s at sf0.1 — scalar-only pair rows + partial agg run it at
    // pair-scan speed. Same lesson at 100 TB: never let a wide column
    // ride through a per-pair shuffle.
    //
    // The repartition below is ALSO load-bearing, for a subtler
    // reason: building the LUT is a ~128-dot-product expression whose
    // generated code is far past the JVM's JIT method-size ceiling.
    // Left adjacent to the join, whole-stage codegen fuses it into the
    // SAME method as the M-lookup-per-pair scan, the fused method is
    // disqualified from JIT compilation, and the entire pair loop runs
    // in the bytecode interpreter — measured 198 s for a 4M-pair scan
    // that runs in ~1 s once the exchange splits the stages (and the
    // one-row-group parquet scan otherwise pins all pairs to a single
    // core). Hash-partitioning on query_id doubles as the agg
    // pre-partitioning, so the groupBy below needs no second shuffle.
    queries.repartition(col("query_id")).crossJoin(broadcast(index))
      .select(col("query_id"),
        struct(graft.functions.ArrayOps.pq_adc(col("lut"), col("codes"), PqK)
            .as("adc"),
          col("neighbor_id").as("neighbor_id")).as("cand"))
      .groupBy(col("query_id"))
      .agg(min(col("cand")).as("best"))
      .filter(col("best.neighbor_id") === col("query_id") + 1000000L)
      .select(col("query_id"), col("best.neighbor_id").as("neighbor_id"))
      .orderBy(col("query_id"))
  }

  // ---- SQ8 scalar quantization --------------------------------------

  /** SQ8 code levels (1 byte per dimension). */
  private val SqLevels = 256

  /** Trained SQ8 grid — the [[centroidsFor]] convention: one training
    * per (dataset, session) serves every encode/score call instead of
    * re-scanning the corpus per query. */
  private[graft] def sqGridFor(spark: SparkSession,
      sf: String): (IndexedSeq[Long], IndexedSeq[Long]) =
    graft.CachePool.memo("sq-grid", spark, sf) {
      graft.CachePool.Held(sqGrid(Tables.load(spark, sf, "embeddings")))
    }

  /** Trained SQ8 grid: per-dimension (lo, step) over the corpus, both
    * on the 2²⁶ integer grid so train/encode/score and the DuckDB twin
    * share one exact-integer derivation. step = max(1, ⌈(hi−lo)/255⌉)
    * guarantees every in-range value maps into [0, 255]. Driver-side
    * collect of exactly Dim rows (metadata-sized, the pqCodebooksFor
    * convention); the min/max agg is map-side combinable on 64 keys —
    * one scalar-row shuffle at any corpus size. */
  private[graft] def sqGrid(e: DataFrame): (IndexedSeq[Long], IndexedSeq[Long]) = {
    val rows = e.select(posexplode(
        graft.functions.ArrayOps.quantize_q(col("embedding"), Q))
        .as(Seq("pos", "v")))
      .groupBy(col("pos"))
      .agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      .collect()
    require(rows.length == Dim,
      s"sqGrid: expected $Dim dimensions, got ${rows.length}")
    val lo = Array.ofDim[Long](Dim)
    val step = Array.ofDim[Long](Dim)
    rows.foreach { r =>
      val p = r.getInt(0)
      lo(p) = r.getLong(1)
      step(p) = math.max(1L, (r.getLong(2) - r.getLong(1) +
        (SqLevels - 2).toLong) / (SqLevels - 1).toLong)
    }
    (lo.toIndexedSeq, step.toIndexedSeq)
  }

  /** One dimension's SQ8 code: clamp(⌊(iv_i − lo_i)/step_i⌋, 0, 255).
    * The division runs in doubles but is floor-exact here: the true
    * quotient is ≤ ~256 + ε where its fractional part is ≥ 1/step ≥
    * 2⁻²⁷ — far above one ulp at that magnitude — so the IEEE-rounded
    * quotient can never cross an integer boundary, and Spark and
    * DuckDB's integer `//` agree exactly. greatest(0) covers encoding
    * out-of-grid vectors (values below the trained lo clamp to 0, the
    * LEAST caps values above hi at 255 — the standard SQ out-of-
    * distribution behavior). */
  private def sqCode(iv: Column, i: Int, lo: Long, step: Long): Column =
    greatest(lit(0L), least(lit((SqLevels - 1).toLong),
      floor((element_at(iv, i + 1) - lit(lo)).cast("double") /
        lit(step.toDouble)).cast("long")))

  /** All 64 codes packed little-endian 8-per-long: 8 longs per vector
    * — the honest 1-byte-per-dimension index layout (64 B vs 512 B
    * float64 Tungsten array). Fully codegen'd shift/or tree. */
  private def sqPacked(iv: Column,
      lo: IndexedSeq[Long], step: IndexedSeq[Long]): Column =
    array((0 until Dim / 8).map { j =>
      (0 until 8).map { b =>
        val i = j * 8 + b
        shiftleft(sqCode(iv, i, lo(i), step(i)), 8 * b)
      }.reduce((a, c) => a.bitwiseOR(c))
    }: _*)

  /** SQ8 codes, one scalar row per (vec_id, dim) — the driver-visible
    * encode surface. Fully oracle-checkable: unlike PQ (whose k-means
    * codebooks SQL can't re-derive), the SQ grid is just per-dimension
    * min/max over the quantized corpus, so the DuckDB twin recomputes
    * the exact same integer codes end-to-end. */
  def sqCodes(spark: SparkSession, sf: String): DataFrame = {
    val e = Tables.load(spark, sf, "embeddings")
    val (lo, step) = sqGridFor(spark, sf)
    e.select(col("vec_id"),
        graft.functions.ArrayOps.quantize_q(col("embedding"), Q).as("iv"))
      .select(col("vec_id"), posexplode(array((0 until Dim).map(i =>
          sqCode(col("iv"), i, lo(i), step(i))): _*)).as(Seq("dim", "code")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"), col("code"))
      .orderBy(col("vec_id"), col("dim"))
  }

  /** Driver-visible SQ8 recall pin — the planted-twin construction
    * over the byte-compressed index: twins (id + 1e6, first component
    * ×1.01) are SQ8-encoded with the original-trained grid, originals
    * scan the packed-code index with the codegen [[graft.functions
    * .ArrayOps.sq_wdot]] kernel (per-query weights w_i = iv_i·step_i:
    * argmax Σ w_i·code_i == argmax reconstructed inner product, the
    * per-query Σ iv_i·lo_i term dropping out), and every query's top-1
    * must be its own twin. Inner-product ranking == cosine ranking
    * here because the corpus is unit-norm (fixture norms ∈
    * [1−1e-7, 1+1e-7]); for an un-normalized corpus the quadratic
    * ‖ṽ‖²−2q·ṽ form applies (the PQ LUT pattern). Margin: twin cosine
    * ≥ 0.999 vs strangers ≤ ~0.51, against ≤ 0.031 worst-case SQ8
    * reconstruction error (64·step/2²⁶·‖q‖₁-bounded) — structurally
    * un-flippable at these fixtures. Scan shape = the guarded exact-
    * kernel verification form; at scale the packed codes ride IVF
    * cell candidate lists exactly like PQ's. */
  def sqPlantedRecall(spark: SparkSession, sf: String): DataFrame = {
    val e = Tables.load(spark, sf, "embeddings")
    guardExactKernel(e, "sqPlantedRecall")
    val (lo, step) = sqGridFor(spark, sf)
    val index = e.select((col("vec_id") + 1000000L).as("neighbor_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x * lit(1.01)).otherwise(x)).as("twin"))
      .select(col("neighbor_id"),
        graft.functions.ArrayOps.quantize_q(col("twin"), Q).as("iv_n"))
      .select(col("neighbor_id"), sqPacked(col("iv_n"), lo, step).as("packed"))
    val queries = e.select(col("vec_id").as("query_id"),
        graft.functions.ArrayOps.quantize_q(col("embedding"), Q).as("iv"))
      .select(col("query_id"), array((0 until Dim).map(i =>
        element_at(col("iv"), i + 1) * lit(step(i))): _*).as("w"))
    // same stage split + partial-aggregable argmax as pqPlantedRecall:
    // scalar-only pair rows, min(struct(-score, id)) combines map-side
    queries.repartition(col("query_id")).crossJoin(broadcast(index))
      .select(col("query_id"),
        struct((-graft.functions.ArrayOps.sq_wdot(col("w"), col("packed")))
            .as("neg_score"),
          col("neighbor_id").as("neighbor_id")).as("cand"))
      .groupBy(col("query_id"))
      .agg(min(col("cand")).as("best"))
      .filter(col("best.neighbor_id") === col("query_id") + 1000000L)
      .select(col("query_id"), col("best.neighbor_id").as("neighbor_id"))
      .orderBy(col("query_id"))
  }

  // ---- contrastive training-pair mining ------------------------------

  /** Hard-mined contrastive triplets — the training-SET construction
    * op behind contrastive/metric learning: for every anchor, the
    * positive is its most-similar SAME-label vector and the negative
    * its most-similar OTHER-label vector (the "hard negative" — random
    * negatives are trivially separable and teach nothing; mining the
    * hardest is what makes the set worth training on). The margin
    * column (pos_cos − neg_cos) is the per-anchor difficulty the
    * curriculum would sort by.
    *
    * Both argmaxes are partial-aggregable min(struct(-cosine, id))
    * folds over the pair scan — no windows, map-side combining — with
    * deterministic smaller-id tie-breaks. Verification shape is the
    * guarded exact kernel; at scale the candidate feed is the IVF
    * cell join (positives) and a cell join over label-stratified
    * centroids (negatives) — the same composition every other exact
    * kernel here swaps to past the guard. */
  def tripletMine(spark: SparkSession, sf: String): DataFrame = {
    val e = Tables.load(spark, sf, "embeddings")
    guardExactKernel(e, "tripletMine")
    def side(idCol: String): DataFrame =
      quantized(e.select(col("vec_id"), col("embedding")), idCol)
        .join(e.select(col("vec_id").as(idCol),
          col("label").cast("long").as(s"label_$idCol")), idCol)
    val pairs = side("anchor_id").crossJoin(broadcast(side("cand_id")))
      .filter(col("anchor_id") =!= col("cand_id"))
      .withColumn("cosine",
        dot_long(col("iv_anchor_id"), col("iv_cand_id")).cast("double") /
          (col("norm_anchor_id") * col("norm_cand_id")))
      .select(col("anchor_id"), col("cand_id"), col("cosine"),
        (col("label_anchor_id") === col("label_cand_id")).as("same"))
    tripletsFromPairs(pairs)
  }

  /** [[tripletMine]] fed by the IVF candidate stream — the 100 TB
    * form of hard-triplet mining (the exact twin rides the guarded
    * broadcast cross kernel): per anchor, the most-similar same-label
    * and most-similar other-label CANDIDATE from the cell-probed
    * [[ivfCandidatePairs]] feed — exactly how FAISS-backed triplet
    * miners work in production (hard negatives come from the ANN
    * shortlist, not an exact scan). Selection is ONE shared code path
    * with the exact twin ([[tripletsFromPairs]]). Driver-checkable
    * value for value: the DuckDB oracle replays the unrolled-Lloyd
    * candidate chain (q_ann_ivf's CTEs) and the same two arg-maxes,
    * so a probe miss or tie-break drift is a row diff at the gate.
    * Anchors whose probed cells lack a same-label or other-label
    * candidate drop on both engines alike. */
  def tripletMineIvf(spark: SparkSession, sf: String): DataFrame = {
    val labels = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"))
    val pairs = ivfCandidatePairs(spark, sf)
      .join(labels.select(col("vec_id").as("query_id"),
        col("label").as("label_a")), Seq("query_id"))
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("label_c")), Seq("neighbor_id"))
      .select(col("query_id").as("anchor_id"),
        col("neighbor_id").as("cand_id"), col("cosine"),
        (col("label_a") === col("label_c")).as("same"))
    tripletsFromPairs(pairs)
  }

  /** Shared hard-triplet selection over a scored candidate feed
    * (anchor_id, cand_id, cosine, same): per anchor the max-cosine
    * same-label and max-cosine other-label candidate (ties to the
    * smaller id) as partial-aggregable min(struct(-cos, id)) — one
    * row per anchor leaves every map task, no per-anchor window. */
  private def tripletsFromPairs(pairs: DataFrame): DataFrame = {
    val best = pairs
      .groupBy(col("anchor_id"))
      .agg(
        min(when(col("same"),
          struct((-col("cosine")).as("neg_cos"), col("cand_id").as("id"))))
          .as("pos"),
        min(when(!col("same"),
          struct((-col("cosine")).as("neg_cos"), col("cand_id").as("id"))))
          .as("neg"))
    best
      // an anchor whose label has no second member (or a single-label
      // corpus) yields no triplet — dropped, not emitted half-null
      .filter(col("pos").isNotNull && col("neg").isNotNull)
      .select(col("anchor_id"),
        col("pos.id").as("pos_id"), (-col("pos.neg_cos")).as("pos_cos"),
        col("neg.id").as("neg_id"), (-col("neg.neg_cos")).as("neg_cos"),
        (-col("pos.neg_cos") + col("neg.neg_cos")).as("margin"))
      .orderBy(col("anchor_id"))
  }

  /** SEMANTIC clustering: connected components over the embedding-
    * cosine similarity graph (cosine ≥ `threshold`) — groups documents
    * that say the same thing in different words, where the shingle-
    * based near-dup path groups documents that share the same words.
    * Reuses [[Dedup.clustersFrom]] unchanged (node-only min-label
    * propagation, star-contraction fallback, checkpointed lineage):
    * the component engine is edge-source-agnostic.
    *
    * Edge derivation here is the EXACT pair kernel — the oracle
    * baseline, guarded against unbounded broadcast like every exact
    * kernel; its pair set is deterministically complete, which is what
    * a DuckDB transitive-closure oracle can pin. The 100 TB path is
    * [[semanticClustersLsh]]: the same clustering off cell-bucketed
    * candidates (the composition [[Dedup.nearDupClustersLsh]] applies
    * to MinHash candidates, applied here to the embedding graph).
    */
  def semanticClusters(spark: SparkSession, sf: String,
      threshold: Double = 0.35): DataFrame =
    // SESSION-POOLED (r17): the exact-kernel cluster assignment feeds
    // q_semantic_clusters, q_semdedup and q_cluster_balance — the
    // guarded O(n²) pair kernel + CC loop runs once per (dataset,
    // session); the label frame is embedding-table-sized.
    graft.CachePool.sessionCheckpoint(s"semantic-clusters:$threshold",
        spark, sf) {
      val vecs = Tables.load(spark, sf, "embeddings")
        .select(col("vec_id").as("doc_id"))
      val pairs = cosinePairsExact(spark, sf, threshold)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      Dedup.clustersFrom(vecs, pairs)
        .withColumnRenamed("doc_id", "vec_id")
        .orderBy(col("vec_id"))
    }

  /** Cluster-balanced curation — the quality-aware refinement of
    * SemDeDup's keep rule: group semantically-equivalent documents
    * (the [[semanticClusters]] components), then keep the HIGHEST-
    * QUALITY member of each cluster rather than the largest-norm one —
    * what a production curation pass actually does once a quality
    * model exists (near-duplicates differ in boilerplate/noise, and
    * norm is a proxy; the quality score is the signal). Completes the
    * survivor-rule matrix: `Dedup.keepBest` applies this quality rule
    * to SHINGLE clusters and [[semDedup]] applies the norm rule to
    * these SEMANTIC clusters — this is the quality rule on the
    * semantic edge source. Emits every document with its cluster,
    * quality, in-cluster quality rank and the keep flag, so downstream
    * can also widen to keep-top-k or audit what was dropped.
    *
    * Scale shape: clustering is the [[semanticClusters]] /
    * [[semanticClustersLsh]] machinery (cell-bucketed at scale); the
    * quality join is id-keyed (embedding ids = document ids); the rank
    * window is keyed by cluster_id — nothing global. */
  def clusterBalancedCurate(spark: SparkSession, sf: String,
      keepPerCluster: Int = 1): DataFrame =
    clusterBalancedFrom(spark, sf, semanticClusters(spark, sf),
      keepPerCluster)

  /** [[clusterBalancedCurate]] off the cell-bucketed clustering — the
    * 100 TB form: the exact twin's [[semanticClusters]] feed rides the
    * guarded O(n²) kernel and fail-fasts past 10⁶ vectors, while this
    * variant takes its edges from [[cellPairs]] via
    * [[semanticClustersLsh]], exactly as [[semDedupLsh]] shadows
    * [[semDedup]]. Quality rule, rank window and keep flag are ONE
    * shared code path with the exact twin ([[clusterBalancedFrom]]),
    * so the two cannot drift; pinned by the SAME exact-edge
    * recursive-CTE + quality-window oracle under the
    * candidate-completeness argument on [[semanticClustersLsh]]
    * (SimilaritySpec pins candidate-edge equality edge-for-edge). */
  def clusterBalancedCurateLsh(spark: SparkSession, sf: String,
      keepPerCluster: Int = 1): DataFrame =
    clusterBalancedFrom(spark, sf, semanticClustersLsh(spark, sf),
      keepPerCluster)

  /** Shared curation rule over a cluster assignment: join the
    * [[Text.qualityScoredDf]] composite by id, rank within each
    * cluster (quality desc, id asc), flag the top `keepPerCluster`.
    * The window is keyed by cluster_id — nothing global. */
  private def clusterBalancedFrom(spark: SparkSession, sf: String,
      clusters: DataFrame, keepPerCluster: Int): DataFrame = {
    val quality = Text.qualityScoredDf(Tables.load(spark, sf, "documents"))
      .select(col("doc_id").as("vec_id"), col("quality_score"))
    clusterQualityRank(clusters, quality)
      .select(col("vec_id"), col("cluster_id"), col("cluster_size"),
        col("quality_score"), col("qrank"),
        (col("qrank") <= keepPerCluster).cast("long").as("keep"))
      .orderBy(col("vec_id"))
  }

  /** The in-cluster quality rank (quality desc, id asc; window keyed
    * by cluster_id — nothing global) over any cluster assignment +
    * (vec_id, quality_score) frame — shared by [[clusterBalancedFrom]]
    * and Corpus.curateV2's survivor stage, so the survivor rule cannot
    * drift between the standalone artifact and the composed pipeline. */
  private[graft] def clusterQualityRank(clusters: DataFrame,
      quality: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    clusters.join(quality, "vec_id")
      .withColumn("qrank", row_number().over(
        Window.partitionBy(col("cluster_id"))
          .orderBy(col("quality_score").desc, col("vec_id"))).cast("long"))
  }

  /** Probed cells per endpoint in the cell-bucketed pair kernel.
    * Dial: recall rises with coverage of each vector's Voronoi
    * neighborhood; cost is `CellProbes` candidate rows per vector
    * before the equality join. */
  val CellProbes = 7

  /** Cell-bounded candidate PAIR kernel — the published SemDeDup
    * decomposition (Abbas et al. 2023: k-means-cluster the corpus,
    * then compare only within clusters) as a Spark plan: every vector
    * indexes into its nearest k-means cell (one narrow map), probes
    * its `nprobe` nearest cells, and candidates meet on CELL EQUALITY
    * — a hash-partitioned shuffle join whose per-cell lists are
    * bounded by cell occupancy, never a cross join. The exact
    * quantized cosine is the residual confirm, so a false candidate
    * cannot leak into the output; a true pair is lost only if NEITHER
    * endpoint probes the other's home cell (both sit near a shared
    * Voronoi boundary but in different cells).
    *
    * Why not [[nearDupPairsLsh]] as the feed? Hyperplane LSH is the
    * right family for NEAR-IDENTICAL pairs: at cosine ≥ 0.95 (≤ 18°)
    * a 12-bit sign key collides with p ≈ 0.9^12 and Hamming≤1 probing
    * covers the stragglers. At the semantic threshold 0.35 (θ ≈ 70°)
    * per-plane sign agreement is ~0.61, the two-table Hamming≤1 probe
    * recovers ~10% of true pairs, and no affordable probe radius
    * closes the gap — moderate-similarity graphs need data-dependent
    * (Voronoi) buckets, which is exactly what the paper ships.
    *
    * Pair canonicalization happens BEFORE the dot product: a pair
    * discovered from both endpoints' probes scores once, not twice
    * (dot and norm product are symmetric, so the kept row's
    * orientation is irrelevant).
    */
  private[graft] def cellPairs(e: DataFrame, cents: Seq[Seq[Long]],
      threshold: Double, nprobe: Int = CellProbes): DataFrame = {
    // SYMMETRIC probing: both endpoints explode their nprobe nearest
    // cells and a pair is a candidate iff the probe sets intersect —
    // a 0.35-cosine pair often straddles a Voronoi boundary where
    // one-sided probing (index-in-1, probe-n: the ANN top-k shape)
    // leaves both vectors in cells the other never probes; requiring
    // only set intersection covers every boundary geometry the
    // fixtures contain at the same join fan-out per side.
    //
    // The candidate stream is IDS ONLY, and deduplication is free:
    // probe sets overlap in up to nprobe shared cells, so the cell
    // join multiplies every pair — carrying the 64-long quantized
    // vectors through that exchange was measured 8× SLOWER than the
    // exact kernel at sf0.1 (the q_pq_recall lesson again: never let
    // a wide column ride a per-pair shuffle), and even a narrow
    // dropDuplicates pays a collision-stream-sized hash-agg exchange.
    // Instead each pair is EMITTED EXACTLY ONCE, in the minimum
    // shared cell id: both sides carry their (nprobe-element) probe
    // array, and a collision row survives only where
    // cell == min(pa ∩ pb) — a per-row filter in the same codegen
    // stage as the join, no aggregation anywhere. Surviving unique
    // pairs re-attach their vectors through two vector-table joins,
    // so each is scored exactly once.
    val q = quantized(e, "v")
      .select(col("v"), nearestCellsQ(col("iv_v"), cents, nprobe).as("pc"))
    val probes = q.select(col("v"), col("pc"), explode(col("pc")).as("cell"))
    val cand = probes
      .select(col("v").as("vec_a"), col("pc").as("pa"), col("cell"))
      .join(probes.select(col("v").as("vec_b"), col("pc").as("pb"),
        col("cell")), Seq("cell"))
      .filter(col("vec_a") < col("vec_b") &&
        col("cell") === array_min(array_intersect(col("pa"), col("pb"))))
      .select(col("vec_a"), col("vec_b"))
    cand
      .join(quantized(e, "vec_a"), "vec_a")
      .join(quantized(e, "vec_b"), "vec_b")
      .withColumn("cosine",
        dot_long(col("iv_vec_a"), col("iv_vec_b")).cast("double") /
          (col("norm_vec_a") * col("norm_vec_b")))
      .filter(col("cosine") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }

  /** [[semanticClusters]] fed by the cell-bucketed candidate kernel —
    * the operator a 100 TB corpus actually runs (the guarded exact
    * kernel fails fast past 10⁶ vectors by design). Identical
    * composition to [[Dedup.nearDupClustersLsh]]: candidate edges →
    * [[Dedup.clustersFrom]], which is edge-source-agnostic.
    *
    * ORACLE PINNING (same argument as q_dup_clusters_lsh): at the
    * fixtures' geometry every exact pair at cosine ≥ 0.35 has at
    * least one endpoint probing the other's home cell with
    * `CellProbes` probes, so the candidate edge set equals the exact
    * edge set and the SAME exact-edge recursive-CTE oracle pins every
    * cluster assignment — a cell miss or spurious candidate flips a
    * cluster id and fails the hash. SimilaritySpec additionally pins
    * candidate-set equality edge-for-edge (stronger than closure
    * equality) and asserts the plan is cross-join-free.
    */
  def semanticClustersLsh(spark: SparkSession, sf: String,
      threshold: Double = 0.35, nprobe: Int = CellProbes): DataFrame =
    // SESSION-POOLED (r17): the single most re-derived expensive
    // kernel of the r16 sweeps — q_semantic_clusters_lsh,
    // q_semdedup_lsh, q_cluster_balance_lsh AND the curate upstream
    // (q_curate_v2/_approx) each re-ran the cell-bucketed candidate
    // join + CC loop (~8.5 s each at sf0.1). One build per (dataset,
    // session); consumers read the checkpointed label frame.
    graft.CachePool.sessionCheckpoint(
        s"semantic-clusters-lsh:$threshold:$nprobe", spark, sf) {
      val e = Tables.load(spark, sf, "embeddings")
      val cents = centroidsFor(spark, sf)
      val pairs = cellPairs(e.select(col("vec_id"), col("embedding")),
          cents, threshold, nprobe)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
      Dedup.clustersFrom(e.select(col("vec_id").as("doc_id")), pairs)
        .withColumnRenamed("doc_id", "vec_id")
        .orderBy(col("vec_id"))
    }

  /** SemDeDup (Abbas et al. 2023): semantic deduplication — keep ONE
    * representative per semantic cluster and mark the rest for
    * removal. Composes [[semanticClusters]] (CC over the cosine graph)
    * with a survivor rule: the vector with the LARGEST quantized
    * norm² (the farthest-from-origin proxy for the cluster's most
    * feature-rich member; the paper's farthest-from-centroid rule is
    * the same argmax with the centroid subtracted), ties to the
    * smallest vec_id. The argmax is a partial-aggregable
    * `max(struct(n2, -vec_id))` — one row per cluster leaves every
    * map task, no per-cluster window sort. A min-id rule would be
    * vacuous here (the CC label already IS the component's min id),
    * so the norm rule is also what makes the survivor column carry
    * information the clustering didn't.
    */
  def semDedup(spark: SparkSession, sf: String,
      threshold: Double = 0.35): DataFrame =
    semDedupFrom(spark, sf, semanticClusters(spark, sf, threshold))

  /** [[semDedup]] off the cell-bucketed clustering — the 100 TB form
    * of the headline SemDeDup capability. Survivor rule unchanged and
    * shared with the exact twin (one code path, so the two cannot
    * drift); pinned by the same exact-edge + survivor-window oracle
    * as q_semdedup under the candidate-completeness argument on
    * [[semanticClustersLsh]]. */
  def semDedupLsh(spark: SparkSession, sf: String,
      threshold: Double = 0.35): DataFrame =
    semDedupFrom(spark, sf, semanticClustersLsh(spark, sf, threshold))

  /** Shared survivor rule over a cluster assignment: norm²-argmax,
    * ties to the smallest vec_id, as a partial-aggregable
    * `max(struct(n2, -vec_id))` — one row per cluster leaves every
    * map task, no per-cluster window sort. */
  private def semDedupFrom(spark: SparkSession, sf: String,
      clusters: DataFrame): DataFrame = {
    val n2 = Tables.load(spark, sf, "embeddings")
      .select(col("vec_id"),
        graft.functions.ArrayOps.quantize_q(col("embedding"), Q).as("iv"))
      .select(col("vec_id"), dot_long(col("iv"), col("iv")).as("n2"))
    val scored = clusters.join(n2, Seq("vec_id"))
    val survivors = scored.groupBy(col("cluster_id"))
      .agg(max(struct(col("n2"), (-col("vec_id")).as("nid"))).as("m"))
      .select(col("cluster_id"), (-col("m.nid")).as("survivor_id"))
    scored.join(survivors, Seq("cluster_id"))
      .select(col("vec_id"), col("cluster_id"), col("survivor_id"),
        (col("vec_id") === col("survivor_id")).cast("long").as("keep"))
      .orderBy(col("vec_id"))
  }

  /** Driver-visible IVF+PQ recall pin — the COMPOSED billion-vector
    * ANN layout: IVF cells bound WHICH candidates each query scores
    * (probes join the index on cell equality — a bucketed join, no
    * cross join, no full-index broadcast) and PQ codes bound what each
    * candidate COSTS (M-lookup ADC against the query's LUT instead of
    * a full-dimension dot). This is the shape a real 100 TB vector
    * index runs: both index artifacts (centroids + codebooks) are
    * content-versioned cached, the index side carries only
    * (cell, codes) — 8 bytes of payload per vector — and the per-query
    * argmin is the same partial-aggregable min(struct) as
    * [[pqPlantedRecall]]. Green iff every query's twin survives BOTH
    * approximations end-to-end: lands in a probed cell (pinned alone
    * by q_ivf_recall) and out-ranks every co-cell stranger by ADC
    * (pinned alone by q_pq_recall).
    */
  def ivfPqPlantedRecall(spark: SparkSession, sf: String): DataFrame = {
    val e = Tables.load(spark, sf, "embeddings")
    val cents = centroidsFor(spark, sf)
    val books = pqCodebooksFor(spark, sf)
    val index = e.select((col("vec_id") + 1000000L).as("neighbor_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x * lit(1.01)).otherwise(x)).as("twin"))
      .select(col("neighbor_id"),
        graft.functions.ArrayOps.quantize_q(col("twin"), Q).as("iv_n"))
      .select(col("neighbor_id"),
        element_at(nearestCellsQ(col("iv_n"), cents, 1), 1).as("cell"),
        array((0 until PqM).map(m =>
          nearestSubCellQ(subVec(col("iv_n"), m), books(m)).cast("long")): _*)
          .as("codes"))
    val probes = e.select(col("vec_id").as("query_id"),
        graft.functions.ArrayOps.quantize_q(col("embedding"), Q).as("iv"))
      .select(col("query_id"),
        explode(nearestCellsQ(col("iv"), cents, NProbe)).as("cell"),
        pqLut(col("iv"), books).as("lut"))
    // the cell-equality shuffle join doubles as the stage split that
    // keeps the (huge, JIT-ineligible) LUT/probe codegen out of the
    // per-candidate ADC stage — the pqPlantedRecall lesson for free.
    // Salted (r18, see [[ivfSalts]]): the per-candidate ADC stage is
    // otherwise capped at 16 tasks with hot-cell skew.
    val salts = ivfSalts(spark)
    saltProbeSide(probes, salts)
      .join(saltIndexSide(index, "neighbor_id", salts),
        Seq("cell", "salt"))
      .select(col("query_id"),
        struct(graft.functions.ArrayOps.pq_adc(col("lut"), col("codes"), PqK)
            .as("adc"),
          col("neighbor_id").as("neighbor_id")).as("cand"))
      .groupBy(col("query_id"))
      .agg(min(col("cand")).as("best"))
      .filter(col("best.neighbor_id") === col("query_id") + 1000000L)
      .select(col("query_id"), col("best.neighbor_id").as("neighbor_id"))
      .orderBy(col("query_id"))
  }

  /** IVF ∘ SQ8 composed — the FAISS IndexIVFScalarQuantizer layout and
    * the natural first production tier (SQ8's 64 B/vector costs 8× PQ's
    * 8 B but loses far less geometry, so it's the accuracy-conservative
    * choice until memory forces PQ): k-means cells bound WHICH
    * candidates are scored via the cell-equality shuffle join, packed
    * byte codes bound what each candidate costs via the codegen
    * [[graft.functions.ArrayOps.sq_wdot]] kernel. Same planted-twin
    * gate as [[ivfPqPlantedRecall]]: green iff no twin is lost to an
    * unprobed cell OR out-ranked by a co-cell stranger under byte
    * codes. The cell join is also the stage split keeping the 64-term
    * weight-table codegen out of the per-candidate scoring stage. */
  def ivfSqPlantedRecall(spark: SparkSession, sf: String): DataFrame = {
    val e = Tables.load(spark, sf, "embeddings")
    val cents = centroidsFor(spark, sf)
    val (lo, step) = sqGridFor(spark, sf)
    val index = e.select((col("vec_id") + 1000000L).as("neighbor_id"),
        transform(col("embedding"),
          (x, i) => when(i === 0, x * lit(1.01)).otherwise(x)).as("twin"))
      .select(col("neighbor_id"),
        graft.functions.ArrayOps.quantize_q(col("twin"), Q).as("iv_n"))
      .select(col("neighbor_id"),
        element_at(nearestCellsQ(col("iv_n"), cents, 1), 1).as("cell"),
        sqPacked(col("iv_n"), lo, step).as("packed"))
    val probes = e.select(col("vec_id").as("query_id"),
        graft.functions.ArrayOps.quantize_q(col("embedding"), Q).as("iv"))
      .select(col("query_id"),
        explode(nearestCellsQ(col("iv"), cents, NProbe)).as("cell"),
        array((0 until Dim).map(i =>
          element_at(col("iv"), i + 1) * lit(step(i))): _*).as("w"))
    // salted cell join (r18, see [[ivfSalts]]): the per-candidate
    // sq_wdot scoring stage is otherwise capped at 16 tasks
    val salts = ivfSalts(spark)
    saltProbeSide(probes, salts)
      .join(saltIndexSide(index, "neighbor_id", salts),
        Seq("cell", "salt"))
      .select(col("query_id"),
        struct((-graft.functions.ArrayOps.sq_wdot(col("w"), col("packed")))
            .as("neg_score"),
          col("neighbor_id").as("neighbor_id")).as("cand"))
      .groupBy(col("query_id"))
      .agg(min(col("cand")).as("best"))
      .filter(col("best.neighbor_id") === col("query_id") + 1000000L)
      .select(col("query_id"), col("best.neighbor_id").as("neighbor_id"))
      .orderBy(col("query_id"))
  }

  /** One unrolled Lloyd iteration over full vectors — assignment
    * (argmin, ties on cell) + floor-division centroid update (emptied
    * cells keep their previous centroid). Mirrors kmeansCentroidsQ
    * statement for statement; the engine's trainer seeds from
    * MD5-of-id order precisely so this replay is possible in any
    * engine with md5(). */
  private def lloydIterSql(i: Int, dim: Int): String =
    s"""a$i AS (
           SELECT vec_id, iv, cell FROM (
             SELECT q.vec_id, q.iv, c.cell,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 ${d2Sql("q.iv", "c.c", dim)},
                 c.cell) AS rn
             FROM qv q, c$i c) t
           WHERE rn = 1),
         u$i AS (
           SELECT cell, list(${floorDivSql("s", "n")} ORDER BY pos) AS c FROM (
             SELECT cell, p.j AS pos, SUM(iv[p.j]) AS s, COUNT(*) AS n
             FROM a$i, (SELECT unnest(generate_series(1, $dim)) AS j) p
             GROUP BY 1, 2) t
           GROUP BY cell),
         c${i + 1} AS (
           SELECT pr.cell, COALESCE(u.c, pr.c) AS c
           FROM c$i pr LEFT JOIN u$i u ON pr.cell = u.cell)"""

  /** One unrolled per-subspace Lloyd iteration (the PQ trainer): same
    * contract as [[lloydIterSql]] with every stage keyed by subspace
    * `m` — all 8 subspaces train in the same pass, like the engine. */
  private def pqIterSql(i: Int, subDim: Int): String =
    s"""pa$i AS (
           SELECT vec_id, m, sub, cell FROM (
             SELECT s.vec_id, s.m, s.sub, b.cell,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                 ${d2Sql("s.sub", "b.c", subDim)},
                 b.cell) AS rn
             FROM sv s JOIN b$i b ON s.m = b.m) t
           WHERE rn = 1),
         pu$i AS (
           SELECT m, cell, list(${floorDivSql("s", "n")} ORDER BY pos) AS c FROM (
             SELECT m, cell, p.j AS pos, SUM(sub[p.j]) AS s, COUNT(*) AS n
             FROM pa$i, (SELECT unnest(generate_series(1, $subDim)) AS j) p
             GROUP BY 1, 2, 3) t
           GROUP BY m, cell),
         b${i + 1} AS (
           SELECT pr.m, pr.cell, COALESCE(u.c, pr.c) AS c
           FROM b$i pr LEFT JOIN pu$i u ON pr.m = u.m AND pr.cell = u.cell)"""

  /** The replayed IVF candidate chain — quantize, seed from
    * MD5-of-id order, unroll KmeansIters Lloyd iterations
    * ([[lloydIterSql]]), index each vector in its argmin cell, probe
    * the NProbe nearest cells, and score candidates on cell equality
    * with the shared exact quantized cosine. Ends at CTE `cand`
    * (query_id, neighbor_id, cosine) — shared prefix of q_ann_ivf,
    * q_label_knn_ivf and q_triplets_ivf, so the three consumers of
    * the engine's ivfCandidatePairs replay ONE oracle candidate
    * definition (they cannot desynchronize). */
  private lazy val IvfCandCtes: String =
    s"""WITH qv AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 67108864.0) AS BIGINT)) AS iv
           FROM embeddings),
         seeds AS (
           SELECT vec_id, iv FROM qv
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
           LIMIT ${IvfCells}),
         c0 AS (
           SELECT ROW_NUMBER() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell,
             iv AS c
           FROM seeds),
         ${(0 until KmeansIters)
             .map(i => lloydIterSql(i, Dim))
             .mkString(",\n         ")},
         rank_cells AS (
           SELECT q.vec_id, q.iv, c.cell,
             ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
               ${d2Sql("q.iv", "c.c", Dim)},
               c.cell) AS rn
           FROM qv q, c${KmeansIters} c),
         indexed AS (SELECT vec_id, iv, cell FROM rank_cells WHERE rn = 1),
         probes AS (SELECT vec_id, iv, cell FROM rank_cells
           WHERE rn <= ${NProbe}),
         cand AS (
           SELECT pr.vec_id AS query_id, ix.vec_id AS neighbor_id,
             CAST(CAST(list_sum(list_transform(generate_series(1, len(pr.iv)),
               i -> pr.iv[i] * ix.iv[i])) AS BIGINT) AS DOUBLE)
             / (sqrt(CAST(CAST(list_sum(list_transform(generate_series(1, len(pr.iv)),
                 i -> pr.iv[i] * pr.iv[i])) AS BIGINT) AS DOUBLE))
                * sqrt(CAST(CAST(list_sum(list_transform(generate_series(1, len(ix.iv)),
                 i -> ix.iv[i] * ix.iv[i])) AS BIGINT) AS DOUBLE))) AS cosine
           FROM probes pr JOIN indexed ix
             ON pr.cell = ix.cell AND pr.vec_id <> ix.vec_id)"""

  // the engine-side constants as oracle SQL literals
  private lazy val QLit = dlit(Q)
  private[graft] lazy val ProtoQLit = dlit(ProtoQ)
  private lazy val MmrLambdaLit = dlit(MmrLambda)

  private lazy val AnnIvfSql: String =
    s"""$IvfCandCtes
         SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rk, cosine
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rk FROM cand)
         WHERE rk <= 3 ORDER BY query_id, rk"""

  /** Exact-edge semantic-clustering oracle (recursive CTE transitive
    * closure over the 0.35-cosine pair set on the 2²⁶ quantized grid)
    * — shared by q_semantic_clusters and q_semantic_clusters_lsh,
    * whose Spark sides differ only in the candidate edge derivation. */
  private[graft] lazy val SemanticClustersCtes: String =
    """WITH RECURSIVE
         q AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 67108864.0) AS BIGINT)) AS iv
           FROM embeddings),
         n AS (
           SELECT vec_id, iv,
             sqrt(CAST(CAST(list_sum(list_transform(generate_series(1, len(iv)),
               i -> iv[i] * iv[i])) AS BIGINT) AS DOUBLE)) AS nrm,
             CAST(list_sum(list_transform(generate_series(1, len(iv)),
               i -> iv[i] * iv[i])) AS BIGINT) AS n2
           FROM q),
         jp AS (
           SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
           FROM n a, n b
           WHERE a.vec_id < b.vec_id
             AND CAST(CAST(list_sum(list_transform(generate_series(1, len(a.iv)),
               i -> a.iv[i] * b.iv[i])) AS BIGINT) AS DOUBLE)
               / (a.nrm * b.nrm) >= 0.35),
         e AS (SELECT doc_a AS a, doc_b AS b FROM jp
               UNION SELECT doc_b, doc_a FROM jp),
         reach(a, b) AS (
           SELECT a, b FROM e
           UNION
           SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
         lab AS (SELECT a AS vec_id, LEAST(a, MIN(b)) AS cluster_id
                 FROM reach GROUP BY a),
         labeled AS (SELECT v.vec_id,
                       COALESCE(l.cluster_id, v.vec_id) AS cluster_id,
                       v.n2
                     FROM n v LEFT JOIN lab l USING (vec_id))"""

  private lazy val SemanticClustersSql: String =
    s"""$SemanticClustersCtes
         SELECT vec_id, CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
         FROM labeled
         ORDER BY vec_id"""

  /** The closure plus the norm²-argmax survivor rule (ties to the
    * smaller vec_id) the Spark side computes as a partial-aggregable
    * max(struct(n2, -vec_id)) — shared by q_semdedup and
    * q_semdedup_lsh. */
  private lazy val SemDedupSql: String =
    s"""$SemanticClustersCtes
         SELECT vec_id, cluster_id, survivor_id,
           CAST(vec_id = survivor_id AS BIGINT) AS keep
         FROM (
           SELECT vec_id, CAST(cluster_id AS BIGINT) AS cluster_id,
             CAST(FIRST_VALUE(vec_id) OVER (PARTITION BY cluster_id
               ORDER BY n2 DESC, vec_id) AS BIGINT) AS survivor_id
           FROM labeled) t
         ORDER BY vec_id"""

  /** The closure plus the quality-argmax curation rule (rank by the
    * q_quality composite desc, ties to the smaller vec_id) — shared by
    * q_cluster_balance and q_cluster_balance_lsh, whose Spark sides
    * differ only in the candidate edge derivation (one shared
    * clusterBalancedFrom code path engine-side). */
  private lazy val ClusterBalanceSql: String =
    s"""$SemanticClustersCtes,
         qual AS (
           SELECT doc_id AS vec_id,
             ${Text.QualityScoreSql} AS quality_score
           FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS t FROM documents)),
         cl AS (
           SELECT vec_id, CAST(cluster_id AS BIGINT) AS cluster_id,
             CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
           FROM labeled)
         SELECT vec_id, cluster_id, cluster_size, quality_score,
           CAST(qrank AS BIGINT) AS qrank,
           CAST(qrank <= 1 AS BIGINT) AS keep
         FROM (SELECT vec_id, cluster_id, cluster_size, quality_score,
                 ROW_NUMBER() OVER (PARTITION BY cluster_id
                   ORDER BY quality_score DESC, vec_id) AS qrank
               FROM cl JOIN qual USING (vec_id))
         ORDER BY vec_id"""

  /** The planted ground truth (every vector's id+1e6 twin) — the
    * one oracle of all ten planted-recall rows. */
  private val PlantedRecallSql: String =
    """SELECT CAST(vec_id AS BIGINT) AS query_id,
         CAST(vec_id + 1000000 AS BIGINT) AS neighbor_id
         FROM embeddings ORDER BY query_id"""

  /** This family's rows, each beside its DuckDB oracle. */
  val rows: Seq[QueryRow] = Seq(
    // Semantic clustering: recursive-CTE transitive closure over the
    // exact cosine pair set (same closure construction as
    // q_dup_clusters, edges from the q_cosine_pairs kernel at 0.35)
    QueryRow("q_semantic_clusters", semanticClusters(_, _))(SemanticClustersSql),
    // The cell-fed clustering runs off k-means-cell candidate edges;
    // at the fixtures' geometry the candidate set equals the exact
    // pair set (every 0.35-cosine pair has an endpoint probing the
    // other's home cell — SimilaritySpec pins edge-for-edge
    // equality), so the SAME exact-edge recursive-CTE oracle pins the
    // assignment — a cell miss or spurious candidate flips a cluster
    // id and fails the hash.
    QueryRow("q_semantic_clusters_lsh", semanticClustersLsh(_, _))(SemanticClustersSql),
    // SemDeDup: the same transitive closure, plus the norm²-argmax
    // survivor rule (ties to the smaller vec_id) the Spark side
    // computes as a partial-aggregable max(struct(n2, -vec_id)).
    QueryRow("q_semdedup", semDedup(_, _))(SemDedupSql),
    // Cell-fed SemDeDup: same candidate-completeness pinning as
    // q_semantic_clusters_lsh; survivor rule is one shared code path
    // with the exact twin.
    QueryRow("q_semdedup_lsh", semDedupLsh(_, _))(SemDedupSql),
    QueryRow("q_label_centroids", labelCentroids)(
      """SELECT label, pos, n_vecs,
         CAST(q_sum AS DOUBLE) / (CAST(n_vecs AS DOUBLE) * 67108864.0) AS centroid
         FROM (
           SELECT CAST(label AS BIGINT) AS label, CAST(i - 1 AS BIGINT) AS pos,
             CAST(COUNT(*) AS BIGINT) AS n_vecs,
             CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 67108864.0) AS BIGINT)) AS BIGINT) AS q_sum
           FROM embeddings,
                LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g
           GROUP BY 1, 2)
         ORDER BY label, pos"""),
    // Prototypicality (Sorscher et al. data-pruning metric): cosine of
    // every vector against its class's raw SUM vector (cosine is
    // scale-invariant) on the 2^13 integer grid — every aggregate is
    // an exact BIGINT, the one double division is IEEE-identical.
    QueryRow("q_prototypicality", prototypicality)(
      s"""WITH q AS (
           SELECT vec_id, CAST(label AS BIGINT) AS label,
             CAST(i - 1 AS BIGINT) AS pos,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * $ProtoQLit) AS BIGINT) AS q
           FROM embeddings,
                LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
         cent AS (SELECT label, pos, CAST(SUM(q) AS BIGINT) AS q_sum
                  FROM q GROUP BY 1, 2),
         cnorm AS (SELECT label,
                     sqrt(CAST(CAST(SUM(q_sum * q_sum) AS BIGINT) AS DOUBLE))
                       AS c_norm
                   FROM cent GROUP BY 1),
         dots AS (SELECT vec_id, q.label,
                    CAST(SUM(q * q_sum) AS BIGINT) AS dot_qc,
                    CAST(SUM(q * q) AS BIGINT) AS v_sq
                  FROM q JOIN cent USING (label, pos) GROUP BY 1, 2)
         SELECT vec_id, label, proto_cos,
           CAST(ROW_NUMBER() OVER (PARTITION BY label
             ORDER BY proto_cos DESC, vec_id) AS BIGINT) AS proto_rank
         FROM (SELECT vec_id, dots.label,
                 CAST(dot_qc AS DOUBLE)
                   / (sqrt(CAST(v_sq AS DOUBLE)) * c_norm) AS proto_cos
               FROM dots JOIN cnorm USING (label)
               WHERE v_sq > 0 AND c_norm > 0)
         ORDER BY vec_id"""),
    // MMR diversified selection: the greedy argmax chain replays as a
    // recursive CTE — relevance on the 2^13 grid, pairwise cosines on
    // the 2^26 grid (both exact-long), the mixing weight interpolated
    // from MmrLambda and written as CAST(λ AS DOUBLE) over
    // DOUBLE casts so both engines compute IDENTICAL doubles (DuckDB
    // parses a bare 0.7 as DECIMAL, making 1.0 - 0.7 exactly 0.3 —
    // one ulp away from the 0.30000000000000004 the engine's double
    // arithmetic produces). k and c interpolate from MmrK/MmrC.
    QueryRow("q_mmr_select", mmrSelect(_, _))(
      s"""WITH RECURSIVE
         q13 AS (
           SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * $ProtoQLit) AS BIGINT) AS q
           FROM embeddings,
                LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
         qsum AS (SELECT pos, CAST(SUM(q) AS BIGINT) AS q_sum
                  FROM q13 GROUP BY 1),
         qn AS (SELECT sqrt(CAST(CAST(SUM(q_sum * q_sum) AS BIGINT) AS DOUBLE))
                  AS q_norm FROM qsum),
         relt AS (
           SELECT vec_id,
             CAST(CAST(SUM(q * q_sum) AS BIGINT) AS DOUBLE)
               / (sqrt(CAST(CAST(SUM(q * q) AS BIGINT) AS DOUBLE)) * q_norm)
               AS rel
           FROM q13 JOIN qsum USING (pos) CROSS JOIN qn
           GROUP BY vec_id, q_norm
           HAVING CAST(SUM(q * q) AS BIGINT) > 0),
         short AS (SELECT vec_id, rel FROM relt
                   ORDER BY rel DESC, vec_id
                   LIMIT ${MmrC}),
         iv AS (SELECT vec_id, list_transform(embedding,
                  x -> CAST(floor(CAST(x AS DOUBLE) * $QLit) AS BIGINT)) AS iv
                FROM embeddings
                WHERE vec_id IN (SELECT vec_id FROM short)),
         sim AS (
           SELECT a.vec_id AS va, b.vec_id AS vb,
             CAST(CAST(list_sum(list_transform(generate_series(1, len(a.iv)),
               i -> a.iv[i] * b.iv[i])) AS BIGINT) AS DOUBLE)
             / (sqrt(CAST(CAST(list_sum(list_transform(generate_series(1, len(a.iv)),
                 i -> a.iv[i] * a.iv[i])) AS BIGINT) AS DOUBLE))
                * sqrt(CAST(CAST(list_sum(list_transform(generate_series(1, len(b.iv)),
                 i -> b.iv[i] * b.iv[i])) AS BIGINT) AS DOUBLE))) AS cos
           FROM iv a, iv b WHERE a.vec_id <> b.vec_id),
         sel(step, ids) AS (
           SELECT CAST(1 AS BIGINT),
             [(SELECT vec_id FROM short ORDER BY rel DESC, vec_id LIMIT 1)]
           UNION ALL
           SELECT step + 1, list_append(ids, (
               SELECT s.vec_id FROM short s
               WHERE NOT list_contains(ids, s.vec_id)
               ORDER BY CAST($MmrLambdaLit AS DOUBLE) * s.rel
                   - (CAST(1.0 AS DOUBLE) - CAST($MmrLambdaLit AS DOUBLE)) * (
                   SELECT MAX(m.cos) FROM sim m
                   WHERE m.va = s.vec_id AND list_contains(ids, m.vb)) DESC,
                 s.vec_id
               LIMIT 1))
           FROM sel WHERE step < ${MmrK}
             AND EXISTS (SELECT 1 FROM short s
                         WHERE NOT list_contains(ids, s.vec_id))),
         fin AS (SELECT ids FROM sel ORDER BY step DESC LIMIT 1),
         st AS (SELECT CAST(i AS BIGINT) AS step, ids[i] AS vec_id,
                  list_slice(ids, 1, i - 1) AS prev
                FROM fin,
                     LATERAL (SELECT unnest(generate_series(1, len(ids))) AS i) g),
         ms AS (SELECT st.step, st.vec_id,
                  COALESCE((SELECT MAX(m.cos) FROM sim m
                    WHERE m.va = st.vec_id
                      AND list_contains(st.prev, m.vb)), 0.0) AS max_sim
                FROM st)
         SELECT ms.step, ms.vec_id, r.rel, ms.max_sim,
           CAST($MmrLambdaLit AS DOUBLE) * r.rel
             - (CAST(1.0 AS DOUBLE) - CAST($MmrLambdaLit AS DOUBLE))
               * ms.max_sim AS mmr
         FROM ms JOIN relt r USING (vec_id)
         ORDER BY ms.step"""),
    // Embedding-space diagnostics: per-dimension integer moments
    // (n·Σ-form variance/covariance on the 2^13 grid) plus each
    // dimension's most-|corr| partner — every aggregate an exact
    // BIGINT, the one double division IEEE-identical.
    QueryRow("q_embed_diag", embedDiagnostics)(
      s"""WITH q AS (
           SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * $ProtoQLit) AS BIGINT) AS q
           FROM embeddings,
                LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
         dims AS (SELECT pos, CAST(COUNT(*) AS BIGINT) AS n,
                    CAST(SUM(q) AS BIGINT) AS s,
                    CAST(SUM(q * q) AS BIGINT) AS ss
                  FROM q GROUP BY 1),
         co AS (SELECT a.pos AS pos, b.pos AS pos_b,
                  CAST(SUM(a.q * b.q) AS BIGINT) AS sxy
                FROM q a JOIN q b
                  ON a.vec_id = b.vec_id AND a.pos < b.pos
                GROUP BY 1, 2),
         sc AS (SELECT co.pos, co.pos_b,
                  CAST(dx.n * sxy - dx.s * dy.s AS BIGINT) AS cov_num,
                  CAST(dx.n * dx.ss - dx.s * dx.s AS BIGINT) AS var_x,
                  CAST(dx.n * dy.ss - dy.s * dy.s AS BIGINT) AS var_y
                FROM co JOIN dims dx ON dx.pos = co.pos
                  JOIN dims dy ON dy.pos = co.pos_b),
         sym AS (SELECT pos, pos_b, cov_num, var_x, var_y FROM sc
                 UNION ALL
                 SELECT pos_b, pos, cov_num, var_y, var_x FROM sc),
         corr AS (SELECT pos, pos_b,
                    CAST(cov_num AS DOUBLE)
                      / (sqrt(CAST(var_x AS DOUBLE))
                         * sqrt(CAST(var_y AS DOUBLE))) AS corr
                  FROM sym),
         best AS (SELECT pos, pos_b AS top_corr_dim, corr AS top_corr
                  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY pos
                          ORDER BY abs(corr) DESC, pos_b) AS rk FROM corr)
                  WHERE rk = 1)
         SELECT d.pos, d.n, d.s AS q_sum,
           CAST(d.n * d.ss - d.s * d.s AS BIGINT) AS var_num,
           b.top_corr_dim, b.top_corr
         FROM dims d JOIN best b USING (pos)
         ORDER BY d.pos"""),
    // Cluster-balanced curation: the SAME transitive-closure cluster
    // oracle as q_semantic_clusters, with the survivor picked by the
    // q_quality composite instead of norm² — rank and keep flag replay
    // through one window.
    QueryRow("q_cluster_balance", clusterBalancedCurate(_, _))(ClusterBalanceSql),
    // Cell-fed curation: same candidate-completeness pinning as
    // q_semantic_clusters_lsh (SimilaritySpec asserts cellPairs ==
    // exact edge set edge-for-edge); quality/rank/keep is one shared
    // clusterBalancedFrom code path with the exact twin.
    QueryRow("q_cluster_balance_lsh", clusterBalancedCurateLsh(_, _))(ClusterBalanceSql),
    // --- similarity search
    // Embedding numerics: floats quantized by floor(x * 2^26) (exact in
    // every engine), then exact BIGINT dot products — see Q.
    QueryRow("q_embed_norms", norms)(
      """SELECT vec_id, CAST(label AS BIGINT) AS label,
         CAST(len(embedding) AS BIGINT) AS dim,
         CAST(list_sum(list_transform(generate_series(1, len(embedding)),
           i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * 67108864.0) AS BIGINT)
              * CAST(floor(CAST(embedding[i] AS DOUBLE) * 67108864.0) AS BIGINT))) AS BIGINT) AS norm_sq
         FROM embeddings
         ORDER BY vec_id"""),
    QueryRow("q_knn_brute", knnBruteForce(_, _))(
      """WITH q AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 67108864.0) AS BIGINT)) AS iv
           FROM embeddings),
         p AS (
           SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             CAST(CAST(list_sum(list_transform(generate_series(1, len(a.iv)),
               i -> a.iv[i] * b.iv[i])) AS BIGINT) AS DOUBLE)
             / (sqrt(CAST(CAST(list_sum(list_transform(generate_series(1, len(a.iv)),
                 i -> a.iv[i] * a.iv[i])) AS BIGINT) AS DOUBLE))
                * sqrt(CAST(CAST(list_sum(list_transform(generate_series(1, len(b.iv)),
                 i -> b.iv[i] * b.iv[i])) AS BIGINT) AS DOUBLE))) AS cosine
           FROM q a, q b WHERE a.vec_id <> b.vec_id)
         SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rk, cosine
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rk FROM p)
         WHERE rk <= 5 ORDER BY query_id, rk"""),
    // Leave-one-out kNN classification over the same exact-integer
    // cosine: majority of the top-5 neighbor labels, ties broken
    // (count desc, label asc)
    QueryRow("q_label_knn", labelKnn(_, _))(
      """WITH q AS (
           SELECT vec_id, CAST(label AS BIGINT) AS label, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 67108864.0) AS BIGINT)) AS iv
           FROM embeddings),
         p AS (
           SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             b.label AS n_label,
             CAST(CAST(list_sum(list_transform(generate_series(1, len(a.iv)),
               i -> a.iv[i] * b.iv[i])) AS BIGINT) AS DOUBLE)
             / (sqrt(CAST(CAST(list_sum(list_transform(generate_series(1, len(a.iv)),
                 i -> a.iv[i] * a.iv[i])) AS BIGINT) AS DOUBLE))
                * sqrt(CAST(CAST(list_sum(list_transform(generate_series(1, len(b.iv)),
                 i -> b.iv[i] * b.iv[i])) AS BIGINT) AS DOUBLE))) AS cosine
           FROM q a, q b WHERE a.vec_id <> b.vec_id),
         knn AS (
           SELECT query_id, n_label
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id) AS rk FROM p)
           WHERE rk <= 5),
         votes AS (
           SELECT query_id, n_label, COUNT(*) AS n_votes
           FROM knn GROUP BY 1, 2),
         pred AS (
           SELECT query_id AS vec_id, n_label AS pred_label
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY n_votes DESC, n_label) AS vrk FROM votes)
           WHERE vrk = 1)
         SELECT q.vec_id, q.label, pred.pred_label,
           CAST(q.label = pred.pred_label AS BIGINT) AS correct
         FROM pred JOIN q ON q.vec_id = pred.vec_id
         ORDER BY q.vec_id"""),
    // IVF-served leave-one-out kNN classification: the SAME replayed
    // candidate chain as q_ann_ivf, topped at 5 and majority-voted
    // (count desc, label asc) — value-exact against the engine's
    // labelKnnIvf, which shares its vote code path with the exact
    // q_label_knn. Queries whose probed cells hold no other vector
    // drop on both sides.
    QueryRow("q_label_knn_ivf", labelKnnIvf(_, _))(
      s"""$IvfCandCtes,
         knn AS (
           SELECT query_id, neighbor_id
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id) AS rk FROM cand)
           WHERE rk <= 5),
         lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label
                 FROM embeddings),
         votes AS (
           SELECT k.query_id, l.label AS n_label, COUNT(*) AS n_votes
           FROM knn k JOIN lab l ON l.vec_id = k.neighbor_id
           GROUP BY 1, 2),
         pred AS (
           SELECT query_id AS vec_id, n_label AS pred_label
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY n_votes DESC, n_label) AS vrk FROM votes)
           WHERE vrk = 1)
         SELECT p.vec_id, l.label, p.pred_label,
           CAST(l.label = p.pred_label AS BIGINT) AS correct
         FROM pred p JOIN lab l ON l.vec_id = p.vec_id
         ORDER BY p.vec_id"""),
    // Inverse-frequency class weights (the sklearn "balanced"
    // heuristic) in integer basis points
    QueryRow("q_class_weights", classWeights)(
      """WITH c AS (
           SELECT CAST(label AS BIGINT) AS label,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM embeddings GROUP BY 1),
         t AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total,
                 CAST(COUNT(*) AS BIGINT) AS n_classes FROM c)
         SELECT label, n,
           (t.n_total * 10000) // (t.n_classes * n) AS weight_bp
         FROM c CROSS JOIN t
         ORDER BY label"""),
    // LSH-bucketed ANN, replayed off-engine END TO END: the 12
    // hyperplanes are DATA-INDEPENDENT deterministic constants
    // (planeQ — interpolated below from the ONE definition
    // the engine's plan literals come from, so the two sides cannot
    // desynchronize), the bucket key is the packed sign-bit sum, and
    // the in-bucket exact-cosine top-3 is the same kernel as
    // q_knn_brute's oracle. A bucketing bug, plane drift, or ranking
    // tie-break slip is a row diff at the oracle gate.
    QueryRow("q_ann_lsh", annLsh(_, _))(
      s"""WITH q AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 67108864.0) AS BIGINT)) AS iv
           FROM embeddings),
         planes(p, pl) AS (VALUES ${(0 until SignBits)
             .map(p => s"(${p}, ${planeQ(p)
               .mkString("[", ", ", "]")})").mkString(",\n           ")}),
         b AS (
           SELECT vec_id, iv,
             CAST(SUM(CASE WHEN list_sum(list_transform(
                 generate_series(1, len(iv)), i -> iv[i] * pl[i])) >= 0
               THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
           FROM q, planes GROUP BY vec_id, iv),
         p AS (
           SELECT a.vec_id AS query_id, b2.vec_id AS neighbor_id,
             CAST(CAST(list_sum(list_transform(generate_series(1, len(a.iv)),
               i -> a.iv[i] * b2.iv[i])) AS BIGINT) AS DOUBLE)
             / (sqrt(CAST(CAST(list_sum(list_transform(generate_series(1, len(a.iv)),
                 i -> a.iv[i] * a.iv[i])) AS BIGINT) AS DOUBLE))
                * sqrt(CAST(CAST(list_sum(list_transform(generate_series(1, len(b2.iv)),
                 i -> b2.iv[i] * b2.iv[i])) AS BIGINT) AS DOUBLE))) AS cosine
           FROM b a JOIN b b2
             ON a.bucket = b2.bucket AND a.vec_id <> b2.vec_id)
         SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rk, cosine
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rk FROM p)
         WHERE rk <= 3 ORDER BY query_id, rk"""),
    // Embedding near-dup pairs at the production threshold (0.95):
    // the oracle is the full EXACT pair scan, so the LSH-bucketed
    // path must emit exactly the exact set — empty on the natural
    // fixture (max pairwise cosine ≈ 0.51), which the oracle now
    // proves instead of a rows-only shrug; any spurious bucket pair
    // or missed true pair goes red
    QueryRow("q_cosine_near_dup", cosineNearDup(_, _))(
      """WITH q AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 67108864.0) AS BIGINT)) AS iv
           FROM embeddings),
         n AS (
           SELECT vec_id, iv,
             sqrt(CAST(CAST(list_sum(list_transform(generate_series(1, len(iv)),
               i -> iv[i] * iv[i])) AS BIGINT) AS DOUBLE)) AS nrm
           FROM q)
         SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(CAST(list_sum(list_transform(generate_series(1, len(a.iv)),
             i -> a.iv[i] * b.iv[i])) AS BIGINT) AS DOUBLE) / (a.nrm * b.nrm) AS cosine
         FROM n a, n b
         WHERE a.vec_id < b.vec_id
           AND CAST(CAST(list_sum(list_transform(generate_series(1, len(a.iv)),
             i -> a.iv[i] * b.iv[i])) AS BIGINT) AS DOUBLE) / (a.nrm * b.nrm) >= 0.95
         ORDER BY vec_a, vec_b"""),
    // IVF ANN, replayed off-engine INCLUDING THE TRAINER: the engine's
    // k-means is integer-exact end to end (floor(x·2^26) quantization,
    // exact long sums, floor-division updates, argmin ties on cell)
    // and seeds from MD5-of-id order — so the whole 3-iteration Lloyd
    // loop unrolls here as CTEs (lloydIterSql, interpolated from the
    // SAME IvfCells/NProbe/KmeansIters/Dim constants the engine
    // trains with), then the index/probe/top-3 phases replay over the
    // replayed centroids. Any trainer drift — a changed seed order, a
    // truncating division, a tie broken differently — moves a vector
    // across cells and shows as a row diff at the oracle gate.
    QueryRow("q_ann_ivf", annIvf(_, _))(AnnIvfSql),
    // served from the persisted centroid artifact (train -> publish ->
    // drop the trainer memo -> load -> serve): the oracle is the SAME
    // trainer replay, so a save/load bit-flip fails the hash
    QueryRow("q_ann_ivf_saved", annIvfSaved(_, _))(AnnIvfSql),
    // Filtered vector search: the SAME replayed candidate chain with
    // the metadata predicate applied before ranking (post-filter form)
    // — value-exact against the engine's post-filtered IVF stream.
    QueryRow("q_ann_filtered", annIvfFiltered(_, _))(
      s"""$IvfCandCtes,
         allowed AS (SELECT doc_id FROM documents
                     WHERE lang = '${FilterLang}'),
         fc AS (SELECT c.query_id, c.neighbor_id, c.cosine
                FROM cand c JOIN allowed a ON a.doc_id = c.neighbor_id)
         SELECT query_id, neighbor_id, CAST(rk AS BIGINT) AS rk, cosine
         FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS rk FROM fc)
         WHERE rk <= 3 ORDER BY query_id, rk"""),
    // Incremental IVF maintenance: the SAME unrolled Lloyd replay as
    // q_ann_ivf but trained on the indexed 80% slice only; the delta
    // slice then assigns into the replayed frozen centroids — one
    // integer argmin per new vector, pinned value for value.
    QueryRow("q_delta_ivf", deltaIvfAssign)(
      s"""WITH av AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 67108864.0) AS BIGINT)) AS iv
           FROM embeddings),
         wv AS (SELECT CAST(floor((MAX(vec_id) + 1) * 0.8) AS BIGINT) AS w
                FROM av),
         qv AS (SELECT vec_id, iv FROM av, wv WHERE vec_id < w),
         seeds AS (
           SELECT vec_id, iv FROM qv
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
           LIMIT ${IvfCells}),
         c0 AS (
           SELECT ROW_NUMBER() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell,
             iv AS c
           FROM seeds),
         ${(0 until KmeansIters)
             .map(i => lloydIterSql(i, Dim))
             .mkString(",\n         ")},
         delta AS (SELECT vec_id, iv FROM av, wv WHERE vec_id >= w),
         assign AS (
           SELECT vec_id, cell FROM (
             SELECT d.vec_id, c.cell,
               ROW_NUMBER() OVER (PARTITION BY d.vec_id ORDER BY
                 ${d2Sql("d.iv", "c.c", Dim)},
                 c.cell) AS rn
             FROM delta d, c${KmeansIters} c) t
           WHERE rn = 1)
         SELECT vec_id, CAST(cell AS BIGINT) AS cell
         FROM assign ORDER BY vec_id"""),
    // Recall pin: every planted near-identical twin (id+1e6) the
    // multi-probe LSH index recovered; oracle = the full planted list.
    QueryRow("q_ann_recall", annPlantedRecall)(PlantedRecallSql),
    // Same planted ground truth pins the MATRYOSHKA funnel: green iff
    // the 16-dim-prefix coarse shortlist never drops a twin AND the
    // full-dim rescore ranks it back to top-1 — both funnel stages,
    // end-to-end.
    QueryRow("q_mrl_recall", mrlPlantedRecall(_, _))(PlantedRecallSql),
    // Same planted ground truth pins the k-means IVF index: green iff
    // NProbe=2 cell probing recovers every twin.
    QueryRow("q_ivf_recall", ivfPlantedRecall)(PlantedRecallSql),
    // nprobe recall curve: the shared trainer-replay chain's
    // rank_cells already orders every cell per query, so each swept
    // depth is a prefix predicate; truth = the exact brute-force
    // top-k replay (q_knn_brute's formula at k=3), counts and
    // integer-bp recall per depth.
    QueryRow("q_ivf_sweep", ivfProbeSweep) {
      val ts = ProbeSweepPoints
        .map(t => s"($t)").mkString(", ")
      val maxP = ProbeSweepPoints.max
      val k = SweepTrueK
      s"""$IvfCandCtes,
         cf AS (SELECT r.vec_id AS query_id, ix.vec_id AS neighbor_id,
                  CAST(MIN(r.rn) AS BIGINT) AS first_rank
                FROM rank_cells r JOIN indexed ix
                  ON r.cell = ix.cell AND r.vec_id <> ix.vec_id
                WHERE r.rn <= $maxP GROUP BY 1, 2),
         pc AS (
           SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             CAST(CAST(list_sum(list_transform(generate_series(1, len(a.iv)),
               i -> a.iv[i] * b.iv[i])) AS BIGINT) AS DOUBLE)
             / (sqrt(CAST(CAST(list_sum(list_transform(generate_series(1, len(a.iv)),
                 i -> a.iv[i] * a.iv[i])) AS BIGINT) AS DOUBLE))
                * sqrt(CAST(CAST(list_sum(list_transform(generate_series(1, len(b.iv)),
                 i -> b.iv[i] * b.iv[i])) AS BIGINT) AS DOUBLE))) AS cosine
           FROM qv a, qv b WHERE a.vec_id <> b.vec_id),
         knn AS (SELECT query_id, neighbor_id FROM
                   (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id) AS rk FROM pc)
                 WHERE rk <= $k),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true_total FROM knn),
         ts AS (SELECT CAST(v AS BIGINT) AS nprobe FROM (VALUES $ts) x(v)),
         sw AS (SELECT t.nprobe,
                  CAST(COUNT(*) AS BIGINT) AS n_candidates,
                  CAST(SUM(CASE WHEN kn.query_id IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_true_hits
                FROM cf c
                JOIN ts t ON c.first_rank <= t.nprobe
                LEFT JOIN knn kn ON kn.query_id = c.query_id
                  AND kn.neighbor_id = c.neighbor_id
                GROUP BY 1)
         SELECT t.nprobe,
           CAST(COALESCE(sw.n_candidates, 0) AS BIGINT) AS n_candidates,
           CAST(COALESCE(sw.n_true_hits, 0) AS BIGINT) AS n_true_hits,
           CAST((COALESCE(sw.n_true_hits, 0) * 10000) // tot.n_true_total
             AS BIGINT) AS recall_bp
         FROM ts t CROSS JOIN tot LEFT JOIN sw USING (nprobe)
         ORDER BY t.nprobe"""
    },
    // Same planted ground truth through the SAMPLE-TRAINED centroid
    // set (deterministic 1/8 hash sample — the bounded 100 TB trainer):
    // green iff the cheaper trainer costs zero twin recall.
    QueryRow("q_ivf_sampled_recall", ivfSampledPlantedRecall)(PlantedRecallSql),
    // Same planted ground truth pins the cosine NEAR-DUP pair kernel
    // (q_cosine_near_dup's multi-probe bucket join at threshold 0.95,
    // which is empty on the natural fixtures): green iff the bucketed
    // pair join recovers every (original, twin) pair.
    QueryRow("q_cosine_recall", cosinePlantedRecall(_, _))(PlantedRecallSql),
    // PQ codes, replayed off-engine INCLUDING THE TRAINER — the same
    // Lloyd replay as q_ann_ivf's, run per subspace (pqIterSql keyed
    // by m): MD5-ordered seeds sliced per subspace, 3 integer-exact
    // iterations, then every vector's argmin code per subspace. The
    // code table (the artifact a 100 TB pipeline persists) is pinned
    // value for value, not rows-only.
    QueryRow("q_pq_codes", pqCodes)(
      s"""WITH qv AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 67108864.0) AS BIGINT)) AS iv
           FROM embeddings),
         ms AS (SELECT unnest(generate_series(0,
           ${PqM - 1})) AS m),
         sv AS (
           SELECT vec_id, m, list_transform(
             generate_series(1, ${PqSubDim}),
             j -> iv[m * ${PqSubDim} + j]) AS sub
           FROM qv, ms),
         pseeds AS (
           SELECT vec_id, iv FROM qv
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
           LIMIT ${PqK}),
         b0 AS (
           SELECT m, ROW_NUMBER() OVER (PARTITION BY m
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cell,
             list_transform(
               generate_series(1, ${PqSubDim}),
               j -> iv[m * ${PqSubDim} + j]) AS c
           FROM pseeds, ms),
         ${(0 until PqIters)
             .map(i => pqIterSql(i, PqSubDim))
             .mkString(",\n         ")},
         codes AS (
           SELECT vec_id, m, cell FROM (
             SELECT s.vec_id, s.m, b.cell,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                 ${d2Sql("s.sub", "b.c", PqSubDim)},
                 b.cell) AS rn
             FROM sv s JOIN b${PqIters} b
               ON s.m = b.m) t
           WHERE rn = 1)
         SELECT vec_id, CAST(m AS BIGINT) AS subspace,
           CAST(cell AS BIGINT) AS code
         FROM codes
         ORDER BY vec_id, subspace"""),
    // Same planted ground truth pins the PRODUCT-QUANTIZED index:
    // green iff every query's top-1 by codegen ADC distance over the
    // 8-byte code index is its own cosine-0.999 twin — the whole PQ
    // train→encode→score loop, end-to-end.
    QueryRow("q_pq_recall", pqPlantedRecall)(PlantedRecallSql),
    // Same planted ground truth through SAMPLE-TRAINED codebooks
    // (deterministic 1/8 hash sample — the bounded 100 TB trainer):
    // green iff the cheaper trainer costs zero twin recall.
    QueryRow("q_pq_sampled_recall", pqSampledPlantedRecall)(PlantedRecallSql),
    // Same planted ground truth through BOTH approximations composed
    // (IVF cell probing bounds the candidates, PQ ADC scores them):
    // green iff no twin is lost to an unprobed cell OR out-ranked by a
    // co-cell stranger under 8-byte codes.
    QueryRow("q_ivfpq_recall", ivfPqPlantedRecall)(PlantedRecallSql),
    // SQ8 encode is fully SQL-derivable (per-dim min/max grid + integer
    // floor-div — no k-means), so unlike q_pq_codes this code dump is
    // oracle-EXACT end-to-end: DuckDB recomputes the same grid and the
    // same byte codes from the raw embeddings.
    QueryRow("q_sq_codes", sqCodes)(
      """WITH iv AS (
           SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 67108864.0) AS BIGINT) AS v
           FROM embeddings,
                LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) g),
         st AS (
           SELECT dim, MIN(v) AS lo,
             GREATEST(1, (MAX(v) - MIN(v) + 254) // 255) AS step
           FROM iv GROUP BY dim)
         SELECT iv.vec_id, iv.dim,
           CAST(GREATEST(0, LEAST(255, (iv.v - st.lo) // st.step)) AS BIGINT)
             AS code
         FROM iv JOIN st USING (dim)
         ORDER BY vec_id, dim"""),
    // Same planted ground truth pins the SCALAR-QUANTIZED (1 byte/dim)
    // index: green iff every query's top-1 by the codegen sq_wdot
    // kernel over packed int8 codes is its own cosine-0.999 twin.
    QueryRow("q_sq_recall", sqPlantedRecall)(PlantedRecallSql),
    // IVF ∘ SQ8 composed (the FAISS IndexIVFScalarQuantizer layout):
    // green iff no twin is lost to an unprobed cell OR out-ranked by a
    // co-cell stranger under packed byte codes.
    QueryRow("q_ivfsq_recall", ivfSqPlantedRecall)(PlantedRecallSql),
    QueryRow("q_cosine_pairs", cosinePairsExact(_, _))(
      """WITH q AS (
           SELECT vec_id, list_transform(embedding,
             x -> CAST(floor(CAST(x AS DOUBLE) * 67108864.0) AS BIGINT)) AS iv
           FROM embeddings),
         n AS (
           SELECT vec_id, iv,
             sqrt(CAST(CAST(list_sum(list_transform(generate_series(1, len(iv)),
               i -> iv[i] * iv[i])) AS BIGINT) AS DOUBLE)) AS nrm
           FROM q)
         SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(CAST(list_sum(list_transform(generate_series(1, len(a.iv)),
             i -> a.iv[i] * b.iv[i])) AS BIGINT) AS DOUBLE) / (a.nrm * b.nrm) AS cosine
         FROM n a, n b
         WHERE a.vec_id < b.vec_id
           AND CAST(CAST(list_sum(list_transform(generate_series(1, len(a.iv)),
             i -> a.iv[i] * b.iv[i])) AS BIGINT) AS DOUBLE) / (a.nrm * b.nrm) >= 0.25
         ORDER BY vec_a, vec_b"""),
    // Hard-mined contrastive triplets: per anchor, the most-similar
    // same-label vector (positive) and most-similar other-label vector
    // (hard negative), ties on smaller id — the same exact-integer
    // cosine as q_knn_brute, so the doubles agree bit-for-bit.
    QueryRow("q_triplets", tripletMine)(
      """WITH q AS (
           SELECT vec_id, CAST(label AS BIGINT) AS label,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * 67108864.0) AS BIGINT)) AS iv
           FROM embeddings),
         p AS (
           SELECT a.vec_id AS anchor_id, b.vec_id AS cand_id,
             (a.label = b.label) AS same,
             CAST(CAST(list_sum(list_transform(generate_series(1, len(a.iv)),
               i -> a.iv[i] * b.iv[i])) AS BIGINT) AS DOUBLE)
             / (sqrt(CAST(CAST(list_sum(list_transform(generate_series(1, len(a.iv)),
                 i -> a.iv[i] * a.iv[i])) AS BIGINT) AS DOUBLE))
                * sqrt(CAST(CAST(list_sum(list_transform(generate_series(1, len(b.iv)),
                 i -> b.iv[i] * b.iv[i])) AS BIGINT) AS DOUBLE))) AS cosine
           FROM q a, q b WHERE a.vec_id <> b.vec_id),
         pos AS (
           SELECT anchor_id, cand_id AS pos_id, cosine AS pos_cos
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                   ORDER BY cosine DESC, cand_id) AS rk
                 FROM p WHERE same) WHERE rk = 1),
         neg AS (
           SELECT anchor_id, cand_id AS neg_id, cosine AS neg_cos
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                   ORDER BY cosine DESC, cand_id) AS rk
                 FROM p WHERE NOT same) WHERE rk = 1)
         SELECT pos.anchor_id, pos_id, pos_cos, neg_id, neg_cos,
           pos_cos - neg_cos AS margin
         FROM pos JOIN neg ON pos.anchor_id = neg.anchor_id
         ORDER BY pos.anchor_id"""),
    // IVF-served hard-triplet mining: the SAME replayed candidate
    // chain, arg-maxed per (anchor, same-label) side with ties to the
    // smaller id — value-exact against tripletMineIvf, which shares
    // its selection code path with the exact q_triplets. Anchors
    // lacking a same-label or other-label candidate drop on both
    // sides.
    QueryRow("q_triplets_ivf", tripletMineIvf)(
      s"""$IvfCandCtes,
         lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label
                 FROM embeddings),
         scored AS (
           SELECT c.query_id AS anchor_id, c.neighbor_id AS cand_id,
             c.cosine, (la.label = lc.label) AS same
           FROM cand c JOIN lab la ON la.vec_id = c.query_id
             JOIN lab lc ON lc.vec_id = c.neighbor_id),
         pos AS (
           SELECT anchor_id, cand_id AS pos_id, cosine AS pos_cos
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                   ORDER BY cosine DESC, cand_id) AS rk
                 FROM scored WHERE same) WHERE rk = 1),
         neg AS (
           SELECT anchor_id, cand_id AS neg_id, cosine AS neg_cos
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                   ORDER BY cosine DESC, cand_id) AS rk
                 FROM scored WHERE NOT same) WHERE rk = 1)
         SELECT pos.anchor_id, pos_id, pos_cos, neg_id, neg_cos,
           pos_cos - neg_cos AS margin
         FROM pos JOIN neg ON pos.anchor_id = neg.anchor_id
         ORDER BY pos.anchor_id""")
  )
}
