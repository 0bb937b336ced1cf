package graft.operators

import graft.DuckSql.Norm
import graft.{QueryRow, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Text-analysis operators for training-data pipelines over the
  * `documents` table: language-ID, quality scoring, token counting,
  * fingerprinting — plus the reference's client-side string machinery
  * (log regex extraction, status.py:458-521; identifier shortening,
  * util.py:16-37) expressed as columnar operators.
  *
  * Everything here is pure `functions._` column algebra — whole-stage
  * codegen end-to-end, no UDFs — so the per-document cost is a single
  * narrow map over the scan with no shuffle (except where a groupBy is
  * the point).
  */
object Text {

  /** Whitespace tokens, lowercased. */
  private def toks(c: Column): Column = split(lower(c), " ")

  /** Canonical text normalization shared by fingerprint/dedup:
    * lowercase, trim, collapse whitespace runs. */
  def normalized(c: Column): Column =
    regexp_replace(trim(lower(c)), "\\s+", " ")

  /** Document fingerprinting: md5 of normalized text + token count.
    * (The scalable stand-in for a rolling content hash; md5 matches
    * DuckDB's md5 bit-for-bit.) */
  def fingerprint(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        md5(normalized(col("text"))).as("fingerprint"),
        size(toks(col("text"))).cast("long").as("n_tokens"))
      .orderBy(col("doc_id"))

  /** Token counting: whitespace tokens, distinct tokens, and a
    * BPE-ish sub-token count (alpha runs / digit runs / other). */
  def tokenCount(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        size(toks(col("text"))).cast("long").as("n_ws_tokens"),
        size(array_distinct(toks(col("text")))).cast("long").as("n_distinct"),
        size(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
          .cast("long").as("n_alpha_runs"),
        length(col("text")).cast("long").as("n_chars_measured"))
      .orderBy(col("doc_id"))

  /** N-gram-heuristic language ID: score marker-word hit ratios per
    * language, pick the best with a deterministic tie order. The
    * classifier is a fixed lookup — broadcast-free, codegen'd, O(n·k).
    */
  def langId(spark: SparkSession, sf: String): DataFrame = {
    val markers = Map(
      "en" -> Seq("the", "a", "of", "and", "to"),
      "es" -> Seq("el", "la", "de", "y", "que"),
      "de" -> Seq("der", "die", "das", "und", "ist"))
    val t = toks(col("text"))
    // marker-hit *counts* (exact integers — no cross-engine float risk)
    def score(ws: Seq[String]): Column =
      size(filter(t, x => x.isin(ws.map(lit): _*)))
    val en = score(markers("en")); val es = score(markers("es"))
    val de = score(markers("de"))
    Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("lang").as("lang_label"),
        when(en >= es && en >= de && en > 0, lit("en"))
          .when(es >= de && es > 0, lit("es"))
          .when(de > 0, lit("de"))
          .otherwise(lit("unknown")).as("lang_pred"))
      .orderBy(col("doc_id"))
  }

  /** Quality scoring: length/punctuation/stopword/repetition features
    * and a composite score. All ratios are computed as exact decimals
    * (stable across engines), final score cast to double. */
  def quality(spark: SparkSession, sf: String): DataFrame =
    qualityScoredDf(Tables.load(spark, sf, "documents"))
      .orderBy(col("doc_id"))

  /** The [[quality]] projection WITHOUT the presentation sort — the form
    * downstream consumers ([[Corpus.qualityGate]], [[Corpus.tokenBudget]])
    * compose over, so their aggregations/windows don't sit on top of a
    * pointless global range sort. Narrow map, zero shuffle. */
  /** `extra` columns pass through the scoring projection so a caller
    * composing the gate with later stages (curateV2's lang/bucket)
    * rides ONE documents scan instead of re-scanning to re-attach. */
  private[operators] def qualityScoredDf(docs: DataFrame,
      extra: Seq[Column] = Nil): DataFrame = {
    val t = toks(col("text"))
    // integer counts → one double division per ratio: deterministic
    // IEEE arithmetic, identical in any engine
    val nTok = size(t).cast("double")
    val nDistinct = size(array_distinct(t)).cast("double")
    // greatest(·,1): an empty text would make punct_ratio 0/0 = NaN,
    // and Spark's NaN orders ABOVE every double — a NaN quality_score
    // passes every `score > cut` gate and corrupts tokenBudget's
    // bucket arithmetic (floor(NaN) = 0 collapses all buckets). The
    // token denominators need no guard: split("") yields [""], never
    // an empty list. Mirrored in the DuckDB oracle.
    val nChars = greatest(length(col("text")).cast("double"), lit(1.0))
    val nPunct = (length(col("text")) -
      length(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", ""))).cast("double")
    val stop = Seq("the", "a", "of", "and", "to", "in", "is")
    val nStop = size(filter(t, x => x.isin(stop.map(lit): _*))).cast("double")
    val dr = nDistinct / nTok
    val pr = nPunct / nChars
    val sr = nStop / nTok
    docs
      .select(Seq(col("doc_id"),
        size(t).cast("long").as("n_tokens"),
        dr.as("distinct_ratio"),
        pr.as("punct_ratio"),
        sr.as("stopword_ratio"),
        // composite: rewards lexical diversity + moderate stopword use,
        // penalizes punctuation soup
        (dr * lit(0.5) + sr * lit(0.3) - pr * lit(0.2)).as("quality_score"))
        ++ extra: _*)
  }

  /** Gopher rule battery constants (Rae et al. 2021, Table A1 — the
    * canonical web-text repetition-free quality rules), interpolated
    * into both engines. Thresholds in integer per-mille / basis
    * points so every comparison is BIGINT-exact cross-engine. */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  val GopherMinWords = 50L
  val GopherMaxWords = 100000L
  val GopherMinWordLenPm = 3000L   // mean word length ≥ 3 chars
  val GopherMaxWordLenPm = 10000L  // … and ≤ 10 chars
  val GopherMaxSymbolBp = 1000L    // symbol-to-word ratio ≤ 0.1
  val GopherMinAlphaBp = 8000L     // ≥ 80% of words contain a letter
  val GopherMaxBulletBp = 9000L    // ≤ 90% of lines start with a bullet
  val GopherMaxEllipsisBp = 3000L  // ≤ 30% of lines end with an ellipsis
  /** Distinct-stopword floor. Gopher's canonical floor is 2, against
    * real web text; this fixture's synthetic vocabulary contains
    * exactly ONE member of the canonical list ("the" — measured at
    * every SF), so 2 fails every document and the verdict degenerates.
    * 1 is the analogous non-degenerate knob here (the [[Corpus
    * .DupGramN]] calibration argument); the stopword LIST stays
    * canonical. */
  val GopherMinStops = 1L

  /** q_gopher_rules: the Gopher QUALITY-RULE BATTERY (Rae et al.
    * 2021, App. A) as ONE integer-exact per-document row — word
    * count bounds, mean word length band, symbol-to-word ratio
    * (`#`/ellipsis), alphabetic-word share, bullet-start and
    * ellipsis-end line shares, distinct-stopword floor, and the
    * composed `gopher_pass` verdict the curation gate consumes
    * (AND-able with [[quality]]'s composite and
    * [[Corpus.qualityGate]]'s percentile cut — rules prune the
    * degenerate tail, the composite ranks what survives).
    *
    * Every signal is a count or an integer `div` ratio (per-mille /
    * basis points), so the row replays bit-for-bit in DuckDB — no
    * float thresholds to drift. Scale shape: ONE corpus scan, pure
    * per-row projection — zero shuffle, zero joins; the battery is
    * free to fuse into any scan that already reads `text`. */
  def gopherRules(spark: SparkSession, sf: String): DataFrame =
    gopherRulesFrom(Tables.load(spark, sf, "documents"))
      .orderBy(col("doc_id"))

  /** q_gopher_by_source: the rule battery's TRIAGE AGGREGATE — per
    * source, the documents passing the composed verdict and the
    * per-rule FAIL censuses (which feed fails WHICH rule): the table
    * a curation team reads before deciding whether a feed needs a
    * threshold tweak, a cleanup pass, or wholesale dropping — rule
    * batteries are deployed per-source in practice (Gopher's own
    * ablations report per-subset pass rates). `source` rides the
    * battery's own scan (the [[qualityScoredDf]] extra-column
    * convention — r15 advisory: the previous broadcast of a
    * corpus-cardinality (doc_id, source) projection would be a
    * driver-side collect at 100 TB), so the whole row is ONE scan +
    * one ≤|sources|-row aggregate, join-free; every census is an
    * integer comparison on the battery's own columns, so the row
    * replays bit-for-bit. */
  def gopherBySource(spark: SparkSession, sf: String): DataFrame = {
    val docs = Tables.load(spark, sf, "documents")
    def failed(c: Column): Column =
      sum(when(c, 0L).otherwise(1L))
    gopherRulesFrom(docs.select(col("doc_id"), col("text"),
        col("source")), extra = Seq("source"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("gopher_pass")).as("n_pass"),
        failed(col("n_words") >= GopherMinWords &&
          col("n_words") <= GopherMaxWords).as("fail_words"),
        failed(col("word_len_pm") >= GopherMinWordLenPm &&
          col("word_len_pm") <= GopherMaxWordLenPm).as("fail_word_len"),
        failed(col("symbol_bp") <= GopherMaxSymbolBp).as("fail_symbol"),
        failed(col("alpha_word_bp") >= GopherMinAlphaBp).as("fail_alpha"),
        failed(col("bullet_bp") <= GopherMaxBulletBp).as("fail_bullet"),
        failed(col("ellipsis_bp") <= GopherMaxEllipsisBp)
          .as("fail_ellipsis"),
        failed(col("stop_hits") >= GopherMinStops).as("fail_stops"))
      .select(col("source"), col("n_docs"), col("n_pass"),
        expr("(n_pass * 10000) div n_docs").as("pass_bp"),
        col("fail_words"), col("fail_word_len"), col("fail_symbol"),
        col("fail_alpha"), col("fail_bullet"), col("fail_ellipsis"),
        col("fail_stops"))
      .orderBy(col("source"))
  }

  /** The battery over an arbitrary (doc_id, text) frame — shared with
    * the spec's seeded degenerate documents, so the flags under test
    * are the production flags. `extra` columns pass through both
    * battery projections so an aggregating caller (the per-source
    * triage) rides one scan instead of re-joining the corpus. */
  private[graft] def gopherRulesFrom(docs: DataFrame,
      extra: Seq[String] = Nil): DataFrame = {
    val t = toks(col("text"))
    val lines = split(col("text"), "\n")
    // Σ word lengths == chars with the separators removed (split(" ")
    // makes consecutive-space "words" empty, adding zero — consistent)
    val sumLen = length(regexp_replace(col("text"), " ", "")).cast("long")
    val nHash = (length(col("text")) -
      length(regexp_replace(col("text"), "#", ""))).cast("long")
    val nDots = ((length(col("text")) -
      length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3).cast("long")
    val nUniEllipsis = (length(col("text")) -
      length(regexp_replace(col("text"), "…", ""))).cast("long")
    val counts = docs
      .select(Seq(col("doc_id"),
        size(t).cast("long").as("n_words"),
        size(lines).cast("long").as("n_lines"),
        sumLen.as("sum_len"),
        (nHash + nDots + nUniEllipsis).as("n_symbols"),
        size(filter(t, w => w.rlike("[a-z]"))).cast("long").as("n_alpha"),
        size(filter(lines, l => l.rlike("^\\s*[-•*] ")))
          .cast("long").as("n_bullet"),
        size(filter(lines, l => l.rlike("(\\.\\.\\.|…)\\s*$")))
          .cast("long").as("n_ellipsis_end"),
        size(filter(typedLit(GopherStops), s => array_contains(t, s)))
          .cast("long").as("stop_hits"))
        ++ extra.map(col): _*)
    counts
      .select(Seq(col("doc_id"), col("n_words"),
        expr("(sum_len * 1000) div n_words").as("word_len_pm"),
        expr("(n_symbols * 10000) div n_words").as("symbol_bp"),
        expr("(n_alpha * 10000) div n_words").as("alpha_word_bp"),
        expr("(n_bullet * 10000) div n_lines").as("bullet_bp"),
        expr("(n_ellipsis_end * 10000) div n_lines").as("ellipsis_bp"),
        col("stop_hits"))
        ++ extra.map(col): _*)
      .withColumn("gopher_pass",
        (col("n_words") >= GopherMinWords &&
          col("n_words") <= GopherMaxWords &&
          col("word_len_pm") >= GopherMinWordLenPm &&
          col("word_len_pm") <= GopherMaxWordLenPm &&
          col("symbol_bp") <= GopherMaxSymbolBp &&
          col("alpha_word_bp") >= GopherMinAlphaBp &&
          col("bullet_bp") <= GopherMaxBulletBp &&
          col("ellipsis_bp") <= GopherMaxEllipsisBp &&
          col("stop_hits") >= GopherMinStops).cast("long"))
  }

  /** Unigram-LM surprisal quality scoring: each token costs
    * ⌊log2(total/count(w))⌋+1 bits under the corpus's own unigram
    * model — rare-word-heavy documents (typos, boilerplate soup,
    * non-language noise) score high, fluent text scores low. The
    * standard perplexity-filter signal of training-data curation
    * (CCNet-style), made INTEGER-exact so DuckDB reproduces every bit:
    * `length(bin(total div cnt))` is ⌊log2⌋+1 of an integer ratio in
    * both engines — no floating-point log anywhere.
    *
    * Scale shape: one vocabulary-sized partial-agg groupBy for the
    * counts, one scalar total broadcast, one shuffle join of the token
    * stream against the vocabulary (at a real corpus the vocabulary is
    * millions of rows — broadcastable — while the token stream never
    * leaves its partitions more than once), one per-doc partial agg.
    * Zero windows, zero driver materialization.
    */
  def surprisal(spark: SparkSession, sf: String): DataFrame = {
    val tok = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"),
          lit(0))).as("w"))
    val counts = tok.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    tok.join(counts, "w")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        length(bin(expr("total div cnt"))).cast("long").as("bits"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("bits")).as("total_bits"))
      .select(col("doc_id"), col("n_tokens"), col("total_bits"),
        expr("(total_bits * 1000) div n_tokens").as("mean_millibits"))
      .orderBy(col("doc_id"))
  }

  /** Bigram-LM surprisal — the second-order refinement of [[surprisal]]:
    * each adjacent token pair costs ⌊log2(cnt(w1·)/cnt(w1,w2))⌋+1 bits
    * under the corpus's own bigram model, where cnt(w1·) is w1's count
    * AS A BIGRAM PREFIX (so the conditional is self-consistent and the
    * ratio is always ≥ 1). Fluent collocation-heavy text scores low;
    * documents full of never-seen-together word pairs score high — a
    * strictly sharper boilerplate/noise signal than the unigram model,
    * which can't see word ORDER at all. Same integer-exact
    * `length(bin(a div b))` bit cost — no float log in either engine.
    *
    * Scale shape: the bigram stream is materialized ONCE (a narrow
    * `transform(sequence(...))` over the token array — no self-join on
    * position), feeds both the model groupBy and the scoring join; the
    * prefix-count table derives from the bigram counts by a second
    * (much smaller) partial agg, not a re-scan. At 100 TB the bigram
    * vocabulary is the only thing that shuffles twice, and both
    * shuffles share the w1 key.
    */
  def bigramSurprisal(spark: SparkSession, sf: String): DataFrame =
    bigramScored(spark, sf).orderBy(col("doc_id"))

  /** The unsorted per-doc bigram-surprisal frame, SESSION-POOLED
    * (r17): q_bigram_surprisal and q_ppl_buckets each re-ran the
    * whole bigram pipeline (token explode → model groupBys → scoring
    * join); one pass per (dataset, session), both rows aggregate the
    * checkpointed docs-sized frame. */
  private[graft] def bigramScored(spark: SparkSession, sf: String): DataFrame =
    graft.CachePool.sessionCheckpoint("bigram-surprisal-scored", spark, sf) {
    val big = Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)).as("t"))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t)-2), i -> struct(t[i] as w1, t[i+1] as w2))"))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bi = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt2"))
    val pre = bi.groupBy(col("w1")).agg(sum(col("cnt2")).as("cnt1"))
    big.join(bi, Seq("w1", "w2")).join(pre, Seq("w1"))
      .select(col("doc_id"),
        length(bin(expr("cnt1 div cnt2"))).cast("long").as("bits"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("total_bits"))
      .select(col("doc_id"), col("n_bigrams"), col("total_bits"),
        expr("(total_bits * 1000) div n_bigrams").as("mean_millibits"))
  }

  /** Backoff penalty in integer bits — the Stupid Backoff α = 0.4
    * (Brants et al. 2007) costs −log₂ 0.4 ≈ 1.32 bits per backoff
    * level; 2 is its integer ceiling, keeping every score a plain
    * BIGINT both engines compute identically. Interpolated into the
    * oracle. */
  val BackoffPenaltyBits = 2L

  /** q_backoff_score: TRIGRAM STUPID BACKOFF scoring (Brants et al.
    * 2007 — the scheme invented FOR MapReduce-scale LMs: count
    * ratios, no discounting, a fixed per-level penalty) in the
    * repo's integer-exact MDL form, with the model trained on the
    * TRAIN split (the shared content-hash 80% —
    * [[Corpus.splitAssignDf]], so this row, the splits, and
    * decontamination can never disagree about membership) and EVERY
    * document scored against it — the CCNet posture (score the crawl
    * under a reference LM) where held-out documents genuinely back
    * off on unseen trigrams instead of the dead-code backoff a
    * self-scored model would have. Per trigram position:
    *
    *   - seen trigram:  bits = ⌊log₂(c(w₁w₂·)/c(w₁w₂w₃))⌋+1
    *   - else seen bigram: [[BackoffPenaltyBits]] +
    *       ⌊log₂(c(w₂·)/c(w₂w₃))⌋+1
    *   - else: 2·penalty + ⌊log₂(T/(c(w₃)+1))⌋+1 (add-one, so an
    *       OOV word stays finite — the NB smoothing posture)
    *
    * all via `length(bin(a div b))` — no float log in either engine.
    * Output carries the per-level hit censuses, so the score is
    * auditable (a doc scoring high BECAUSE it backs off constantly
    * is a different curation verdict than one full of rare-but-seen
    * trigrams).
    *
    * Scale shape: the model tables are n-gram-vocabulary-sized
    * partial aggs over the train slice; scoring is the trigram
    * stream left-joined against them (each join keyed on its n-gram —
    * broadcastable when the model fits, shuffle-joined otherwise)
    * plus one per-doc partial agg. Nothing iterates, nothing
    * collects. */
  def backoffScore(spark: SparkSession, sf: String): DataFrame =
    backoffScoredAll(spark, sf).orderBy(col("doc_id"))

  /** Full-corpus per-doc scored frame, SESSION-POOLED (r17): the
    * corpus trigram scoring joins are the LM family's dominant stage
    * and were re-run by q_backoff_score, q_lm_gate,
    * q_lm_gate_by_source, the gate-cut trainer and curate_v3's
    * stage-2 scorer; one pass per (dataset, session) against the
    * shared model. Scoring is per-document under a frozen model (the
    * streaming twin's contract, [[backoffScoreDocs]]), so a doc-slice
    * consumer (the cut's train slice, curate_v3's survivors) projects
    * from this frame bit-identically to scoring its slice directly. */
  private[graft] def backoffScoredAll(spark: SparkSession,
      sf: String): DataFrame =
    graft.CachePool.sessionCheckpoint("backoff-scored-all", spark, sf) {
      val (tri, bigr, uni) = backoffModel(spark, sf)
      backoffScoredUnsorted(Tables.load(spark, sf, "documents")
        .select(col("doc_id"), col("text")), tri, bigr, uni)
    }

  /** q_backoff_score_saved: [[backoffScore]] SERVED FROM THE
    * PERSISTED MODEL — the KenLM-`.arpa`-file analog completing the
    * artifact story for the LM scorer (train once on the frozen
    * split, publish the count tables through
    * [[graft.operators.IndexStore]], score every later corpus drop
    * from the same bytes). Same output and oracle as the in-place
    * scorer — the q_nb_classify_saved pattern. */
  def backoffScoreSaved(spark: SparkSession, sf: String): DataFrame = {
    val (root, v) = IndexStore.freshArtifact("backoff")(
      IndexStore.saveBackoffLm(spark, sf, _))
    val (tri, bigr, uni) = IndexStore.loadBackoffLm(spark, root, Some(v))
    backoffScoreWith(spark, sf, tri, bigr, uni)
  }

  /** q_lm_gate: the CCNet ONLINE-GATE form of the LM scorer — freeze
    * the reference model AND its cut, then admit documents by an
    * absolute integer threshold. The cut is TRAINED once: the
    * ⌊3n/4⌋-th smallest mean_millibits over the TRAIN split's own
    * scores (drop the most-surprising quartile of the reference
    * corpus — the same quartile posture as [[Corpus.curateV3]]'s
    * stage 2, but frozen as a VALUE so a stream can apply it to
    * documents the corpus has never seen); every document then keeps
    * iff `mean_millibits ≤ cut`. Where [[Corpus.qualityGate]] is
    * corpus-relative (the cut moves with each corpus),
    * this gate is artifact-relative: model + cut ship together and
    * batch, saved, and streaming deployments MUST agree — which is
    * exactly what the shared oracle checks.
    *
    * Scale shape: scoring is the q_backoff_score plan; the cut is
    * a [[TwoPhase.prefix]] rank over the train scores collapsed to
    * ONE collected scalar — trainer-bounded, the same rule as the
    * IVF/PQ trainers. */
  def lmQualityGate(spark: SparkSession, sf: String): DataFrame = {
    val cut = lmGateCut(spark, sf)
    backoffScoredAll(spark, sf)
      .select(col("doc_id"), col("mean_millibits"))
      .filter(col("mean_millibits") <= lit(cut))
      .orderBy(col("doc_id"))
  }

  /** The frozen-gate threshold: the ⌊3n/4⌋-th order statistic of the
    * TRAIN split's mean_millibits under the (value, doc_id) total
    * order — shared by the batch row and the streaming twin so the
    * two cannot disagree about the artifact they ship.
    * [[TwoPhase.prefix]] rank over equal-width value ranges whose
    * extremes are collected on the driver, one scalar collected. */
  private[graft] def lmGateCut(spark: SparkSession, sf: String): Long = {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    // SESSION-POOLED (r17): the train slice PROJECTS from the pooled
    // full-corpus scored frame (scoring is per-document under the
    // frozen model, so the slice of the whole equals scoring the
    // slice) — the cut trainer no longer re-runs the scoring joins,
    // and every serve path (in-place, artifact-loaded, streaming)
    // freezes the same value because the artifact round-trip is
    // exact-integer. The checkpointed frame feeds the extremes
    // aggregate, the bucket projection, and the rank join.
    val scored = graft.CachePool.sessionCheckpoint("lm-gate-train-scored",
        spark, sf) {
      backoffScoredAll(spark, sf).join(
        graft.operators.Corpus.splitAssignDf(docs)
          .filter(col("split") === "train").select(col("doc_id")), "doc_id")
        .select(col("doc_id"), col("mean_millibits"))
    }
    val ext = scored.agg(min(col("mean_millibits")),
      max(col("mean_millibits")), count(lit(1))).head()
    val (mn, mx, n) = (ext.getLong(0), ext.getLong(1), ext.getLong(2))
    require(n > 0, "empty train split — no gate cut to freeze")
    val k = math.max(1L, 3L * n / 4L)
    val width = math.max(1L, math.ceil((mx - mn + 1).toDouble / 32).toLong)
    val ranged = scored.withColumn("vb",
      expr(s"(mean_millibits - ${mn}L) div ${width}L"))
    TwoPhase.prefix(ranged, Nil, Seq("vb"),
        Seq(col("mean_millibits"), col("doc_id")), lit(1L), "rk")
      .filter(col("rk") === lit(k))
      .select(col("mean_millibits"))
      .head().getLong(0)
  }

  /** DuckDB replay of [[lmQualityGate]] — shared with the streaming
    * twin: the same train-split model CTEs, the same ⌊3n/4⌋ order
    * statistic, the same `≤ cut` admission. */
  def lmGateOracle: String =
    s"""WITH $backoffCtes,
       tr AS (SELECT b.doc_id, b.mean_millibits
              FROM bsc b JOIN dt USING (doc_id) WHERE dt.is_train),
       nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM tr),
       cutv AS (
         SELECT mean_millibits AS cut FROM (
           SELECT mean_millibits,
             ROW_NUMBER() OVER (ORDER BY mean_millibits, doc_id) AS rk
           FROM tr), nn
         WHERE rk = GREATEST(1, 3 * c // 4))
       SELECT b.doc_id, b.mean_millibits
       FROM bsc b, cutv
       WHERE b.mean_millibits <= cut
       ORDER BY b.doc_id"""

  /** q_lm_gate_by_source: the frozen gate's ADMISSION census per feed
    * — what share of each source the shipped model+cut artifact would
    * admit, the table a team reads before pointing the gate at a new
    * feed mix (the [[gopherBySource]] posture for the CCNet filter:
    * batteries and gates deploy per-source in practice, and a source
    * whose admission rate collapses under the frozen artifact is a
    * distribution-shift alarm, not a quality verdict).
    *
    * Shape: scoring is the q_backoff_score plan; the source lookup is
    * one id-keyed join (corpus-cardinality on BOTH sides — no
    * broadcast hint, the dupMatrixFrom rule) feeding a
    * ≤|sources|-row partial agg; admission shares in integer basis
    * points. */
  def lmGateBySource(spark: SparkSession, sf: String): DataFrame = {
    val cut = lmGateCut(spark, sf)
    val scored = backoffScoredAll(spark, sf)
      .select(col("doc_id"), col("mean_millibits"))
    scored
      .join(Tables.load(spark, sf, "documents")
        .select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("mean_millibits") <= lit(cut), 1L).otherwise(0L))
          .as("n_admitted"))
      .withColumn("admitted_bp", expr("n_admitted * 10000 div n_docs"))
      .orderBy(col("source"))
  }

  /** DuckDB replay of [[lmGateBySource]] — the [[lmGateOracle]] CTEs
    * (same model, same frozen cut) grouped per source. */
  def lmGateBySourceOracle: String =
    s"""WITH $backoffCtes,
       tr AS (SELECT b.doc_id, b.mean_millibits
              FROM bsc b JOIN dt USING (doc_id) WHERE dt.is_train),
       nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM tr),
       cutv AS (
         SELECT mean_millibits AS cut FROM (
           SELECT mean_millibits,
             ROW_NUMBER() OVER (ORDER BY mean_millibits, doc_id) AS rk
           FROM tr), nn
         WHERE rk = GREATEST(1, 3 * c // 4))
       SELECT d.source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN b.mean_millibits <= cut THEN 1 ELSE 0 END)
           AS BIGINT) AS n_admitted,
         (CAST(SUM(CASE WHEN b.mean_millibits <= cut THEN 1 ELSE 0 END)
           AS BIGINT) * 10000) // CAST(COUNT(*) AS BIGINT) AS admitted_bp
       FROM bsc b JOIN documents d USING (doc_id), cutv
       GROUP BY d.source
       ORDER BY d.source"""

  /** The train-split n-gram count tables — (trigram c3, bigram c2,
    * unigram c1) frames, each an n-gram-vocabulary-sized partial agg
    * (executor-resident; never collected). The prefix tables and the
    * scalar total DERIVE from these by exact aggregation, so the
    * three count frames ARE the whole model artifact. */
  private[graft] def backoffModel(spark: SparkSession,
      sf: String): (DataFrame, DataFrame, DataFrame) = {
    val docs = Tables.load(spark, sf, "documents")
    val train = docs
      .join(graft.operators.Corpus.splitAssignDf(
        docs.select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("split")), "doc_id")
      .filter(col("split") === "train")
    val tri = backoffTris(train)
      .groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("c3"))
    // bigram/unigram models from the SAME train token stream (not the
    // trigram stream — a 2-word train doc must still teach bigrams)
    val trainTok = train.select(col("doc_id"),
        regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)).as("t"))
    val bigr = trainTok.filter(size(col("t")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(t)-2), i -> " +
          "struct(t[i] as wa, t[i+1] as wb))")).as("b"))
      .select(col("b.wa").as("wa"), col("b.wb").as("wb"))
      .groupBy(col("wa"), col("wb")).agg(count(lit(1)).as("c2"))
    val uni = trainTok.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c1"))
    (tri, bigr, uni)
  }

  private def backoffTris(d: DataFrame): DataFrame = d
    .select(col("doc_id"),
      regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)).as("t"))
    .filter(size(col("t")) >= 3)
    .select(col("doc_id"), explode(expr(
      "transform(sequence(0, size(t)-3), i -> " +
        "struct(t[i] as w1, t[i+1] as w2, t[i+2] as w3))")).as("g"))
    .select(col("doc_id"), col("g.w1").as("w1"), col("g.w2").as("w2"),
      col("g.w3").as("w3"))

  /** The scoring pass parameterized by the model count frames —
    * train-in-place and artifact-served scoring share one code path
    * (the [[graft.operators.Corpus.bpeEncodeWith]] convention). */
  private[graft] def backoffScoreWith(spark: SparkSession, sf: String,
      tri: DataFrame, trainBi: DataFrame, uni: DataFrame): DataFrame =
    backoffScoreDocs(Tables.load(spark, sf, "documents"), tri, trainBi, uni)

  /** The scorer over an arbitrary (doc_id, text) frame — the form the
    * streaming twin scores each delivery through (scoring is
    * per-document given the frozen model, so the per-batch scope IS
    * the operator). */
  private[graft] def backoffScoreDocs(docs: DataFrame,
      tri: DataFrame, trainBi: DataFrame, uni: DataFrame): DataFrame =
    backoffScoredUnsorted(docs, tri, trainBi, uni)
      .orderBy(col("doc_id"))

  /** The per-doc scored frame WITHOUT the presentation sort — the
    * form composing consumers ([[graft.operators.Corpus.curateV3]]'s
    * stage-2 bucket) build on, so their aggregations don't sit on a
    * pointless global range sort (the [[qualityScoredDf]] rule). */
  private[graft] def backoffScoredUnsorted(docs: DataFrame,
      tri: DataFrame, trainBi: DataFrame, uni: DataFrame): DataFrame = {
    val triPre = tri.groupBy(col("w1"), col("w2"))
      .agg(sum(col("c3")).as("p2"))
    val biPre = trainBi.groupBy(col("wa")).agg(sum(col("c2")).as("p1"))
    val total = uni.agg(sum(col("c1")).as("t_total"))
    val scored = backoffTris(docs.select(col("doc_id"), col("text")))
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(triPre, Seq("w1", "w2"), "left")
      .join(trainBi.select(col("wa").as("w2"), col("wb").as("w3"),
        col("c2")), Seq("w2", "w3"), "left")
      .join(biPre.select(col("wa").as("w2"), col("p1")), Seq("w2"), "left")
      .join(uni.select(col("w").as("w3"), col("c1")), Seq("w3"), "left")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        when(col("c3").isNotNull, lit(0L))
          .when(col("c2").isNotNull, lit(1L))
          .otherwise(lit(2L)).as("level"),
        when(col("c3").isNotNull,
            length(bin(expr("p2 div c3"))).cast("long"))
          .when(col("c2").isNotNull,
            lit(BackoffPenaltyBits) +
              length(bin(expr("p1 div c2"))).cast("long"))
          .otherwise(lit(2L * BackoffPenaltyBits) +
            length(bin(expr("t_total div (coalesce(c1, 0) + 1)")))
              .cast("long")).as("bits"))
    val perDoc = scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("level") === 0L, 1L).otherwise(0L)).as("n_tri_hits"),
        sum(when(col("level") === 1L, 1L).otherwise(0L)).as("n_bi_backoffs"),
        sum(when(col("level") === 2L, 1L).otherwise(0L)).as("n_uni_backoffs"),
        sum(col("bits")).as("total_bits"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("n_tri_hits"), lit(0L)).as("n_tri_hits"),
        coalesce(col("n_bi_backoffs"), lit(0L)).as("n_bi_backoffs"),
        coalesce(col("n_uni_backoffs"), lit(0L)).as("n_uni_backoffs"),
        coalesce(col("total_bits"), lit(0L)).as("total_bits"),
        coalesce(expr("(total_bits * 1000) div n_trigrams"), lit(0L))
          .as("mean_millibits"))
  }

  /** DuckDB replay of [[backoffScore]]: the same train-split model
    * tables, the same three-level CASE, the same `length(bin(//))`
    * integer bit costs. Built from [[backoffCtes]] so the composed
    * q_curate_v3 oracle reuses the IDENTICAL model + scoring CTEs —
    * one definition, two rows. */
  def backoffScoreOracle: String =
    s"""WITH $backoffCtes
       SELECT d.doc_id,
         CAST(COALESCE(n_trigrams, 0) AS BIGINT) AS n_trigrams,
         CAST(COALESCE(n_tri_hits, 0) AS BIGINT) AS n_tri_hits,
         CAST(COALESCE(n_bi_backoffs, 0) AS BIGINT) AS n_bi_backoffs,
         CAST(COALESCE(n_uni_backoffs, 0) AS BIGINT) AS n_uni_backoffs,
         CAST(COALESCE(total_bits, 0) AS BIGINT) AS total_bits,
         CAST(COALESCE((total_bits * 1000) // n_trigrams, 0) AS BIGINT)
           AS mean_millibits
       FROM documents d LEFT JOIN pd USING (doc_id)
       ORDER BY d.doc_id"""

  /** The backoff model + per-doc scoring CTE block (train-split
    * count tables `tri`/`bigr`/`uni`, the three-level scored trigram
    * stream `sc`, and the per-doc aggregate `pd`) — shared by
    * [[backoffScoreOracle]] and the q_curate_v3 composed oracle. */
  private[graft] def backoffCtes: String = {
    val p = BackoffPenaltyBits
    s"""dt AS (
         SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t,
           ('0x' || substring(md5(text), 1, 8))::BIGINT % 1000 < 800
             AS is_train
         FROM documents),
       trig AS (
         SELECT doc_id, is_train, t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
         FROM dt, unnest(range(1, len(t) - 1)) AS u(i)
         WHERE len(t) >= 3),
       tri AS (SELECT w1, w2, w3, CAST(COUNT(*) AS BIGINT) AS c3
               FROM trig WHERE is_train GROUP BY 1, 2, 3),
       trip AS (SELECT w1, w2, CAST(SUM(c3) AS BIGINT) AS p2
                FROM tri GROUP BY 1, 2),
       bigr AS (
         SELECT wa, wb, CAST(COUNT(*) AS BIGINT) AS c2 FROM (
           SELECT t[i] AS wa, t[i+1] AS wb
           FROM dt, unnest(range(1, len(t))) AS u(i)
           WHERE is_train AND len(t) >= 2)
         GROUP BY 1, 2),
       bip AS (SELECT wa, CAST(SUM(c2) AS BIGINT) AS p1
               FROM bigr GROUP BY 1),
       uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c1 FROM (
                 SELECT unnest(t) AS w FROM dt WHERE is_train)
               GROUP BY 1),
       tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS t_total FROM uni),
       sc AS (
         SELECT g.doc_id,
           CASE WHEN tri.c3 IS NOT NULL THEN 0
                WHEN b.c2 IS NOT NULL THEN 1 ELSE 2 END AS lvl,
           CASE WHEN tri.c3 IS NOT NULL
                  THEN length(bin(trip.p2 // tri.c3))
                WHEN b.c2 IS NOT NULL
                  THEN $p + length(bin(bip.p1 // b.c2))
                ELSE ${2 * p} + length(bin(tot.t_total
                  // (COALESCE(u.c1, 0) + 1))) END AS bits
         FROM trig g
         LEFT JOIN tri USING (w1, w2, w3)
         LEFT JOIN trip USING (w1, w2)
         LEFT JOIN bigr b ON b.wa = g.w2 AND b.wb = g.w3
         LEFT JOIN bip ON bip.wa = g.w2
         LEFT JOIN uni u ON u.w = g.w3
         CROSS JOIN tot),
       pd AS (
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
           CAST(SUM(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_tri_hits,
           CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bi_backoffs,
           CAST(SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_uni_backoffs,
           CAST(SUM(bits) AS BIGINT) AS total_bits
         FROM sc GROUP BY doc_id),
       bsc AS (
         SELECT d.doc_id,
           CAST(COALESCE((total_bits * 1000) // n_trigrams, 0) AS BIGINT)
             AS mean_millibits
         FROM documents d LEFT JOIN pd USING (doc_id))"""
  }

  /** Range-bucket count for [[pplBuckets]]' per-source rank. */
  private val PplRankBuckets = 32

  /** q_ppl_buckets — the CCNet head/middle/tail split (Wenzek et al.
    * 2020): rank every document by its LM score WITHIN its source and
    * cut the ranking into terciles. CCNet keeps `head` (most fluent
    * third under the reference LM) as high-quality pretraining data,
    * uses `middle` selectively, drops `tail`; partitioning by source
    * (CCNet: by language) keeps the cut relative, so a verbose source
    * isn't wholesale-dropped for having a different score base. The
    * LM is [[bigramSurprisal]]'s integer-exact corpus bigram model —
    * mean millibits per bigram stands in for perplexity (monotone in
    * it, engine-exact).
    *
    * The per-source rank is NOT a per-source global window: a source
    * at 100 TB is tens of TB, and `Window.partitionBy(source)` puts
    * each source on one task. It is [[TwoPhase.prefix]] by source
    * over equal-width score buckets from broadcast per-source
    * extremes (bucket id monotone in score, ties confined to one
    * bucket), so windows are bounded by bucket population. The
    * tercile is then integer arithmetic on the rank —
    * `(3·(rank−1)) div n_source` — which the oracle replays against a
    * plain ROW_NUMBER, pinning the two-phase construction equal to
    * the single-window total order.
    */
  def pplBuckets(spark: SparkSession, sf: String): DataFrame = {
    // persisted: the scored frame (docs × 3 cols) feeds the extremes
    // aggregate, the bucket projection, and the final rank join — the
    // r11 plan-audit lesson; without the pin each reference recomputes
    // the WHOLE bigram-surprisal pipeline (measured: 32 parquet scans
    // for a query whose data dependency is 6)
    val scored = graft.CachePool.swapOne("ppl-scored",
      bigramScored(spark, sf)
        .select(col("doc_id"), col("mean_millibits"))
        .join(Tables.load(spark, sf, "documents")
          .select(col("doc_id"), col("source")), "doc_id"))
    val ext = scored.groupBy(col("source"))
      .agg(min(col("mean_millibits")).as("mn"),
        max(col("mean_millibits")).as("mx"),
        count(lit(1)).as("ns"))
    val ranged = scored.join(broadcast(ext), "source")
      .withColumn("bucket", expr(
        s"(mean_millibits - mn) div " +
          s"cast(ceil((mx - mn + 1) / $PplRankBuckets.0) as bigint)"))
    TwoPhase.prefix(ranged, Seq("source"), Seq("bucket"),
        Seq(col("mean_millibits"), col("doc_id")), lit(1L), "rk")
      .select(col("doc_id"), col("source"), col("mean_millibits"),
        expr("case (3 * (rk - 1)) div ns when 0 then 'head'" +
          " when 1 then 'middle' else 'tail' end").as("ppl_bucket"))
      .orderBy(col("doc_id"))
  }

  /** Multinomial Naive Bayes source classifier, MDL form — the
    * fastText-style bag-of-words classifier every curation pipeline
    * trains to route documents (quality tiers, domains, languages),
    * here trained to recover the `source` column from text alone.
    * Closed-form training: class priors and per-class token counts are
    * two partial-aggregable groupBys — no gradient loop, no driver
    * state. Scoring is MDL/argmin-bits: a token costs
    * ⌊log2((classTokens+V)/(cnt+1))⌋+1 bits under the class's add-one-
    * smoothed unigram model and a document goes to the class that
    * compresses it best (prior bits + token bits). The integer bit
    * cost `length(bin(a div b))` makes every score engine-exact — the
    * same no-float-log trick as [[surprisal]], so DuckDB replays the
    * trained model bit-for-bit.
    *
    * Honest evaluation: a BLOCK-STRATIFIED 20% holdout —
    * `(doc_id div 20) % 5 == 0` — deterministic and seedless like
    * `Corpus.splitAssign`, but keyed on the id's block, not its
    * residue: the fixture's `source` is a pure function of
    * `doc_id % 20`, so a plain `doc_id % 5` split would hold out four
    * ENTIRE classes the model never trains on (measured: accuracy
    * identically 0). Blocks of 20 consecutive ids contain every
    * source exactly once, so train and test both cover all classes.
    *
    * Scale shape: the model (classes × vocab counts) is vocabulary-
    * sized — millions of rows at web scale, broadcastable — while the
    * token stream is scanned once for training and once for scoring,
    * each a partial agg keyed by (class, token) / (doc, class). The
    * class grid join is a broadcast of ~10 rows. Nothing iterates,
    * nothing collects. */
  def nbClassify(spark: SparkSession, sf: String): DataFrame =
    nbHoldoutScored(spark, sf).orderBy(col("doc_id"))

  /** q_nb_classify_saved: [[nbClassify]] SERVED FROM THE PERSISTED
    * MODEL ARTIFACT — the model-side twin of q_ann_ivf_saved: train →
    * publish the versioned classes/counts frames through
    * [[graft.operators.IndexStore]] → score the holdout against the
    * LOADED frames. Same output and DuckDB oracle as the in-place
    * classifier, so a round-trip bit-flip or a version mispin flips a
    * prediction and fails the hash. This is the deployment shape the
    * streaming scorer's "frozen artifact" doc promises: the model
    * trains once, ships as storage, and every scoring job — batch or
    * per-delivery — reads the same bytes. */
  def nbClassifySaved(spark: SparkSession, sf: String): DataFrame = {
    val (root, v) = IndexStore.freshArtifact("nb")(
      IndexStore.saveNb(spark, sf, _))
    val (classes, counts) = IndexStore.loadNb(spark, root, Some(v))
    // generational persist: the model frames feed several scoring
    // joins, but a long session must not accumulate one cached copy
    // per invocation
    val Seq(classesC, countsC) =
      graft.CachePool.swap("nb-saved-model", classes, counts)
    nbScore(nbTokenized(Tables.load(spark, sf, "documents"))
        .filter(expr(NbHoldoutExpr)), classesC, countsC)
      .orderBy(col("doc_id"))
  }

  /** Classifier evaluation, confusion-matrix form: held-out predictions
    * from [[nbClassify]]'s exact pipeline bucketed by (true, predicted)
    * — the routing-error map a curation team reads before trusting the
    * classifier to gate data (WHICH sources bleed into which). One
    * bounded groupBy over the scored holdout; cardinality ≤ classes².
    */
  def nbConfusion(spark: SparkSession, sf: String): DataFrame =
    nbConfusionFrame(spark, sf)
      .orderBy(col("true_source"), col("pred_source"))

  private def nbConfusionFrame(spark: SparkSession, sf: String): DataFrame =
    nbHoldoutScored(spark, sf)
      .groupBy(col("true_source"), col("pred_source"))
      .agg(count(lit(1)).as("n"))

  /** Per-class evaluation metrics over the same held-out predictions:
    * support (true class size), predicted (rows routed to the class),
    * true positives, and precision/recall/F1 in integer basis points —
    * F1 in its integer-exact form 2·tp/(support+predicted), so every
    * value replays bit-for-bit in SQL (no float division anywhere).
    * The model-eval report that decides whether the classifier is good
    * enough to gate a 100 TB curation pass; all aggregation is over
    * the class-sized confusion marginals, nothing document-sized moves
    * after the scoring pass. */
  def nbEval(spark: SparkSession, sf: String): DataFrame = {
    // ALL metrics are marginals of the confusion matrix, so the
    // document-sized scoring pass runs ONCE and everything after
    // aggregates the persisted ≤|classes|²-row matrix — the plan
    // audit caught the naive two-branch form re-running the whole
    // train+score pipeline per marginal
    val conf = graft.CachePool.swapOne("nb-eval-confusion",
      nbConfusionFrame(spark, sf))
    val sup = conf.groupBy(col("true_source").as("cls"))
      .agg(sum(col("n")).as("support"),
        sum(when(col("true_source") === col("pred_source"), col("n"))
          .otherwise(0L)).as("tp"))
    val prd = conf.groupBy(col("pred_source").as("cls"))
      .agg(sum(col("n")).as("predicted"))
    sup.join(prd, Seq("cls"), "full")
      .select(col("cls"),
        coalesce(col("support"), lit(0L)).as("support"),
        coalesce(col("predicted"), lit(0L)).as("predicted"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .select(col("cls"), col("support"), col("predicted"), col("tp"),
        when(col("predicted") > 0, expr("(tp * 10000) div predicted"))
          .otherwise(0L).as("precision_bp"),
        when(col("support") > 0, expr("(tp * 10000) div support"))
          .otherwise(0L).as("recall_bp"),
        when(col("support") + col("predicted") > 0,
          expr("(2 * tp * 10000) div (support + predicted)"))
          .otherwise(0L).as("f1_bp"))
      .orderBy(col("cls"))
  }

  /** Calibration / reliability table for the NB classifier: held-out
    * docs ranked by the model's own CONFIDENCE — the MDL margin,
    * runner-up bits minus winning bits (0 = coin flip, large = the
    * winning class compresses the doc far better) — then cut into 10
    * equal-count confidence deciles, with per-decile accuracy in
    * integer basis points. The report answering "can I trust the
    * score as a gate threshold?": a calibrated classifier shows
    * accuracy monotone in margin, and the decile where accuracy
    * collapses is the routing-confidence cutoff a curation pass
    * should use. Margin is an integer (difference of two exact bit
    * costs), so the whole table replays bit-for-bit in SQL.
    *
    * On the synthetic fixture the corpus is near-signal-free word
    * soup, and the table says exactly that: margins sit at 0-8 bits
    * (coin-flip territory) and accuracy hugs the random baseline in
    * every decile — the "do NOT gate on this model" verdict, which is
    * the honest calibration read. The operator's value is the exact
    * replayable mechanism; a real corpus supplies the signal.
    *
    * Scale shape: scoring is the same one-pass grid as [[nbClassify]];
    * the margin reduction is a per-doc aggregate over ≤|classes| rows
    * (sorted two-smallest, collect bounded by class count). The
    * deciles are NTILE arithmetic on a [[TwoPhase.prefix]] rank over
    * equal-width ranges of −margin, so no task holds the holdout. */
  def nbReliability(spark: SparkSession, sf: String): DataFrame = {
    val grid = nbBitsGridHoldout(spark, sf)
    val perDoc = grid
      .groupBy(col("doc_id"), col("true_source"))
      .agg(sort_array(collect_list(struct(col("bits"), col("cls"))))
        .as("ranked"))
      .select(col("doc_id"),
        (col("ranked")(0).getField("cls") === col("true_source"))
          .cast("long").as("is_correct"),
        (col("ranked")(1).getField("bits") - col("ranked")(0).getField("bits"))
          .as("margin"))
    val buckets = 32
    val ext = perDoc.agg(min(-col("margin")).as("mn"),
      max(-col("margin")).as("mx"), count(lit(1)).as("n_docs"))
    val ranged = perDoc.crossJoin(broadcast(ext))
      .withColumn("bucket", expr(
        s"(-margin - mn) div cast(ceil((mx - mn + 1) / $buckets.0) as bigint)"))
    // NTILE(10) on the rank: with q = n div 10 and r = n mod 10, the
    // first r tiles hold q + 1 rows and the rest hold q
    TwoPhase.prefix(ranged, Nil, Seq("bucket"),
        Seq(col("margin").desc, col("doc_id")), lit(1L), "rk")
      .withColumn("q", expr("n_docs div 10"))
      .withColumn("big", expr("(n_docs % 10) * (q + 1)"))
      .withColumn("tile", expr("case when rk <= big" +
        " then (rk - 1) div (q + 1) + 1" +
        " else n_docs % 10 + (rk - 1 - big) div q + 1 end"))
      .groupBy(col("tile"))
      .agg(count(lit(1)).as("n"),
        sum(col("is_correct")).as("n_correct"),
        min(col("margin")).as("min_margin"),
        max(col("margin")).as("max_margin"))
      .select(col("tile"), col("n"), col("n_correct"),
        expr("(n_correct * 10000) div n").as("accuracy_bp"),
        col("min_margin"), col("max_margin"))
      .orderBy(col("tile"))
  }

  /** Block-stratified split shared by trainer, both scoring twins,
    * the streaming twin, and the oracle SQL (interpolated into
    * [[NbScoredCtes]] from these vals): ids are cut into
    * blocks of [[NbSplitBlock]] consecutive ids — one per fixture
    * source, so every class appears on both sides of the split — and
    * one block in [[NbSplitMod]] is held out. */
  private[graft] val NbSplitBlock = 20
  private[graft] val NbSplitMod = 5

  /** Learning-curve resolution: the train split is tagged into this
    * many nested fractions (must divide 100 so frac_pct stays an
    * integer) — shared with the DuckDB oracle (q_learning_curve) so
    * the curve's shape cannot desync between engines. */
  private[graft] val NbCurveFractions = 4
  private[graft] val NbCurveStepPct: Long = 100L / NbCurveFractions
  private[graft] val NbHoldoutExpr =
    s"(doc_id div $NbSplitBlock) % $NbSplitMod = 0"
  private[graft] val NbTrainExpr =
    s"(doc_id div $NbSplitBlock) % $NbSplitMod != 0"

  /** Data-scaling LEARNING CURVE for the NB router: the same
    * closed-form trainer fit on nested 25/50/75/100% prefixes of the
    * training split, each model scored on the SAME holdout — the
    * report behind "do we need more data, or a better model?": a
    * still-climbing curve says collect, a flat one says the router is
    * capacity- (or signal-) limited, the call that sizes a 100 TB
    * ingestion campaign. Fractions nest by block tag
    * (`(doc_id div block) % 4` is exactly uniform over the train
    * blocks, 4 of each residue per 20-block cycle), so model k trains
    * on tags < k and the curve is monotone in DATA, not re-rolled
    * samples.
    *
    * Plan shape — fraction as a DIMENSION, not a loop: token counts
    * aggregate once per (tag, class, word), the k-row fraction table
    * joins in to produce cumulative per-k counts, and scoring is the
    * one [[nbBitsGrid]] pass widened by k (the broadcast class grid
    * is k×|classes| rows). Each split's tokenized projection is
    * PINNED and scanned into it once — train feeds the token AND
    * doc-count aggregations, test feeds the token-bits AND prior
    * grids off the pinned copy — so curve resolution never
    * multiplies corpus passes; the naive per-fraction retrain loop
    * scans 2k times. Every output is an exact integer (bit costs,
    * counts, basis points), so the whole curve replays in SQL.
    */
  def nbLearningCurve(spark: SparkSession, sf: String): DataFrame = {
    val docs = nbTokenized(Tables.load(spark, sf, "documents"))
    val Seq(train, test) = graft.CachePool.swap("nb-curve-splits",
      docs.filter(expr(NbTrainExpr))
        .withColumn("f",
          expr(s"(doc_id div $NbSplitBlock) % $NbCurveFractions")),
      docs.filter(expr(NbHoldoutExpr)))
    val ks = spark.range(1, NbCurveFractions + 1L).select(col("id").as("k"))

    val cntF = train.select(col("f"), col("source").as("cls"),
        explode(col("t")).as("w"))
      .groupBy(col("f"), col("cls"), col("w"))
      .agg(count(lit(1)).as("cnt"))
    // cumulative (k, cls, w) counts: model k sees tags < k. Persisted:
    // the likelihood join, class totals, and vocab all read it.
    val cntK = graft.CachePool.swapOne("nb-curve-cntk",
      cntF.join(broadcast(ks), col("f") < col("k"))
        .groupBy(col("k"), col("cls"), col("w"))
        .agg(sum(col("cnt")).as("cnt")))
    val classTokK = cntK.groupBy(col("k"), col("cls"))
      .agg(sum(col("cnt")).as("class_tokens"))
    val vocabK = cntK.select(col("k"), col("w")).distinct()
      .groupBy(col("k")).agg(count(lit(1)).as("v"))
    val classDocsK = train.groupBy(col("f"), col("source"))
      .agg(count(lit(1)).as("nd"))
      .join(broadcast(ks), col("f") < col("k"))
      .groupBy(col("k"), col("source").as("cls"))
      .agg(sum(col("nd")).as("class_docs"))
    val totK = classDocsK.groupBy(col("k"))
      .agg(sum(col("class_docs")).as("total_docs"),
        count(lit(1)).as("n_classes"))
    val classesK = classTokK
      .join(classDocsK, Seq("k", "cls")).join(vocabK, Seq("k"))
      .join(totK.select(col("k"), col("total_docs")), Seq("k"))
      .select(col("k"), col("cls"), col("class_tokens"),
        length(bin(expr("total_docs div class_docs")))
          .cast("long").as("prior_bits"),
        col("v"))
    val classesKC = graft.CachePool.swapOne("nb-curve-classes", classesK)

    val tokenBits = test.select(col("doc_id"), explode(col("t")).as("w"))
      .crossJoin(broadcast(classesKC))
      .join(cntK, Seq("k", "cls", "w"), "left")
      .select(col("doc_id"), col("k"), col("cls"),
        length(bin(expr("(class_tokens + v) div (coalesce(cnt, 0L) + 1)")))
          .cast("long").as("bits"))
      .groupBy(col("doc_id"), col("k"), col("cls"))
      .agg(sum(col("bits")).as("token_bits"))
    val grid = test.select(col("doc_id"), col("source").as("true_source"))
      .crossJoin(broadcast(classesKC.select(col("k"), col("cls"),
        col("prior_bits"))))
    val pred = grid.join(tokenBits, Seq("doc_id", "k", "cls"), "left")
      .select(col("doc_id"), col("true_source"), col("k"), col("cls"),
        (col("prior_bits") + coalesce(col("token_bits"), lit(0L)))
          .as("bits"))
      .groupBy(col("doc_id"), col("true_source"), col("k"))
      .agg(min(struct(col("bits"), col("cls"))).as("best"))
      .select(col("k"),
        (col("best.cls") === col("true_source")).cast("long").as("is_correct"))
    val acc = pred.groupBy(col("k"))
      .agg(count(lit(1)).as("n_test"), sum(col("is_correct")).as("n_correct"))

    acc.join(totK.select(col("k"), col("total_docs").as("train_docs")), Seq("k"))
      .join(classTokK.groupBy(col("k"))
        .agg(sum(col("class_tokens")).as("train_tokens")), Seq("k"))
      .join(vocabK.withColumnRenamed("v", "vocab_size"), Seq("k"))
      .select((col("k") * NbCurveStepPct).as("frac_pct"),
        col("train_docs").cast("long").as("train_docs"),
        col("train_tokens").cast("long").as("train_tokens"),
        col("vocab_size").cast("long").as("vocab_size"),
        col("n_test").cast("long").as("n_test"),
        col("n_correct").cast("long").as("n_correct"),
        expr("(n_correct * 10000) div n_test").as("accuracy_bp"))
      .orderBy(col("frac_pct"))
  }

  /** Holdout bits grid with the same frozen-model persistence as
    * [[nbHoldoutScored]]. */
  /** The trained model frames, SESSION-POOLED (r17): q_nb_classify,
    * q_nb_confusion, q_nb_eval and q_nb_reliability each re-ran the
    * tokenize → two-groupBy trainer per invocation; one train per
    * (dataset, session), every scorer reads the checkpointed
    * vocabulary-sized frames. (The swap-persist this replaces pinned
    * the frames only within one invocation — the bench's per-query
    * clearCache stripped them between rows.) */
  private[graft] def nbModelShared(spark: SparkSession,
      sf: String): (DataFrame, DataFrame) =
    (graft.CachePool.sessionCheckpoint("nb-model-classes", spark, sf) {
        nbModel(spark, sf)._1
      },
      graft.CachePool.sessionCheckpoint("nb-model-counts", spark, sf) {
        nbModel(spark, sf)._2
      })

  private def nbBitsGridHoldout(spark: SparkSession, sf: String): DataFrame = {
    val (c1, c2) = nbModelShared(spark, sf)
    nbBitsGrid(nbTokenized(Tables.load(spark, sf, "documents"))
      .filter(expr(NbHoldoutExpr)), c1, c2)
  }

  /** The scored holdout both eval views aggregate — exactly
    * [[nbClassify]] without the final sort. SESSION-POOLED (r17):
    * q_nb_classify, q_nb_confusion and q_nb_eval all aggregate this
    * one holdout-sized frame — one scoring pass per (dataset,
    * session) over the shared model (the r15 plan audit measured 44
    * parquet scans for the naive q_nb_eval; the swap-persist fix
    * bounded one invocation, this bounds the session). */
  private def nbHoldoutScored(spark: SparkSession, sf: String): DataFrame =
    graft.CachePool.sessionCheckpoint("nb-holdout-scored", spark, sf) {
      val (c1, c2) = nbModelShared(spark, sf)
      nbScore(nbTokenized(Tables.load(spark, sf, "documents"))
        .filter(expr(NbHoldoutExpr)), c1, c2)
    }

  /** Tokenized projection shared by the trainer and both scoring
    * twins — one tokenizer definition, zero drift. */
  private[graft] def nbTokenized(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)).as("t"))

  /** The trained model as two frames: `classes` (cls, class_tokens,
    * prior_bits, v — one row per class) and `counts` (cls, w, cnt —
    * the vocabulary-sized likelihood table). Frozen artifacts: the
    * streaming twin scores every arriving delivery against them. */
  private[graft] def nbModel(spark: SparkSession,
      sf: String): (DataFrame, DataFrame) =
    nbModelFrom(nbTokenized(Tables.load(spark, sf, "documents")))

  /** [[nbModel]] over an already-tokenized corpus frame — split out so
    * a composing pipeline (curateV2) can train the model and score a
    * different slice off ONE shared tokenized scan. */
  private[graft] def nbModelFrom(tokenized: DataFrame)
      : (DataFrame, DataFrame) = {
    val train = tokenized.filter(expr(NbTrainExpr))
    val trainTok = train.select(col("source"), explode(col("t")).as("w"))
    val counts = trainTok.groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("cnt"))
    val classTok = counts.groupBy(col("source"))
      .agg(sum(col("cnt")).as("class_tokens"))
    val vocab = counts.select(col("w")).distinct()
      .agg(count(lit(1)).as("v"))
    val priors = train.groupBy(col("source"))
      .agg(count(lit(1)).as("class_docs"))
    val totalDocs = train.agg(count(lit(1)).as("total_docs"))
    val classes = classTok.join(priors, "source")
      .crossJoin(broadcast(totalDocs)).crossJoin(broadcast(vocab))
      .select(col("source").as("cls"), col("class_tokens"),
        length(bin(expr("total_docs div class_docs")))
          .cast("long").as("prior_bits"),
        col("v"))
    (classes, counts.withColumnRenamed("source", "cls"))
  }

  /** Per-(doc, class) total MDL bits against a trained model — every
    * token of every doc against every class (the grid join is a
    * broadcast of the class list; the likelihood join keys on
    * (cls, w)). The scoring surface [[nbScore]]'s argmin and
    * [[nbReliability]]'s margin both aggregate. */
  private[graft] def nbBitsGrid(test: DataFrame, classes: DataFrame,
      counts: DataFrame): DataFrame = {
    val tokenBits = test.select(col("doc_id"), explode(col("t")).as("w"))
      .crossJoin(broadcast(classes))
      .join(counts, Seq("cls", "w"), "left")
      .select(col("doc_id"), col("cls"),
        length(bin(expr("(class_tokens + v) div (coalesce(cnt, 0L) + 1)")))
          .cast("long").as("bits"))
      .groupBy(col("doc_id"), col("cls"))
      .agg(sum(col("bits")).as("token_bits"))
    // empty documents (no [a-z] token) still classify — by prior alone
    val grid = test.select(col("doc_id"), col("source").as("true_source"))
      .crossJoin(broadcast(classes.select(col("cls"), col("prior_bits"))))
    grid.join(tokenBits, Seq("doc_id", "cls"), "left")
      .select(col("doc_id"), col("true_source"), col("cls"),
        (col("prior_bits") + coalesce(col("token_bits"), lit(0L)))
          .as("bits"))
  }

  /** Argmin of total bits with ties to the smaller class name.
    * Unsorted: callers order (the streaming twin scores per-delivery
    * and sorts once at the end). */
  private[graft] def nbScore(test: DataFrame, classes: DataFrame,
      counts: DataFrame): DataFrame =
    nbBitsGrid(test, classes, counts)
      .groupBy(col("doc_id"), col("true_source"))
      .agg(min(struct(col("bits"), col("cls"))).as("best"))
      .select(col("doc_id"), col("true_source"),
        col("best.cls").as("pred_source"),
        col("best.bits").as("total_bits"),
        (col("best.cls") === col("true_source")).cast("long").as("is_correct"))

  /** Nested-object decode — the `object_loads` analog (util.py:40-57):
    * structured extraction from the JSON props payload via JSON-path. */
  def jsonExtract(spark: SparkSession, sf: String): DataFrame =
    Events.load(spark, sf)
      .select(col("event_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .orderBy(col("event_id"))

  /** Log-line regex extraction (status.py:458-521): pull structured
    * fields out of the events table's JSON-ish props payload — the
    * `ORA-(\d+)` / completion-sentinel parsing pattern. */
  def regexExtract(spark: SparkSession, sf: String): DataFrame =
    Events.load(spark, sf)
      .select(col("event_id"), col("event_type"),
        regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("long").as("k"))
      .filter(col("event_type") === "error")
      .orderBy(col("event_id"))

  // ---- winnowing fingerprints (rolling hash) -------------------------

  /** Winnowing geometry — gram width, window width, Rabin–Karp base
    * and modulus. k+w−1 = 23: any shared 23-char substring guarantees
    * a shared fingerprint. M = 2³¹−1 keeps every hash in the low 31
    * bits of the packed output and every oracle-side sum term under
    * 2⁶³. Interpolated into both engines. */
  val WinnowK = 16
  val WinnowW = 8
  val WinnowBase = 257L
  val WinnowMod = 2147483647L

  /** Fingerprint document-frequency cap for [[winnowOverlap]]: a
    * fingerprint present in more documents is corpus boilerplate
    * (and the pair-join's skew key) — purged before pairing, the
    * same Hernández/Stolfo big-block argument as the linkage cap. */
  val WinnowDfCap = 10

  /** Shared-fingerprint floor for an overlap verdict. */
  val WinnowMinShared = 5

  /** q_winnow: rolling-hash document fingerprints by WINNOWING
    * (Schleimer–Wilkerson–Aiken 2003, the MOSS kernel): one
    * [[graft.functions.WinnowPack]] codegen pass per document — an
    * O(n) rolling Rabin–Karp over k-char grams with the
    * rightmost-min window selection — then a flat posexplode of the
    * packed (pos << 31 | hash) longs. Fingerprinting is a pure MAP:
    * zero shuffle at any corpus size; only downstream consumers
    * (the overlap join) exchange anything, and they exchange the
    * ~2/(w+1)-density fingerprint set, not text.
    */
  def winnow(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "documents")
      .select(col("doc_id"),
        explode(graft.functions.ArrayOps.winnow_pack(col("text"),
          WinnowK, WinnowW, WinnowBase, WinnowMod)).as("packed"))
      .select(col("doc_id"),
        expr(s"packed div ${1L << 31}L").as("pos"),
        expr(s"packed % ${1L << 31}L").as("fp"))
      .orderBy(col("doc_id"), col("pos"))

  /** q_winnow_overlap: document pairs sharing ≥ [[WinnowMinShared]]
    * winnowing fingerprints — the content-overlap detector (MOSS's
    * plagiarism verdict; in a curation pipeline, the cross-document
    * substring-reuse audit that catches quote farms and mirrored
    * passages exact dedup misses). Fingerprints are SET-valued per
    * document; fingerprints in more than [[WinnowDfCap]] documents
    * are purged first — they are corpus boilerplate AND the join's
    * skew keys, so the purge is simultaneously the recall rule and
    * the Σ block² bound (pair work per fingerprint ≤ cap²).
    */
  def winnowOverlap(spark: SparkSession, sf: String): DataFrame =
    winnowOverlapFromFps(winnowFpSetCached(spark, sf))

  /** The overlap kernel over an arbitrary (doc_id, text) frame —
    * shared by [[winnowOverlap]] and the seeded-skew receipt
    * [[winnowOverlapSkew]], so the purge under test is the production
    * purge, not a test double. */
  private[graft] def winnowOverlapFrom(docs: DataFrame): DataFrame =
    winnowOverlapFromFps(winnowFpSet(docs))

  /** q_winnow_overlap_saved: the overlap verdict served FROM THE
    * PERSISTED fingerprint index — the MOSS-index-file analog
    * completing the artifact story for the winnow family (the
    * q_minhash_lsh_saved pattern): the corpus fingerprints publish
    * once through [[graft.operators.IndexStore.saveWinnow]]
    * (corpus-sized, executor-written, never collected), and the
    * overlap join runs over the LOADED set. The packed fingerprints
    * are exact integers, so the loaded index reproduces the in-place
    * kernel bit-for-bit — same output, same DuckDB oracle as
    * q_winnow_overlap. */
  def winnowOverlapSaved(spark: SparkSession, sf: String): DataFrame = {
    val (root, v) = IndexStore.freshArtifact("winnow")(
      IndexStore.saveWinnow(spark, sf, _))
    winnowOverlapFromFps(IndexStore.loadWinnow(spark, root, Some(v)))
  }

  /** The overlap join over an arbitrary (doc_id, fp) fingerprint set
    * — in-place and artifact-served rows share it, so the two can
    * only differ through their index bytes. */
  private[graft] def winnowOverlapFromFps(fpSet: DataFrame): DataFrame = {
    // persisted: the fingerprint set feeds the df census and both
    // sides of the pair self-join — unpinned, the whole WinnowPack
    // scan re-ran per reference (plan-audited)
    val fps = graft.CachePool.swapOne("winnow-overlap-fps", fpSet)
    val df = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
    val kept = fps.join(df.filter(col("df") <= WinnowDfCap)
      .select(col("fp")), "fp")
    kept.select(col("fp"), col("doc_id").as("doc_a"))
      .join(kept.select(col("fp"), col("doc_id").as("doc_b")), "fp")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Seeding rate and payload for [[winnowOverlapSkew]]'s degenerate
    * boilerplate fixture: every `doc_id % WinnowSkewMod == 0` document
    * gains the SAME appended sentence — at any fixture scale that is
    * 1/[[WinnowSkewMod]] of the corpus sharing one fingerprint family,
    * far past [[WinnowDfCap]], the production failure mode where a
    * template/footer floods the fingerprint index (Hernández/Stolfo's
    * big-block argument, the linkage-skew receipt's text twin). The
    * payload is ≥ k+w−1 = 23 chars, so every seeded doc is GUARANTEED
    * shared fingerprints by the winnowing theorem — the purge is
    * provably armed, not probabilistically. */
  val WinnowSkewMod = 5
  val WinnowSkewBoiler =
    "subscribe to our newsletter today for free weekly updates"

  /** The seeding expression, parseable by Spark `expr` and DuckDB
    * verbatim (the Linkage.DirtyNameSql pattern — one source, two
    * engines). */
  def winnowSkewTextSql: String =
    s"CASE WHEN doc_id % $WinnowSkewMod = 0 " +
      s"THEN text || ' $WinnowSkewBoiler' ELSE text END"

  /** The seeded corpus: (doc_id, text) with the boilerplate appended
    * at the [[WinnowSkewMod]] rate. */
  private[graft] def winnowSkewDocs(spark: SparkSession,
      sf: String): DataFrame =
    Tables.load(spark, sf, "documents")
      .select(col("doc_id"), expr(winnowSkewTextSql).as("text"))

  /** q_winnow_skew: [[winnowOverlap]] under the seeded degenerate
    * boilerplate block, WITH the df-cap purge armed (it always is —
    * the purge is the operator's standing skew guard, and this row
    * proves it fires): the boilerplate fingerprints land in ~1/5 of
    * the corpus (df ≫ [[WinnowDfCap]]) and are purged before pairing,
    * so the seeded flood contributes ZERO candidate pairs and the
    * Σ df² pair-join bound holds (per-fingerprint pair work ≤ cap²);
    * only junction fingerprints (doc-specific, text ∥ payload
    * boundary) and the corpus's organic overlaps survive, and the
    * DuckDB oracle replays the seeded corpus exactly. Without the
    * purge this join is (n/5)²-shaped — n²-shaped at any scale. */
  def winnowOverlapSkew(spark: SparkSession, sf: String): DataFrame =
    winnowOverlapFrom(winnowSkewDocs(spark, sf))

  /** Minimum repeat length for [[substrDedup]]: k + w − 1 — exactly
    * the winnowing theorem's guarantee window, so every cross-document
    * repeat of at least this length is provably anchored by a shared
    * selected fingerprint in BOTH copies at aligned offsets.
    * Interpolated into both engines. */
  val SubstrMinLen: Int = WinnowK + WinnowW - 1

  /** q_substr_dedup: EXACT-SUBSTRING dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" —
    * the ≥-L-char cross-document repeat rule) — the fidelity step
    * past q_span_dedup's fixed 10-word chunk windows: a repeated
    * substring that straddles chunk boundaries without covering any
    * full window escapes span dedup and boilerplate removal entirely
    * (spec-proven on planted straddlers); this operator catches every
    * cross-document repeat of ≥ [[SubstrMinLen]] chars, reported as
    * per-document MERGED character spans (the byte ranges a pipeline
    * actually cuts).
    *
    * Semantics: a position is covered iff some [[SubstrMinLen]]-gram
    * through it occurs in another document — equivalently, the union
    * of all maximal cross-doc repeats of length ≥ L. The DuckDB
    * oracle replays that definition literally (brute-force L-gram
    * equality join + island merge); the ENGINE never materializes
    * L-grams: WINNOW-ANCHORED EXTEND-AND-VERIFY — fingerprint
    * collisions from the shared [[winnow]] pass seed (docA, posA,
    * docB, posB) anchors (the winnowing theorem guarantees every
    * ≥ L repeat seeds at aligned offsets), one codegen
    * `substr_extent` loop per anchor verifies chars and extends to
    * the maximal run (a hash collision dies at the verify), extents
    * below L are dropped, and per-doc interval union merges by
    * gaps-and-islands. Equality of the two formulations is exactly
    * the winnowing guarantee — this row driver-pins it.
    *
    * Scale shape: fingerprinting is the winnow map (zero shuffle);
    * the anchor join exchanges the ~2/(w+1)-density fingerprint set,
    * never text or grams; extension joins texts for anchor PAIRS only
    * and runs one O(match) primitive loop each; the island merge
    * windows per document (bounded state). The anchor join's skew
    * key is a boilerplate fingerprint — at 100 TB arm `dfCap` (the
    * [[WinnowDfCap]]-style purge on the anchor census, the
    * q_winnow_skew pattern — spec-proven on a seeded boilerplate
    * flood; the driver row runs uncapped so the oracle's literal
    * replay matches), trading recall on > cap-frequency boilerplate
    * for the Σ df² bound — that boilerplate is exactly what
    * q_boilerplate already removes wholesale. */
  def substrDedup(spark: SparkSession, sf: String): DataFrame =
    substrDedupSpansCached(spark, sf)
      .orderBy(col("doc_id"), col("span_start"))

  /** The all-copies span frame, SESSION-POOLED (r17): q_substr_scrub
    * rewrites the corpus by EXACTLY the spans q_substr_dedup reports —
    * one anchor-join + extend-and-verify pass per (dataset, session)
    * serves both the audit row and the rewrite row. */
  private def substrDedupSpansCached(spark: SparkSession,
      sf: String): DataFrame =
    graft.CachePool.sessionCheckpoint("substr-dedup-spans", spark, sf) {
      substrDedupFrom(Tables.load(spark, sf, "documents")
        .select(col("doc_id"), col("text")),
        fps = Some(substrFpSetCached(spark, sf)))
    }

  /** Corpus-level positioned fingerprint census, SESSION-POOLED
    * (r17): q_substr_dedup, q_substr_scrub, q_substr_keep_first and
    * q_substr_scrub_first each derived the same WinnowPack census
    * over the full corpus — one pass per (dataset, session), each
    * kernel's anchor self-join (its own measurement) reads the
    * checkpointed (doc_id, pos, fp) longs. Safe to share one key
    * across kernels (unlike the r15 CachePool.swap advisory: the
    * session memo never unpersists on re-request, so one kernel
    * cannot strip the frame behind another's still-lazy result). */
  private def substrFpSetCached(spark: SparkSession, sf: String): DataFrame =
    graft.CachePool.sessionCheckpoint("substr-fpset", spark, sf) {
      // repartition to session parallelism BEFORE the winnow_pack
      // explode (r18): the documents scan is one partition per fixture
      // file, so the census's per-char fingerprint hashing — the
      // expensive map stage — otherwise runs on a single task (the
      // shingledCached finding; see the 8× scaling artifact)
      val n = math.max(1, spark.sparkContext.defaultParallelism)
      substrFpSet(Tables.load(spark, sf, "documents")
        .select(col("doc_id"), col("text"))
        .repartition(n, col("doc_id")))
    }

  /** Positioned winnow fingerprints — the anchor seeds shared by the
    * whole substring family (batch, cross-set, delta, streaming). */
  private[graft] def substrFpSet(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(graft.functions.ArrayOps.winnow_pack(col("text"),
          WinnowK, WinnowW, WinnowBase, WinnowMod)).as("packed"))
      .select(col("doc_id"),
        expr(s"packed div ${1L << 31}L").as("pos"),
        expr(s"packed % ${1L << 31}L").as("fp"))

  /** The [[WinnowDfCap]]-style skew purge on an anchor fingerprint
    * frame: fingerprints present in more than `cap` DISTINCT
    * documents are corpus boilerplate AND the anchor join's skew
    * keys — dropping them before pairing bounds per-fingerprint pair
    * work at cap² (Σ df² with df ≤ cap). `None` keeps exact
    * semantics — what the DuckDB oracles replay literally. */
  private def capAnchorFps(fps: DataFrame, cap: Option[Long]): DataFrame =
    cap match {
      case Some(c) =>
        val census = fps.groupBy(col("fp"))
          .agg(countDistinct(col("doc_id")).as("df"))
        fps.join(census.filter(col("df") <= c).select(col("fp")), "fp")
      case None => fps
    }

  private[graft] def substrDedupFrom(docs: DataFrame,
      dfCap: Option[Long] = None,
      fps: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // winnow fingerprints WITH positions (the anchor seeds). Default
    // path (specs, ad-hoc frames): persisted through the generational
    // pool — both sides of the anchor self-join read it, per-call-site
    // key (r15 advisory). Corpus path (r17): the caller passes the
    // session-pooled census ([[substrFpSetCached]]) — already
    // checkpointed, no per-invocation persist needed.
    val fpsC = fps.map(capAnchorFps(_, dfCap)).getOrElse(
      graft.CachePool.swap("substr-dedup-anchor-fps",
        capAnchorFps(substrFpSet(docs), dfCap)).head)
    val anchors = fpsC.select(col("fp"), col("doc_id").as("doc_a"),
        col("pos").as("pa"))
      .join(fpsC.select(col("fp"), col("doc_id").as("doc_b"),
        col("pos").as("pb")), "fp")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("pa"), col("doc_b"), col("pb"))
    val txt = docs.select(col("doc_id"), col("text"))
    val extents = anchors
      .join(txt.select(col("doc_id").as("doc_a"), col("text").as("ta")),
        "doc_a")
      .join(txt.select(col("doc_id").as("doc_b"), col("text").as("tb")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        graft.functions.ArrayOps.substr_extent(col("ta"), col("tb"),
          col("pa"), col("pb"), WinnowK).as("e"))
      .filter(element_at(col("e"), 3) >= SubstrMinLen.toLong)
      .select(col("doc_a"), col("doc_b"),
        element_at(col("e"), 1).as("sa"),
        element_at(col("e"), 2).as("sb"),
        element_at(col("e"), 3).as("len"))
      // many anchors inside one repeat extend to the same extent
      .dropDuplicates("doc_a", "doc_b", "sa", "sb", "len")
    // per-doc intervals from BOTH sides of each extent
    val intervals = extents
      .select(col("doc_a").as("doc_id"), col("sa").as("s"),
        (col("sa") + col("len")).as("e"))
      .unionByName(extents.select(col("doc_b").as("doc_id"),
        col("sb").as("s"), (col("sb") + col("len")).as("e")))
      .distinct()
    mergeSpans(intervals)
  }

  /** Gaps-and-islands union of (doc_id, s, e) intervals per document:
    * a new span starts where s exceeds the running max end of
    * everything before it. Windows per document — bounded state.
    * Shared by [[substrDedupFrom]] and [[substrSpansAcross]]. */
  private def mergeSpans(intervals: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("s"), col("e"))
    intervals
      .withColumn("new_span",
        when(col("s") > coalesce(
          max(col("e")).over(byDoc.rowsBetween(Window.unboundedPreceding,
            -1)), lit(-1L)), 1L).otherwise(0L))
      .withColumn("span", sum(col("new_span")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("span"))
      .agg(min(col("s")).as("span_start"), max(col("e")).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_chars"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  /** CROSS-SET substring spans: regions of `corpus` documents covered
    * by a ≥ [[SubstrMinLen]]-char substring shared with ANY
    * `reference` document — [[substrDedupFrom]]'s kernel with the
    * anchor join restricted to corpus × reference (coverage reported
    * on the corpus side only). Same winnow-anchored extend-and-verify,
    * same guarantee: the winnowing theorem is a property of the
    * matching substring, indifferent to which set each copy lives in.
    * `dfCap` arms the [[capAnchorFps]] skew purge on BOTH sides'
    * censuses (a boilerplate fingerprint must exceed the cap on
    * either side to flood the join) — None for the driver rows, whose
    * oracles replay the uncapped semantics literally. */
  private[graft] def substrSpansAcross(corpus: DataFrame,
      reference: DataFrame,
      pairFilter: Column = lit(true),
      dfCap: Option[Long] = None): DataFrame =
    substrSpansAgainstIndex(corpus, capAnchorFps(substrFpSet(corpus), dfCap),
      capAnchorFps(substrFpSet(reference), dfCap),
      reference.select(col("doc_id"), col("text")), pairFilter)

  /** The cross-set span kernel with the REFERENCE side handed in as a
    * prebuilt (doc_id, pos, fp) index + (doc_id, text) store — shared
    * by [[substrSpansAcross]] (which fingerprints both sides inline)
    * and the streaming twin's per-delivery probe of its persistent
    * index ([[graft.streaming.DocStream]]), so stream and batch run
    * ONE kernel. The extension join touches only anchor-HIT reference
    * docs (the anchor join's doc_b set), never the whole store. */
  private[graft] def substrSpansAgainstIndex(corpus: DataFrame,
      corpusFps: DataFrame, idxFps: DataFrame, idxTexts: DataFrame,
      pairFilter: Column = lit(true)): DataFrame = {
    val anchors = corpusFps
      .select(col("fp"), col("doc_id").as("doc_a"), col("pos").as("pa"))
      .join(idxFps
        .select(col("fp"), col("doc_id").as("doc_b"), col("pos").as("pb")),
        "fp")
      .filter(pairFilter)
      .select(col("doc_a"), col("pa"), col("doc_b"), col("pb"))
    val extents = anchors
      .join(corpus.select(col("doc_id").as("doc_a"), col("text").as("ta")),
        "doc_a")
      .join(idxTexts.select(col("doc_id").as("doc_b"),
        col("text").as("tb")), "doc_b")
      .select(col("doc_a"),
        graft.functions.ArrayOps.substr_extent(col("ta"), col("tb"),
          col("pa"), col("pb"), WinnowK).as("e"))
      .filter(element_at(col("e"), 3) >= SubstrMinLen.toLong)
      .select(col("doc_a").as("doc_id"),
        element_at(col("e"), 1).as("s"),
        (element_at(col("e"), 1) + element_at(col("e"), 3)).as("e"))
      .distinct()
    mergeSpans(extents)
  }

  /** q_decontaminate: BENCHMARK DECONTAMINATION — the span audit of
    * train-split documents against the TEST split (the GPT-3/PaLM
    * "remove eval n-grams from training data" rule, at exact-substring
    * fidelity): every region of a train document covered by a
    * ≥ [[SubstrMinLen]]-char substring that also appears in any test
    * document, as merged character spans. The split is the shared
    * content-hash 80/10/10 ([[Corpus.splitAssignDf]] — one
    * definition, so this row, q_contamination's near-dup audit, and
    * the split itself can never disagree about membership); where
    * q_contamination flags whole near-dup PAIRS across splits, this
    * catches the partial leaks — a quoted eval passage inside an
    * otherwise-novel train doc — that document-level similarity
    * misses. [[decontaminateScrub]] applies the cut.
    *
    * Scale: the reference (eval) side is tiny in any real deployment,
    * so the anchor join is fingerprints × (small set) — at 100 TB the
    * eval fingerprint set broadcasts and the whole audit is a
    * map-side probe of the train scan. */
  def decontaminate(spark: SparkSession, sf: String): DataFrame =
    decontaminateSpansCached(spark, sf)
      .orderBy(col("doc_id"), col("span_start"))

  /** The contaminated-span frame, SESSION-POOLED (r17):
    * q_decontaminate_scrub rewrites by EXACTLY the spans
    * q_decontaminate reports — one train×eval cross-kernel pass per
    * (dataset, session) serves the audit and the rewrite. */
  private def decontaminateSpansCached(spark: SparkSession,
      sf: String): DataFrame =
    graft.CachePool.sessionCheckpoint("decontaminate-spans", spark, sf) {
      val (train, test) = decontaminateSides(spark, sf)
      substrSpansAcross(train, test)
    }

  private def decontaminateSides(spark: SparkSession,
      sf: String): (DataFrame, DataFrame) = {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val labeled = docs.join(
      graft.operators.Corpus.splitAssignDf(docs)
        .select(col("doc_id"), col("split")), "doc_id")
    (labeled.filter(col("split") === "train").select(col("doc_id"),
        col("text")),
      labeled.filter(col("split") === "test").select(col("doc_id"),
        col("text")))
  }

  /** q_substr_keep_first: the KEEP-ONE-COPY span report — Lee et
    * al.'s actual dedup semantics, where [[substrDedup]] audits every
    * copy: a region of document X is cut-eligible iff a ≥
    * [[SubstrMinLen]]-char substring through it also appears in a
    * SMALLER-id document (the global first-occurrence rule, the
    * [[Dedup.spanDedup]] owner convention at exact-substring
    * fidelity). The minimum-id holder of every repeat keeps its copy
    * untouched, so scrubbing by these spans removes duplicate mass
    * while PRESERVING one occurrence of the content corpus-wide —
    * the transformation a training pipeline actually applies, vs the
    * conservative all-copies [[substrScrub]]. Same cross-kernel with
    * the `doc_b < doc_a` pair predicate (which also excludes
    * self-pairs); within-doc internal repeats are out of scope by the
    * same cross-doc rule as the audit. */
  def substrKeepFirst(spark: SparkSession, sf: String): DataFrame =
    substrKeepFirstSpansCached(spark, sf)
      .orderBy(col("doc_id"), col("span_start"))

  /** The keep-first span frame, SESSION-POOLED (r17):
    * q_substr_scrub_first rewrites by EXACTLY the spans
    * q_substr_keep_first reports — one cross-kernel pass per
    * (dataset, session) serves both rows. Census side: one
    * WinnowPack pass ([[substrFpSetCached]]) serves both sides of
    * the anchor join instead of fingerprinting the corpus twice. */
  private def substrKeepFirstSpansCached(spark: SparkSession,
      sf: String): DataFrame =
    graft.CachePool.sessionCheckpoint("substr-keepfirst-spans", spark, sf) {
      val docs = Tables.load(spark, sf, "documents")
        .select(col("doc_id"), col("text"))
      val fps = substrFpSetCached(spark, sf)
      substrSpansAgainstIndex(docs, fps, fps, docs,
        pairFilter = col("doc_b") < col("doc_a"))
    }

  /** q_substr_scrub_first: [[substrKeepFirst]] APPLIED — the corpus
    * rewritten with every non-first copy of repeated content cut, the
    * first-occurrence holder byte-identical. Same accounting +
    * md5(clean_text) pin as [[substrScrub]]. */
  def substrScrubFirst(spark: SparkSession, sf: String): DataFrame = {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    scrubFrom(docs, substrKeepFirstSpansCached(spark, sf)
      .select(col("doc_id"), col("span_start"), col("span_end")))
  }

  /** DuckDB replay of [[substrKeepFirst]]: the brute-force definition
    * with the smaller-id predicate. */
  def substrKeepFirstOracle: String = {
    val L = SubstrMinLen
    s"""WITH d AS (
         SELECT doc_id, text, len(text) AS n FROM documents
         WHERE len(text) >= $L),
       g AS (
         SELECT doc_id, CAST(p AS BIGINT) AS p,
           substr(text, CAST(p + 1 AS INT), $L) AS gram
         FROM d, LATERAL (SELECT unnest(generate_series(0, n - $L))
           AS p) gg),
       sh AS (
         SELECT DISTINCT a.doc_id, a.p
         FROM g a JOIN g b ON a.gram = b.gram AND b.doc_id < a.doc_id),
       m AS (
         SELECT doc_id, p,
           CASE WHEN p > COALESCE(MAX(p + $L) OVER (
             PARTITION BY doc_id ORDER BY p
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
           THEN 1 ELSE 0 END AS ni
         FROM sh),
       isl AS (
         SELECT doc_id, p,
           SUM(ni) OVER (PARTITION BY doc_id ORDER BY p
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         FROM m)
       SELECT doc_id, CAST(MIN(p) AS BIGINT) AS span_start,
         CAST(MAX(p) + $L AS BIGINT) AS span_end,
         CAST(MAX(p) + $L - MIN(p) AS BIGINT) AS span_chars
       FROM isl GROUP BY doc_id, island
       ORDER BY doc_id, span_start"""
  }

  /** [[substrScrubFirst]]'s replay. */
  def substrScrubFirstOracle: String =
    scrubOracleOver(substrKeepFirstOracle)

  /** q_delta_substr: INCREMENTAL exact-substring triage — the delta
    * form that completes the substring family the way
    * [[deltaWinnow]] completes the winnow family (batch → cross-set →
    * delta): the corpus slice (doc_id below the shared 80% split) is
    * the frozen reference, and each ARRIVING document's spans covered
    * by ≥ [[SubstrMinLen]]-char corpus content are reported — the
    * audit an ingest pipeline runs per delivery before admitting
    * documents ("how much of this is verbatim something we already
    * hold, and exactly WHERE"). Same [[substrSpansAcross]] kernel as
    * decontamination with the delta framing; at scale the corpus-side
    * fingerprint index is the persisted artifact the streaming winnow
    * twins already maintain, and the extension joins the arriving
    * batch against only the anchor-hit corpus docs. */
  def deltaSubstr(spark: SparkSession, sf: String): DataFrame = {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    val w = docs.agg(floor((max(col("doc_id")) + 1) * 0.8).cast("long"))
      .head().getLong(0)
    substrSpansAcross(docs.filter(col("doc_id") >= w),
      docs.filter(col("doc_id") < w))
  }

  /** DuckDB replay of [[deltaSubstr]]: the brute-force definition
    * restricted to delta × corpus under the shared 80% id split. */
  def deltaSubstrOracle: String = {
    val L = SubstrMinLen
    s"""WITH wsp AS (
         SELECT CAST(floor((MAX(doc_id) + 1) * 0.8) AS BIGINT) AS w
         FROM documents),
       d AS (
         SELECT doc_id, text, len(text) AS n FROM documents
         WHERE len(text) >= $L),
       g AS (
         SELECT doc_id, CAST(p AS BIGINT) AS p,
           substr(text, CAST(p + 1 AS INT), $L) AS gram
         FROM d, LATERAL (SELECT unnest(generate_series(0, n - $L))
           AS p) gg),
       sh AS (
         SELECT DISTINCT a.doc_id, a.p
         FROM g a JOIN g b ON a.gram = b.gram, wsp
         WHERE a.doc_id >= wsp.w AND b.doc_id < wsp.w),
       m AS (
         SELECT doc_id, p,
           CASE WHEN p > COALESCE(MAX(p + $L) OVER (
             PARTITION BY doc_id ORDER BY p
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
           THEN 1 ELSE 0 END AS ni
         FROM sh),
       isl AS (
         SELECT doc_id, p,
           SUM(ni) OVER (PARTITION BY doc_id ORDER BY p
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         FROM m)
       SELECT doc_id, CAST(MIN(p) AS BIGINT) AS span_start,
         CAST(MAX(p) + $L AS BIGINT) AS span_end,
         CAST(MAX(p) + $L - MIN(p) AS BIGINT) AS span_chars
       FROM isl GROUP BY doc_id, island
       ORDER BY doc_id, span_start"""
  }

  /** q_decontaminate_scrub: the decontamination APPLIED — the whole
    * corpus rewritten with [[decontaminate]]'s spans cut from the
    * train docs (val/test docs pass through untouched, so the output
    * is the complete post-decontamination corpus), with the same
    * accounting + md5(clean_text) pin as [[substrScrub]]. */
  def decontaminateScrub(spark: SparkSession, sf: String): DataFrame = {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    scrubFrom(docs, decontaminateSpansCached(spark, sf)
      .select(col("doc_id"), col("span_start"), col("span_end")))
  }

  /** q_substr_scrub: APPLY [[substrDedup]]'s spans — rewrite every
    * document with its cross-document repeated regions CUT OUT, the
    * enforcement step the span report exists to feed. This is the
    * conservative scrub form (every copy removed — the C4
    * boilerplate posture: content repeated across documents at
    * ≥ [[SubstrMinLen]] chars is template/license/quote mass whose
    * every occurrence pollutes training); the keep-one-copy variant
    * assigns each repeat family a global owner (the
    * [[Dedup.spanDedup]] first-occurrence rule) over the same spans.
    * Output is per-document accounting plus `md5(clean_text)` — the
    * fingerprint pins the REASSEMBLED text byte-for-byte in both
    * engines without hauling full texts through the compare.
    *
    * Shape: spans come from the substr kernel; the rewrite is one
    * per-doc window (lag over a doc's own spans — bounded state), one
    * per-doc ordered agg assembling surviving segments, and one
    * narrow join back to the text. Nothing corpus-sized leaves its
    * partition unaggregated. */
  def substrScrub(spark: SparkSession, sf: String): DataFrame = {
    val docs = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text"))
    // pooled spans (r17): the rewrite cuts exactly the audit row's
    // span frame — served from the session checkpoint, not re-derived
    scrubFrom(docs, substrDedupSpansCached(spark, sf)
      .select(col("doc_id"), col("span_start"), col("span_end")))
  }

  /** The rewrite kernel: cut `spans` out of `docs` and report the
    * accounting + reassembled-text fingerprint — shared by
    * [[substrScrub]] (all cross-doc repeats) and
    * [[decontaminateScrub]] (eval-shared spans only). */
  private def scrubFrom(docs: DataFrame, spans: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("span_start"))
    // the surviving segment BEFORE each span: (prev span end, start)
    val segs = spans
      .withColumn("s0",
        coalesce(lag(col("span_end"), 1).over(byDoc), lit(0L)))
      .join(docs, "doc_id")
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("s0"),
        expr("substring(text, cast(s0 + 1 as int), " +
          "cast(span_start - s0 as int))").as("seg"))
    val perDoc = segs.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_end") - col("span_start")).as("cut_chars"),
        max(col("span_end")).as("last_end"),
        array_join(transform(
          sort_array(collect_list(struct(col("s0"), col("seg")))),
          s => s.getField("seg")), "").as("head_text"))
    docs.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("cut_chars"), lit(0L)).as("cut_chars"),
        (length(col("text")) - coalesce(col("cut_chars"), lit(0L)))
          .cast("long").as("kept_chars"),
        md5(concat(coalesce(col("head_text"), lit("")),
          expr("substring(text, cast(coalesce(last_end, 0) + 1 as int), " +
            "length(text))"))).as("clean_fp"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB replay of [[decontaminate]]: the same brute-force L-gram
    * definition restricted to train × test (the interpolated
    * content-hash split — the q_split_assign expression verbatim),
    * coverage on the train side, same island merge. */
  def decontaminateOracle: String = {
    val L = SubstrMinLen
    s"""WITH d AS (
         SELECT doc_id, text, len(text) AS n,
           CASE WHEN ('0x' || substring(md5(text), 1, 8))::BIGINT % 1000
                  < 800 THEN 'train'
                WHEN ('0x' || substring(md5(text), 1, 8))::BIGINT % 1000
                  < 900 THEN 'val'
                ELSE 'test' END AS split
         FROM documents WHERE len(text) >= $L),
       g AS (
         SELECT doc_id, split, CAST(p AS BIGINT) AS p,
           substr(text, CAST(p + 1 AS INT), $L) AS gram
         FROM d, LATERAL (SELECT unnest(generate_series(0, n - $L))
           AS p) gg),
       sh AS (
         SELECT DISTINCT a.doc_id, a.p
         FROM g a JOIN g b ON a.gram = b.gram
           AND a.split = 'train' AND b.split = 'test'),
       m AS (
         SELECT doc_id, p,
           CASE WHEN p > COALESCE(MAX(p + $L) OVER (
             PARTITION BY doc_id ORDER BY p
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
           THEN 1 ELSE 0 END AS ni
         FROM sh),
       isl AS (
         SELECT doc_id, p,
           SUM(ni) OVER (PARTITION BY doc_id ORDER BY p
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         FROM m)
       SELECT doc_id, CAST(MIN(p) AS BIGINT) AS span_start,
         CAST(MAX(p) + $L AS BIGINT) AS span_end,
         CAST(MAX(p) + $L - MIN(p) AS BIGINT) AS span_chars
       FROM isl GROUP BY doc_id, island
       ORDER BY doc_id, span_start"""
  }

  /** DuckDB replay of [[substrScrub]]: the span oracle as a derived
    * table, the same lag-segment reassembly via ordered string_agg,
    * md5 over the identical byte sequence. */
  def substrScrubOracle: String = scrubOracleOver(substrDedupOracle)

  /** [[decontaminateScrub]]'s replay — the same reassembly over the
    * decontamination spans. */
  def decontaminateScrubOracle: String =
    scrubOracleOver(decontaminateOracle)

  private def scrubOracleOver(spansSql: String): String =
    s"""WITH spans AS ($spansSql),
       segs AS (
         SELECT s.doc_id, s.span_start, s.span_end,
           COALESCE(lag(s.span_end) OVER (PARTITION BY s.doc_id
             ORDER BY s.span_start), 0) AS s0
         FROM spans s),
       perdoc AS (
         SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(g.span_end - g.span_start) AS BIGINT) AS cut_chars,
           MAX(g.span_end) AS last_end,
           string_agg(substr(d.text, CAST(g.s0 + 1 AS INT),
             CAST(g.span_start - g.s0 AS INT)), '' ORDER BY g.s0)
             AS head_text
         FROM segs g JOIN documents d USING (doc_id)
         GROUP BY g.doc_id)
       SELECT d.doc_id,
         COALESCE(p.n_spans, 0) AS n_spans,
         COALESCE(p.cut_chars, 0) AS cut_chars,
         CAST(len(d.text) - COALESCE(p.cut_chars, 0) AS BIGINT)
           AS kept_chars,
         md5(COALESCE(p.head_text, '') ||
           substr(d.text, CAST(COALESCE(p.last_end, 0) + 1 AS INT)))
           AS clean_fp
       FROM documents d LEFT JOIN perdoc p USING (doc_id)
       ORDER BY d.doc_id"""

  /** DuckDB replay of [[substrDedup]]'s DEFINITION (not its
    * algorithm): brute-force L-gram equality across documents, then
    * the same island merge — the engine's winnow-anchored extension
    * must land on exactly these spans. */
  def substrDedupOracle: String = {
    val L = SubstrMinLen
    s"""WITH d AS (
         SELECT doc_id, text, len(text) AS n FROM documents
         WHERE len(text) >= $L),
       g AS (
         SELECT doc_id, CAST(p AS BIGINT) AS p,
           substr(text, CAST(p + 1 AS INT), $L) AS gram
         FROM d, LATERAL (SELECT unnest(generate_series(0, n - $L))
           AS p) gg),
       sh AS (
         SELECT DISTINCT a.doc_id, a.p
         FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id != b.doc_id),
       m AS (
         SELECT doc_id, p,
           CASE WHEN p > COALESCE(MAX(p + $L) OVER (
             PARTITION BY doc_id ORDER BY p
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
           THEN 1 ELSE 0 END AS ni
         FROM sh),
       isl AS (
         SELECT doc_id, p,
           SUM(ni) OVER (PARTITION BY doc_id ORDER BY p
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         FROM m)
       SELECT doc_id, CAST(MIN(p) AS BIGINT) AS span_start,
         CAST(MAX(p) + $L AS BIGINT) AS span_end,
         CAST(MAX(p) + $L - MIN(p) AS BIGINT) AS span_chars
       FROM isl GROUP BY doc_id, island
       ORDER BY doc_id, span_start"""
  }

  /** The winnow SELECTION CTE chain (d → h → mn → st → sel): per-
    * position polynomial hashes (the rolling recurrence unrolled to
    * its closed form — Σ ord·Bᵉ mod M), frame-window minima, rightmost
    * argmin per window start. Shared STRUCTURALLY by [[winnowOracle]],
    * [[deltaWinnowOracle]], [[winnowOverlapOracle]] and the seeded
    * skew variant — composed, never carved out of a finished SQL
    * string, so an edit here reaches every derived oracle and no
    * oracle can silently corrupt on a token collision. `docsRel` is
    * the relation (or parenthesized subquery aliased to nothing)
    * supplying (doc_id, text). */
  private[graft] def winnowSelectionCtes(
      docsRel: String = "documents"): String = {
    val terms = (0 until WinnowK).map { j =>
      val p = (0 until (WinnowK - 1 - j))
        .foldLeft(1L)((acc, _) => acc * WinnowBase % WinnowMod)
      s"ord(substr(text, CAST(p + ${j + 1} AS INT), 1)) * ${p}::BIGINT"
    }.mkString("(", " + ", ")")
    s"""WITH d AS (
         SELECT doc_id, text, len(text) AS n FROM $docsRel
         WHERE len(text) >= $WinnowK),
       h AS (
         SELECT doc_id, CAST(p AS BIGINT) AS pos,
           $terms % $WinnowMod AS fp,
           n - $WinnowK + 1 AS m
         FROM d, LATERAL (SELECT unnest(generate_series(0, n - $WinnowK))
           AS p) g),
       mn AS (
         SELECT doc_id, pos AS s, m,
           MIN(fp) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS wmin
         FROM h),
       st AS (SELECT doc_id, s, wmin, m FROM mn
              WHERE s <= greatest(m - $WinnowW, 0)),
       sel AS (
         SELECT st.doc_id, MAX(h2.pos) AS pos, st.wmin AS fp
         FROM st JOIN h h2 ON h2.doc_id = st.doc_id
           AND h2.pos BETWEEN st.s
             AND least(st.s + ${WinnowW - 1}, st.m - 1)
           AND h2.fp = st.wmin
         GROUP BY st.doc_id, st.s, st.wmin)"""
  }

  /** DuckDB replay of [[winnow]]: the selection CTEs, then distinct
    * selections. Winnowing selections are monotone non-decreasing in
    * position (the rightmost-tie rule), so DISTINCT equals the
    * engine's consecutive-window dedup. */
  def winnowOracle: String =
    s"""${winnowSelectionCtes()}
       SELECT DISTINCT doc_id, CAST(pos AS BIGINT) AS pos,
         CAST(fp AS BIGINT) AS fp
       FROM sel ORDER BY doc_id, pos"""

  /** q_delta_winnow: incremental substring-overlap classification at
    * ingest — the MOSS analog of [[Dedup.deltaNearDup]], completing
    * the winnowing family's delta story: the corpus slice (doc_id
    * below the 80% split) is the fingerprint INDEX — its
    * [[WinnowDfCap]]-purged (doc, fp) set, the artifact a production
    * pipeline persists bucketed on fp — and each arriving document
    * probes it by fingerprint equality. A batch doc sharing ≥
    * [[WinnowMinShared]] fingerprints with some corpus doc classifies
    * `overlap_of_corpus` with its best partner (most shared, ties to
    * the smaller id); anything else is `new`. Purge df is computed on
    * the CORPUS side only — the index's own statistic; a delivery
    * cannot retroactively reweight it.
    *
    * Scale shape: probing is one fp-equality join against the index
    * (O(collisions), never a corpus scan), the per-doc best partner
    * is a partial-aggregable max over a packed (n_shared, −partner)
    * struct — no window, no driver state. */
  /** Histogram buckets for [[textDrift]] — quality scores land in
    * (−0.2, 0.8), so floor(score·20) covers ~(−4, 16) in 20 integer
    * cells. The composite is bit-identical cross-engine (the
    * q_quality pin), so bucketing its double is deterministic. */
  val DriftBucketScale = 20

  /** q_text_drift: distribution-shift report between the corpus slice
    * (doc_id below the 80% split — the frozen reference) and the new
    * delivery, over the quality-score histogram — the text-feature
    * drift monitor next to q_stream_embed_drift's embedding centroid:
    * a crawl whose quality distribution walks (template flood, spam
    * wave, encoding regression) shows up as per-bucket share deltas
    * before any downstream gate moves. One row per occupied bucket:
    * both counts, both shares in integer PER-MILLE (count·1000 div
    * total — engine-exact, no float division), and the absolute
    * share delta; the max delta row is the Kolmogorov-style alarm
    * statistic, left to the reader/alerting layer.
    *
    * Scale shape: two narrow aggregations over one scored projection
    * (the bucket key is a map); output bounded by the bucket count.
    * FULL OUTER on bucket so a bucket present on only one side still
    * reports (share 0 on the other — exactly the novel-mass signal).
    */
  def textDrift(spark: SparkSession, sf: String): DataFrame = {
    val docs = Tables.load(spark, sf, "documents")
    val w = docs.agg(floor((max(col("doc_id")) + 1) * 0.8).cast("long"))
      .head().getLong(0)
    // ONE corpus scan: both sides' bucket censuses come out of a
    // single (side, bucket) partial agg; everything downstream is
    // bucket-count-sized (plan-audited — the two-filtered-branch form
    // re-scanned the scored projection four times)
    val counts = graft.CachePool.swapOne("text-drift-counts",
      qualityScoredDf(docs)
        .select((col("doc_id") >= w).as("is_new"),
          floor(col("quality_score") * DriftBucketScale).cast("long")
            .as("bucket"))
        .groupBy(col("is_new"), col("bucket")).agg(count(lit(1)).as("n")))
    def sideCounts(isNew: Boolean, n: String) = {
      val c = counts.filter(col("is_new") === isNew)
        .select(col("bucket"), col("n").as(n))
      val t = c.agg(sum(col(n)).as(s"${n}_total"))
      c.crossJoin(broadcast(t))
    }
    val ref = sideCounts(isNew = false, "n_ref")
    val nw = sideCounts(isNew = true, "n_new")
    ref.join(nw, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        expr("coalesce(n_ref, 0) * 1000 div greatest(coalesce(n_ref_total, 1), 1)"),
        expr("coalesce(n_new, 0) * 1000 div greatest(coalesce(n_new_total, 1), 1)"))
      .toDF("bucket", "n_ref", "n_new", "share_ref_pm", "share_new_pm")
      .withColumn("delta_pm",
        abs(col("share_ref_pm") - col("share_new_pm")))
      .orderBy(col("bucket"))
  }

  /** Distinct (doc_id, fp) winnowing fingerprint set of an arbitrary
    * (doc_id, text) frame — shared by [[deltaWinnow]] and the
    * streaming twin ([[graft.streaming.DocStream.winnowViaStream]]),
    * so the batch and incremental paths can never drift. */
  private[graft] def winnowFpSet(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(graft.functions.ArrayOps.winnow_pack(col("text"),
          WinnowK, WinnowW, WinnowBase, WinnowMod)).as("packed"))
      .select(col("doc_id"), expr(s"packed % ${1L << 31}L").as("fp"))
      .distinct()

  /** Distinct corpus fingerprint set, SESSION-POOLED (r17): the fp
    * projection of the SAME positioned census the substring family
    * pools ([[substrFpSetCached]] — identical winnow_pack
    * parameters), so the winnow and substring families share ONE
    * corpus fingerprint pass per (dataset, session). Consumers:
    * q_winnow_overlap, q_delta_winnow, the persisted-index publish
    * ([[graft.operators.IndexStore.saveWinnow]]). The per-delivery /
    * seeded-skew frames keep computing their own (different inputs). */
  private[graft] def winnowFpSetCached(spark: SparkSession,
      sf: String): DataFrame =
    graft.CachePool.sessionCheckpoint("winnow-fpset", spark, sf) {
      substrFpSetCached(spark, sf).select(col("doc_id"), col("fp"))
        .distinct()
    }

  /** Classification of a batch's fingerprint set against an index
    * fingerprint set — the probe kernel shared by [[deltaWinnow]]
    * (index = the corpus slice) and the streaming twin (index = the
    * persisted store grown per delivery). Returns one row per id in
    * `batchIds`. */
  private[graft] def classifyAgainstIndex(batchIds: DataFrame,
      batchFps: DataFrame, indexFps: DataFrame): DataFrame = {
    val dfc = indexFps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= WinnowDfCap).select(col("fp"))
    val index = indexFps.join(dfc, "fp")
      .select(col("fp"), col("doc_id").as("corpus_id"))
    val shared = batchFps.join(index, "fp")
      .groupBy(col("doc_id"), col("corpus_id"))
      .agg(count(lit(1)).as("n_shared"))
    val best = shared
      .groupBy(col("doc_id"))
      .agg(max(struct(col("n_shared"), (-col("corpus_id")).as("neg")))
        .as("b"))
      .select(col("doc_id"), col("b.n_shared").as("n_shared"),
        (-col("b.neg")).as("partner"))
    batchIds.join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("n_shared") >= WinnowMinShared, lit("overlap_of_corpus"))
          .otherwise(lit("new")).as("status"),
        when(col("n_shared") >= WinnowMinShared, col("partner"))
          .otherwise(lit(-1L)).as("matched_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
  }

  def deltaWinnow(spark: SparkSession, sf: String): DataFrame = {
    val docs = Tables.load(spark, sf, "documents")
    val w = docs.agg(floor((max(col("doc_id")) + 1) * 0.8).cast("long"))
      .head().getLong(0)
    val fps = winnowFpSetCached(spark, sf)
    classifyAgainstIndex(
      docs.select(col("doc_id")).filter(col("doc_id") >= w),
      fps.filter(col("doc_id") >= w),
      fps.filter(col("doc_id") < w))
      .orderBy(col("doc_id"))
  }

  /** DuckDB replay of [[deltaWinnow]]: the winnow selection CTEs,
    * corpus-side df purge, fp-equality probe, and the
    * (n_shared DESC, corpus_id) best-partner rule. */
  def deltaWinnowOracle: String =
    s"""${winnowSelectionCtes()},
       fps AS (SELECT DISTINCT doc_id, fp FROM sel),
       wsp AS (SELECT CAST(floor((MAX(doc_id) + 1) * 0.8) AS BIGINT) AS w
               FROM documents),
       corpus AS (SELECT f.doc_id, f.fp FROM fps f, wsp WHERE f.doc_id < w),
       dfc AS (SELECT fp FROM corpus GROUP BY fp
               HAVING COUNT(*) <= $WinnowDfCap),
       idx AS (SELECT c.fp, c.doc_id AS corpus_id
               FROM corpus c JOIN dfc USING (fp)),
       shared AS (
         SELECT f.doc_id, i.corpus_id, CAST(COUNT(*) AS BIGINT) AS n_shared
         FROM fps f
         JOIN idx i ON i.fp = f.fp
         CROSS JOIN wsp
         WHERE f.doc_id >= w
         GROUP BY f.doc_id, i.corpus_id),
       best AS (
         SELECT doc_id, corpus_id, n_shared,
           ROW_NUMBER() OVER (PARTITION BY doc_id
             ORDER BY n_shared DESC, corpus_id) AS rk
         FROM shared)
       SELECT d.doc_id,
         CASE WHEN b.n_shared >= $WinnowMinShared
           THEN 'overlap_of_corpus' ELSE 'new' END AS status,
         CAST(CASE WHEN b.n_shared >= $WinnowMinShared
           THEN b.corpus_id ELSE -1 END AS BIGINT) AS matched_id,
         CAST(COALESCE(b.n_shared, 0) AS BIGINT) AS n_shared
       FROM (SELECT doc_id FROM documents, wsp WHERE doc_id >= w) d
       LEFT JOIN (SELECT * FROM best WHERE rk = 1) b USING (doc_id)
       ORDER BY d.doc_id"""

  /** DuckDB replay of [[winnowOverlap]]: the same selection CTEs, the
    * df-cap purge, and the shared-count floor. `docsRel` threads
    * through to [[winnowSelectionCtes]] (the seeded skew variant
    * fingerprints a perturbed corpus). */
  def winnowOverlapOracle(docsRel: String = "documents"): String =
    s"""${winnowSelectionCtes(docsRel)},
       fps AS (SELECT DISTINCT doc_id, fp FROM sel),
       dfc AS (SELECT fp FROM fps GROUP BY fp
               HAVING COUNT(*) <= $WinnowDfCap),
       kept AS (SELECT f.doc_id, f.fp FROM fps f JOIN dfc USING (fp))
       SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
       FROM kept a JOIN kept b
         ON a.fp = b.fp AND a.doc_id < b.doc_id
       GROUP BY 1, 2
       HAVING COUNT(*) >= $WinnowMinShared
       ORDER BY doc_a, doc_b"""

  /** The q_quality composite score over a `(doc_id, text, t)` scope
    * (t = whitespace-split lowered tokens) — ONE definition for the
    * three oracles that rank by it (q_quality, q_quality_gate,
    * q_cluster_balance), mirroring the single engine-side
    * `qualityScoredDf`. */
  private[graft] lazy val QualityScoreSql: String =
    """(CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE)) * CAST(0.5 AS DOUBLE)
             + (CAST(len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
                / CAST(len(t) AS DOUBLE)) * CAST(0.3 AS DOUBLE)
             - (CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
                / CAST(greatest(length(text), 1) AS DOUBLE)) * CAST(0.2 AS DOUBLE)"""

  /** The trained-NB-model CTE block (docs→classes, no WITH prefix) —
    * shared by [[NbScoredCtes]] (holdout scoring) and the q_curate_v2
    * oracle (gate-survivor scoring): one model replay, two test
    * slices, zero drift. */
  private[graft] lazy val NbModelCtes: String =
    s"""docs AS (
           SELECT doc_id, source,
             regexp_extract_all(lower(text), '[a-z]+') AS t
           FROM documents),
         train AS (SELECT * FROM docs
                   WHERE (doc_id // ${NbSplitBlock})
                     % ${NbSplitMod} != 0),
         tt AS (SELECT source, unnest(t) AS w FROM train),
         counts AS (SELECT source, w, COUNT(*) AS cnt FROM tt GROUP BY 1, 2),
         ctok AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS class_tokens
                  FROM counts GROUP BY 1),
         voc AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM counts),
         pri AS (SELECT source, COUNT(*) AS class_docs FROM train GROUP BY 1),
         tot AS (SELECT COUNT(*) AS total_docs FROM train),
         classes AS (
           SELECT ctok.source AS cls, class_tokens,
             CAST(length(bin(total_docs // class_docs)) AS BIGINT)
               AS prior_bits, v
           FROM ctok JOIN pri USING (source) CROSS JOIN tot CROSS JOIN voc)"""

  /** Naive Bayes trained-model replay up to the per-(doc, class) bit
    * grid (`scored`) — the shared prefix of the argmin oracles
    * ([[NbPredCtes]]) and the margin-calibration oracle
    * (q_nb_reliability): one model, six oracles, zero drift. */
  private lazy val NbScoredCtes: String =
    s"""WITH $NbModelCtes,
         test AS (SELECT doc_id, source AS true_source, t FROM docs
                  WHERE (doc_id // ${NbSplitBlock})
                    % ${NbSplitMod} = 0),
         tok AS (SELECT doc_id, unnest(t) AS w FROM test),
         tb AS (
           SELECT doc_id, cls,
             CAST(SUM(length(bin(
               (class_tokens + v) // (COALESCE(cnt, 0) + 1)))) AS BIGINT)
               AS token_bits
           FROM tok CROSS JOIN classes
           LEFT JOIN counts ON counts.source = classes.cls
             AND counts.w = tok.w
           GROUP BY 1, 2),
         grid AS (SELECT doc_id, true_source, cls, prior_bits
                  FROM test CROSS JOIN classes),
         scored AS (
           SELECT doc_id, true_source, cls,
             prior_bits + COALESCE(token_bits, 0) AS bits
           FROM grid LEFT JOIN tb USING (doc_id, cls))"""

  /** The per-doc argmin (`pred`) over the shared bit grid — shared by
    * q_nb_classify, its streaming twin q_stream_nb_classify, and the
    * two eval views q_nb_confusion / q_nb_eval. */
  private lazy val NbPredCtes: String =
    s"""$NbScoredCtes,
         pred AS (
           SELECT doc_id, true_source, cls AS pred_source,
             CAST(bits AS BIGINT) AS total_bits,
             CAST(cls = true_source AS BIGINT) AS is_correct
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY bits, cls) AS rk FROM scored)
           WHERE rk = 1)"""

  private[graft] lazy val NbClassifySql: String =
    s"""$NbPredCtes
         SELECT doc_id, true_source, pred_source, total_bits, is_correct
         FROM pred ORDER BY doc_id"""

  /** The per-doc Gopher battery replay — shared by q_gopher_rules
    * and the per-source triage aggregate q_gopher_by_source. */
  private[graft] def gopherRulesSql: String = {
      val stops = GopherStops.map(s => s"'$s'").mkString("[", ", ", "]")
      s"""WITH c AS (
           SELECT doc_id,
             len(t) AS n_words, len(l) AS n_lines,
             length(replace(text, ' ', '')) AS sum_len,
             (length(text) - length(replace(text, '#', '')))
               + (length(text) - length(replace(text, '...', ''))) // 3
               + (length(text) - length(replace(text, '…', ''))) AS n_symbols,
             len(list_filter(t, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
             len(list_filter(l, x -> regexp_matches(x, '^\\s*[-•*] ')))
               AS n_bullet,
             len(list_filter(l, x -> regexp_matches(x, '(\\.\\.\\.|…)\\s*$$')))
               AS n_ellipsis_end,
             len(list_filter($stops, s -> list_contains(t, s))) AS stop_hits
           FROM (SELECT doc_id, text,
                   string_split(lower(text), ' ') AS t,
                   string_split(text, chr(10)) AS l FROM documents)),
         r AS (
           SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
             CAST((sum_len * 1000) // n_words AS BIGINT) AS word_len_pm,
             CAST((n_symbols * 10000) // n_words AS BIGINT) AS symbol_bp,
             CAST((n_alpha * 10000) // n_words AS BIGINT) AS alpha_word_bp,
             CAST((n_bullet * 10000) // n_lines AS BIGINT) AS bullet_bp,
             CAST((n_ellipsis_end * 10000) // n_lines AS BIGINT)
               AS ellipsis_bp,
             CAST(stop_hits AS BIGINT) AS stop_hits
           FROM c)
         SELECT *, CAST((n_words >= $GopherMinWords
             AND n_words <= $GopherMaxWords
             AND word_len_pm >= $GopherMinWordLenPm
             AND word_len_pm <= $GopherMaxWordLenPm
             AND symbol_bp <= $GopherMaxSymbolBp
             AND alpha_word_bp >= $GopherMinAlphaBp
             AND bullet_bp <= $GopherMaxBulletBp
             AND ellipsis_bp <= $GopherMaxEllipsisBp
             AND stop_hits >= $GopherMinStops) AS BIGINT) AS gopher_pass
         FROM r ORDER BY doc_id"""
  }

  /** This family's rows, each beside its DuckDB oracle. */
  val rows: Seq[QueryRow] = Seq(
    QueryRow("q_regex_extract", regexExtract)(
      """SELECT event_id, event_type,
         CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS k
         FROM events WHERE event_type = 'error'
         ORDER BY event_id"""),
    QueryRow("q_json_extract", jsonExtract)(
      """SELECT event_id, event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
         FROM events
         ORDER BY event_id"""),
    // --- text analysis (north-star training-data ops)
    QueryRow("q_fingerprint", fingerprint)(
      s"""SELECT doc_id, md5($Norm) AS fingerprint,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
         FROM documents
         ORDER BY doc_id"""),
    // Winnowing fingerprints: the oracle re-derives every rolling
    // Rabin-Karp gram hash in closed form (Σ ord·Bᵉ mod M), replays
    // the frame-window minima and the rightmost-tie argmin per window
    // start — a drifted rolling update, window boundary, or tie-break
    // flips rows
    QueryRow("q_winnow", winnow)(winnowOracle),
    // Overlap verdicts off the same selection CTEs: df-cap purge
    // (boilerplate AND skew keys) + the shared-count floor
    QueryRow("q_winnow_overlap", winnowOverlap)(winnowOverlapOracle()),
    // the artifact-served twin: the overlap join over the LOADED
    // fingerprint index must equal the in-place kernel bit-for-bit
    // (exact-integer round-trip) — SAME oracle
    QueryRow("q_winnow_overlap_saved", winnowOverlapSaved)(winnowOverlapOracle()),
    QueryRow("q_winnow_skew", winnowOverlapSkew)(
      winnowOverlapOracle(
      s"(SELECT doc_id, ${winnowSkewTextSql} AS text " +
        "FROM documents) sd")),
    // the seeded-boilerplate skew receipt: the SAME overlap oracle
    // over the seeded corpus (one seeding expression, two engines)
    // Exact-substring dedup: the oracle replays the DEFINITION
    // (brute-force L-gram join + island merge); the engine's
    // winnow-anchored extend-and-verify must land on the same spans —
    // the winnowing guarantee, oracle-pinned.
    QueryRow("q_substr_dedup", substrDedup)(substrDedupOracle),
    QueryRow("q_substr_scrub", substrScrub)(substrScrubOracle),
    // keep-one-copy semantics: cut-eligible iff a smaller-id doc holds
    // the substring; the first-occurrence holder stays byte-identical
    QueryRow("q_substr_keep_first", substrKeepFirst)(substrKeepFirstOracle),
    QueryRow("q_substr_scrub_first", substrScrubFirst)(substrScrubFirstOracle),
    // benchmark decontamination: the same definition restricted to
    // train x test (the shared content-hash split), spans + applied
    // scrub both hash-pinned
    QueryRow("q_decontaminate", decontaminate)(decontaminateOracle),
    QueryRow("q_delta_substr", deltaSubstr)(deltaSubstrOracle),
    QueryRow("q_decontaminate_scrub", decontaminateScrub)(decontaminateScrubOracle),
    // Incremental ingest classification against the corpus-slice
    // fingerprint index: corpus-side df purge, fp-equality probe,
    // best-partner (most shared, ties to smaller id)
    QueryRow("q_delta_winnow", deltaWinnow)(deltaWinnowOracle),
    // Text-feature drift: the bit-identical quality composite bucketed
    // (floor ×20), both sides' counts and integer per-mille shares,
    // full-outer so one-sided buckets report novel mass explicitly
    QueryRow("q_text_drift", textDrift)(
      s"""WITH s AS (
           SELECT doc_id,
             CAST(floor(($QualityScoreSql) *
               ${DriftBucketScale}) AS BIGINT) AS bucket
           FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS t
                 FROM documents)),
         wsp AS (SELECT CAST(floor((MAX(doc_id) + 1) * 0.8) AS BIGINT) AS w
                 FROM documents),
         ref AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_ref
                 FROM s, wsp WHERE doc_id < w GROUP BY bucket),
         nw AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_new
                FROM s, wsp WHERE doc_id >= w GROUP BY bucket),
         rt AS (SELECT COALESCE(SUM(n_ref), 1) AS t FROM ref),
         nt AS (SELECT COALESCE(SUM(n_new), 1) AS t FROM nw)
         SELECT COALESCE(r.bucket, n.bucket) AS bucket,
           COALESCE(r.n_ref, 0) AS n_ref,
           COALESCE(n.n_new, 0) AS n_new,
           CAST(COALESCE(r.n_ref, 0) * 1000 // greatest(rt.t, 1)
             AS BIGINT) AS share_ref_pm,
           CAST(COALESCE(n.n_new, 0) * 1000 // greatest(nt.t, 1)
             AS BIGINT) AS share_new_pm,
           CAST(abs(COALESCE(r.n_ref, 0) * 1000 // greatest(rt.t, 1)
             - COALESCE(n.n_new, 0) * 1000 // greatest(nt.t, 1))
             AS BIGINT) AS delta_pm
         FROM ref r FULL OUTER JOIN nw n ON r.bucket = n.bucket
         CROSS JOIN rt CROSS JOIN nt
         ORDER BY bucket"""),
    QueryRow("q_token_count", tokenCount)(
      """SELECT doc_id,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_ws_tokens,
         CAST(len(list_distinct(string_split(lower(text), ' '))) AS BIGINT) AS n_distinct,
         CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS n_alpha_runs,
         CAST(length(text) AS BIGINT) AS n_chars_measured
         FROM documents
         ORDER BY doc_id"""),
    QueryRow("q_langid", langId)(
      """SELECT doc_id, lang AS lang_label,
         CASE WHEN en >= es AND en >= de AND en > 0 THEN 'en'
              WHEN es >= de AND es > 0 THEN 'es'
              WHEN de > 0 THEN 'de'
              ELSE 'unknown' END AS lang_pred
         FROM (SELECT doc_id, lang,
           len(list_filter(string_split(lower(text), ' '),
             t -> t IN ('the','a','of','and','to'))) AS en,
           len(list_filter(string_split(lower(text), ' '),
             t -> t IN ('el','la','de','y','que'))) AS es,
           len(list_filter(string_split(lower(text), ' '),
             t -> t IN ('der','die','das','und','ist'))) AS de
           FROM documents)
         ORDER BY doc_id"""),
    QueryRow("q_quality", quality)(
      s"""SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(t)) AS DOUBLE) / CAST(len(t) AS DOUBLE) AS distinct_ratio,
         CAST(length(text) - length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE)
           / CAST(greatest(length(text), 1) AS DOUBLE) AS punct_ratio,
         CAST(len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
           / CAST(len(t) AS DOUBLE) AS stopword_ratio,
         $QualityScoreSql AS quality_score
         FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS t FROM documents)
         ORDER BY doc_id"""),
    // Gopher rule battery: every signal an integer count or div ratio
    // (per-mille / bp), thresholds interpolated from the shared
    // constants — the composed pass verdict replays BIGINT-exact.
    QueryRow("q_gopher_rules", gopherRules)(gopherRulesSql),
    // The frozen-artifact LM gate: ONE oracle pins the batch gate and
    // its streaming twin (model + cut ship together; the two paths
    // must admit the identical set).
    QueryRow("q_lm_gate", lmQualityGate)(lmGateOracle),
    // the same model + frozen cut grouped per feed — admission census
    QueryRow("q_lm_gate_by_source", lmGateBySource)(lmGateBySourceOracle),
    // Per-source triage: the battery replay aggregated by source with
    // per-rule fail censuses — every census an integer comparison on
    // the battery's own columns.
    QueryRow("q_gopher_by_source", gopherBySource) {
      s"""WITH g AS (SELECT * FROM ($gopherRulesSql)),
         d AS (SELECT doc_id, source FROM documents),
         a AS (
           SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(g.gopher_pass) AS BIGINT) AS n_pass,
             CAST(SUM(CASE WHEN g.n_words >= $GopherMinWords
               AND g.n_words <= $GopherMaxWords THEN 0 ELSE 1 END)
               AS BIGINT) AS fail_words,
             CAST(SUM(CASE WHEN g.word_len_pm >= $GopherMinWordLenPm
               AND g.word_len_pm <= $GopherMaxWordLenPm THEN 0 ELSE 1 END)
               AS BIGINT) AS fail_word_len,
             CAST(SUM(CASE WHEN g.symbol_bp <= $GopherMaxSymbolBp
               THEN 0 ELSE 1 END) AS BIGINT) AS fail_symbol,
             CAST(SUM(CASE WHEN g.alpha_word_bp >= $GopherMinAlphaBp
               THEN 0 ELSE 1 END) AS BIGINT) AS fail_alpha,
             CAST(SUM(CASE WHEN g.bullet_bp <= $GopherMaxBulletBp
               THEN 0 ELSE 1 END) AS BIGINT) AS fail_bullet,
             CAST(SUM(CASE WHEN g.ellipsis_bp <= $GopherMaxEllipsisBp
               THEN 0 ELSE 1 END) AS BIGINT) AS fail_ellipsis,
             CAST(SUM(CASE WHEN g.stop_hits >= $GopherMinStops
               THEN 0 ELSE 1 END) AS BIGINT) AS fail_stops
           FROM g JOIN d USING (doc_id) GROUP BY d.source)
         SELECT source, n_docs, n_pass,
           CAST((n_pass * 10000) // n_docs AS BIGINT) AS pass_bp,
           fail_words, fail_word_len, fail_symbol, fail_alpha,
           fail_bullet, fail_ellipsis, fail_stops
         FROM a ORDER BY source"""
    },
    // Unigram surprisal: integer-exact bits via length(bin(total div
    // cnt)) = floor(log2)+1 — both engines compute the identical
    // binary-string length, no float log in either plan
    QueryRow("q_surprisal", surprisal)(
      """WITH tok AS (
           SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
           FROM documents),
         counts AS (SELECT w, count(*) AS cnt FROM tok GROUP BY w),
         tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM counts),
         scored AS (
           SELECT doc_id, length(bin(total // cnt)) AS bits
           FROM tok JOIN counts USING (w) CROSS JOIN tot)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(bits) AS BIGINT) AS total_bits,
           CAST((sum(bits) * 1000) // count(*) AS BIGINT) AS mean_millibits
         FROM scored GROUP BY doc_id ORDER BY doc_id"""),
    // Bigram surprisal: prefix counts derive from the bigram counts
    // (cnt1 = sum of cnt2 over w1), so cnt1 >= cnt2 and the integer
    // bit cost length(bin(cnt1 // cnt2)) is always >= 1
    QueryRow("q_bigram_surprisal", bigramSurprisal)(
      """WITH docs AS (
           SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t
           FROM documents),
         big AS (
           SELECT doc_id, t[i] AS w1, t[i+1] AS w2
           FROM docs, unnest(range(1, len(t))) AS u(i)
           WHERE len(t) >= 2),
         bi AS (SELECT w1, w2, count(*) AS cnt2 FROM big GROUP BY w1, w2),
         pre AS (SELECT w1, CAST(sum(cnt2) AS BIGINT) AS cnt1 FROM bi GROUP BY w1),
         scored AS (
           SELECT doc_id, length(bin(cnt1 // cnt2)) AS bits
           FROM big JOIN bi USING (w1, w2) JOIN pre USING (w1))
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(bits) AS BIGINT) AS total_bits,
           CAST((sum(bits) * 1000) // count(*) AS BIGINT) AS mean_millibits
         FROM scored GROUP BY doc_id ORDER BY doc_id"""),
    // Trigram Stupid Backoff against the train-split model: the
    // three-level CASE, integer bit costs, and per-level censuses all
    // replay off the shared content-hash split definition.
    QueryRow("q_backoff_score", backoffScore)(backoffScoreOracle),
    // scored from the LOADED count tables (train -> publish -> load
    // -> score): same oracle, so a round-trip bit-flip fails
    QueryRow("q_backoff_score_saved", backoffScoreSaved)(backoffScoreOracle),
    // CCNet head/middle/tail: the bigram model replays as above, then
    // the per-source tercile is plain ROW_NUMBER + integer arithmetic
    // — pinning the Spark side's two-phase bucketed rank equal to the
    // single-window total order (same receipt as exact skewProfile)
    QueryRow("q_ppl_buckets", pplBuckets)(
      """WITH docs AS (
           SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t
           FROM documents),
         big AS (
           SELECT doc_id, t[i] AS w1, t[i+1] AS w2
           FROM docs, unnest(range(1, len(t))) AS u(i)
           WHERE len(t) >= 2),
         bi AS (SELECT w1, w2, count(*) AS cnt2 FROM big GROUP BY w1, w2),
         pre AS (SELECT w1, CAST(sum(cnt2) AS BIGINT) AS cnt1 FROM bi GROUP BY w1),
         sc AS (
           SELECT doc_id,
             CAST((sum(length(bin(cnt1 // cnt2))) * 1000) // count(*) AS BIGINT)
               AS mean_millibits
           FROM big JOIN bi USING (w1, w2) JOIN pre USING (w1)
           GROUP BY doc_id),
         j AS (
           SELECT sc.doc_id, d.source, sc.mean_millibits
           FROM sc JOIN documents d ON d.doc_id = sc.doc_id),
         n AS (SELECT source, CAST(count(*) AS BIGINT) AS ns FROM j GROUP BY source),
         r AS (
           SELECT doc_id, source, mean_millibits,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY mean_millibits, doc_id) AS rk
           FROM j)
         SELECT r.doc_id, r.source, r.mean_millibits,
           CASE (3 * (rk - 1)) // ns
             WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail'
           END AS ppl_bucket
         FROM r JOIN n USING (source)
         ORDER BY doc_id"""),
    // Multinomial Naive Bayes source classifier, MDL form: priors and
    // per-class token counts replay as two GROUP BYs over the 80%
    // train split; scoring is argmin of integer add-one-smoothed bit
    // costs — the same length(bin(a // b)) no-float-log trick as
    // q_surprisal, so the trained model replays bit-for-bit.
    QueryRow("q_nb_classify", nbClassify)(NbClassifySql),
    // scored against the LOADED model artifact (train -> publish ->
    // load -> score): same oracle, so a round-trip bit-flip fails
    QueryRow("q_nb_classify_saved", nbClassifySaved)(NbClassifySql),
    // Confusion matrix over the held-out predictions — the shared
    // NbPredCtes replay bucketed by (true, predicted).
    QueryRow("q_nb_confusion", nbConfusion)(
      s"""$NbPredCtes
         SELECT true_source, pred_source, CAST(COUNT(*) AS BIGINT) AS n
         FROM pred GROUP BY 1, 2
         ORDER BY true_source, pred_source"""),
    // Per-class precision/recall/F1 in integer basis points — F1 in
    // its exact integer form 2·tp/(support+predicted); every value a
    // BIGINT on both engines.
    QueryRow("q_nb_eval", nbEval)(
      s"""$NbPredCtes,
         sup AS (SELECT true_source AS cls, CAST(COUNT(*) AS BIGINT)
                   AS support, CAST(SUM(is_correct) AS BIGINT) AS tp
                 FROM pred GROUP BY 1),
         prd AS (SELECT pred_source AS cls, CAST(COUNT(*) AS BIGINT)
                   AS predicted
                 FROM pred GROUP BY 1),
         m AS (SELECT cls,
                 COALESCE(support, 0) AS support,
                 COALESCE(predicted, 0) AS predicted,
                 COALESCE(tp, 0) AS tp
               FROM sup FULL JOIN prd USING (cls))
         SELECT cls, CAST(support AS BIGINT) AS support,
           CAST(predicted AS BIGINT) AS predicted,
           CAST(tp AS BIGINT) AS tp,
           CAST(CASE WHEN predicted > 0
             THEN (tp * 10000) // predicted ELSE 0 END AS BIGINT)
             AS precision_bp,
           CAST(CASE WHEN support > 0
             THEN (tp * 10000) // support ELSE 0 END AS BIGINT)
             AS recall_bp,
           CAST(CASE WHEN support + predicted > 0
             THEN (2 * tp * 10000) // (support + predicted)
             ELSE 0 END AS BIGINT) AS f1_bp
         FROM m ORDER BY cls"""),
    // Calibration deciles off the SAME scored bit grid: margin =
    // runner-up bits − winning bits (integers), NTILE(10) over the
    // total (margin DESC, doc_id) order, per-decile accuracy in
    // integer basis points.
    QueryRow("q_nb_reliability", nbReliability)(
      s"""$NbScoredCtes,
         ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                      ORDER BY bits, cls) AS rk FROM scored),
         m AS (SELECT w.doc_id,
                 CAST(w.cls = w.true_source AS BIGINT) AS is_correct,
                 CAST(r.bits - w.bits AS BIGINT) AS margin
               FROM (SELECT * FROM ranked WHERE rk = 1) w
               JOIN (SELECT doc_id, bits FROM ranked WHERE rk = 2) r
                 USING (doc_id)),
         tiles AS (SELECT *, NTILE(10) OVER (ORDER BY margin DESC, doc_id)
                     AS tile FROM m)
         SELECT CAST(tile AS BIGINT) AS tile,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(is_correct) AS BIGINT) AS n_correct,
           CAST((SUM(is_correct) * 10000) // COUNT(*) AS BIGINT)
             AS accuracy_bp,
           CAST(MIN(margin) AS BIGINT) AS min_margin,
           CAST(MAX(margin) AS BIGINT) AS max_margin
         FROM tiles GROUP BY tile ORDER BY tile"""),
    // Learning curve: the same trainer fit on nested 25/50/75/100%
    // block-tag prefixes of the train split (fraction as a dimension —
    // cumulative (k, cls, w) counts — not a retrain loop), each model
    // scored on the same holdout; all-integer so the curve replays
    // exactly.
    QueryRow("q_learning_curve", nbLearningCurve)(
      s"""WITH docs AS (
           SELECT doc_id, source,
             regexp_extract_all(lower(text), '[a-z]+') AS t
           FROM documents),
         train AS (SELECT *,
                     (doc_id // ${NbSplitBlock})
                       % ${NbCurveFractions} AS f
                   FROM docs
                   WHERE (doc_id // ${NbSplitBlock})
                     % ${NbSplitMod} != 0),
         test AS (SELECT doc_id, source AS true_source, t FROM docs
                  WHERE (doc_id // ${NbSplitBlock})
                    % ${NbSplitMod} = 0),
         ks AS (SELECT unnest(generate_series(1, ${NbCurveFractions}))
                  AS k),
         tt AS (SELECT f, source AS cls, unnest(t) AS w FROM train),
         cntf AS (SELECT f, cls, w, COUNT(*) AS cnt FROM tt GROUP BY 1, 2, 3),
         cntk AS (SELECT k, cls, w, SUM(cnt) AS cnt
                  FROM cntf JOIN ks ON f < k GROUP BY 1, 2, 3),
         ctok AS (SELECT k, cls, CAST(SUM(cnt) AS BIGINT) AS class_tokens
                  FROM cntk GROUP BY 1, 2),
         voc AS (SELECT k, CAST(COUNT(DISTINCT w) AS BIGINT) AS v
                 FROM cntk GROUP BY 1),
         cd AS (SELECT k, source AS cls, SUM(nd) AS class_docs
                FROM (SELECT f, source, COUNT(*) AS nd FROM train
                      GROUP BY 1, 2) d
                JOIN ks ON f < k GROUP BY 1, 2),
         tot AS (SELECT k, SUM(class_docs) AS total_docs FROM cd GROUP BY 1),
         classes AS (
           SELECT ctok.k, ctok.cls, class_tokens,
             CAST(length(bin(total_docs // class_docs)) AS BIGINT)
               AS prior_bits, v
           FROM ctok JOIN cd USING (k, cls) JOIN voc USING (k)
           JOIN tot USING (k)),
         tok AS (SELECT doc_id, unnest(t) AS w FROM test),
         tb AS (
           SELECT doc_id, classes.k AS k, classes.cls AS cls,
             CAST(SUM(length(bin(
               (class_tokens + v) // (COALESCE(cnt, 0) + 1)))) AS BIGINT)
               AS token_bits
           FROM tok CROSS JOIN classes
           LEFT JOIN cntk ON cntk.k = classes.k
             AND cntk.cls = classes.cls AND cntk.w = tok.w
           GROUP BY 1, 2, 3),
         grid AS (SELECT doc_id, true_source, k, cls, prior_bits
                  FROM test CROSS JOIN classes),
         scored AS (
           SELECT doc_id, true_source, k, cls,
             prior_bits + COALESCE(token_bits, 0) AS bits
           FROM grid LEFT JOIN tb USING (doc_id, k, cls)),
         pred AS (
           SELECT k, CAST(cls = true_source AS BIGINT) AS is_correct
           FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, k
                   ORDER BY bits, cls) AS rk FROM scored)
           WHERE rk = 1),
         acc AS (SELECT k, COUNT(*) AS n_test, SUM(is_correct) AS n_correct
                 FROM pred GROUP BY 1),
         ttok AS (SELECT k, CAST(SUM(class_tokens) AS BIGINT) AS train_tokens
                  FROM ctok GROUP BY 1)
         SELECT CAST(k * ${NbCurveStepPct} AS BIGINT) AS frac_pct,
           CAST(total_docs AS BIGINT) AS train_docs, train_tokens,
           v AS vocab_size, CAST(n_test AS BIGINT) AS n_test,
           CAST(n_correct AS BIGINT) AS n_correct,
           CAST((n_correct * 10000) // n_test AS BIGINT) AS accuracy_bp
         FROM acc JOIN tot USING (k) JOIN ttok USING (k) JOIN voc USING (k)
         ORDER BY frac_pct""")
  )
}

/** `events` loader, tolerant of either physical timestamp layout the
  * driver has shipped: nanosecond int64 (Spark 4.x refuses native ns,
  * so with `nanosAsLong` it surfaces as LongType and we truncate to
  * µs, matching DuckDB's ns→µs), or a plain `timestamp[us]` column
  * (surfaces as TIMESTAMP_NTZ under `inferTimestampNTZ`; cast to the
  * session-zone TimestampType so every downstream op sees the same
  * type in both layouts — the sessions here run UTC, where the cast
  * is value-identical to the oracle's naive reading).
  */
object Events {
  /** Normalize a raw events frame's `ts` to microsecond TimestampType
    * regardless of source layout. */
  private[graft] def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer division — double division loses µs precision on
        // epoch-nano magnitudes
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        raw.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }

  def load(spark: SparkSession, sf: String): DataFrame = {
    graft.Sessions.ensureEventTimestampCompat(spark)
    normalizeTs(spark.read.parquet(Tables.path(sf, "events")))
  }

  /** Hourly tumbling-window aggregation over the event stream's batch
    * view — the `window()` shape Structured Streaming uses, epoch-
    * aligned so DuckDB's time_bucket agrees. */
  def hourlyStats(spark: SparkSession, sf: String): DataFrame =
    load(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .orderBy(col("hour"), col("event_type"))

  /** CDC latest-wins compaction — the read side of MERGE/upsert over a
    * changelog: treat events as versioned updates keyed by
    * (user_id, event_type) and keep each key's newest row (ties broken
    * by event_id, so the winner is total-ordered and engine-
    * independent). Emits the surviving event id plus the key's version
    * count — the changelog-compaction every CDC-fed 100 TB table runs
    * before serving.
    *
    * Plan note: the declarative `row_number() = 1` filter is the
    * rank-limit-pushdown shape (SPARK-37099) — a partial
    * WindowGroupLimit caps every map partition to one row per key
    * BEFORE the shuffle, so a hot key (one user = 10⁹ updates) costs
    * its map partitions one row each, not a reducer-side sort of the
    * full history. Same plan-pinned bound as domainCap.
    */
  def latestVersion(spark: SparkSession, sf: String): DataFrame = {
    val byKey = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val ev = load(spark, sf)
    val winners = ev
      .withColumn("rn", row_number().over(byKey))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"),
        col("event_id").as("latest_event_id"))
    // version counts via partial-aggregated groupBy, NOT an unbounded
    // count window — a second (un-limited) window over the same key
    // would force the full history through the reducer and forfeit the
    // WindowGroupLimit bound the rank filter just bought
    val counts = ev.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_versions"))
    winners.join(counts, Seq("user_id", "event_type"))
      .select(col("user_id"), col("event_type"), col("latest_event_id"),
        col("n_versions"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Conversion funnel view→click→purchase: per user, the first view,
    * the first click strictly after it, the first purchase strictly
    * after that, and the furthest stage reached. Cascaded
    * min-aggregations all keyed on user_id — the three shuffles share
    * one partitioning, so the stage joins are co-partitioned (no
    * re-exchange), which is the property that matters when user_id
    * cardinality is billions. */
  def funnel(spark: SparkSession, sf: String): DataFrame = {
    val e = load(spark, sf).select(col("user_id"), col("event_type"), col("ts"))
    val users = e.select(col("user_id")).distinct()
    val tView = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
    val tClick = e.filter(col("event_type") === "click")
      .join(tView, "user_id")
      .filter(col("ts") > col("t_view"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
    val tBuy = e.filter(col("event_type") === "purchase")
      .join(tClick, "user_id")
      .filter(col("ts") > col("t_click"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
    users
      .join(tView, Seq("user_id"), "left")
      .join(tClick, Seq("user_id"), "left")
      .join(tBuy, Seq("user_id"), "left")
      .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
        when(col("t_purchase").isNotNull, 3L)
          .when(col("t_click").isNotNull, 2L)
          .when(col("t_view").isNotNull, 1L)
          .otherwise(0L).as("stage"))
      .orderBy(col("user_id"))
  }

  /** Statistical outlier detection: events whose value sits more than
    * 3 population standard deviations from their event_type's mean —
    * the anomaly gate every metrics pipeline runs before trusting an
    * aggregate. The z-test is algebraically cleared of BOTH the
    * division and the square root so it runs in exact integer/decimal
    * arithmetic (bit-identical across engines, immune to partial-agg
    * reassociation):  |x−μ| > 3σ  ⟺  (n·x − s)² > 9·(n·ss − s²)
    * with s = Σx, ss = Σx² over integer cents. DECIMAL(38,0)
    * accumulators: at 10¹² rows of 10⁶-cent values, n·ss ≈ 10³⁰ and
    * (n·x−s)² ≈ 10³⁶ — inside decimal-38 headroom, far outside
    * BIGINT's.
    *
    * Scale shape: one partial-agg groupBy over event_type (a handful
    * of groups → tiny stats table), broadcast back over the stream —
    * the second pass is a narrow filter, no shuffle. */
  private val d38 = DecimalType(38, 0)

  /** Integer-cents projection shared by the batch and streaming
    * outlier paths. */
  private[graft] def centsProjection(e: DataFrame): DataFrame =
    e.select(col("event_id"), col("event_type"),
      (col("value").cast(DecimalType(18, 2)) * 100).cast("long").as("c"))

  /** Per-type (n, Σx, Σx²) in DECIMAL(38,0) — the tiny broadcastable
    * stats table both outlier paths filter against. */
  private[graft] def outlierStats(e: DataFrame): DataFrame =
    e.groupBy(col("event_type"))
      .agg(count(lit(1)).cast(d38).as("n"),
        sum(col("c")).cast(d38).as("s"),
        sum(col("c").cast(d38) * col("c").cast(d38)).as("ss"))

  /** The 3-sigma predicate over a centsProjection row joined with its
    * type's stats row. */
  private[graft] def outlierPredicate: Column = {
    val dev = col("n") * col("c").cast(d38) - col("s")
    dev * dev > lit(9).cast(d38) * (col("n") * col("ss") - col("s") * col("s"))
  }

  def outliers(spark: SparkSession, sf: String): DataFrame = {
    val e = centsProjection(load(spark, sf))
    e.join(broadcast(outlierStats(e)), "event_type")
      .filter(outlierPredicate)
      .select(col("event_id"), col("event_type"), col("c").as("value_cents"))
      .orderBy(col("event_id"))
  }

  /** Robust outlier gate — the median/MAD (Iglewicz-Hoaglin modified
    * z-score, threshold 3.5) twin of the 3-sigma [[outliers]]: mean
    * and sigma are dragged by the very tails they are meant to flag
    * (one 10⁹ value inflates sigma until nothing else trips), while
    * the median and the median absolute deviation have a 50%
    * breakdown point.
    *
    * INTEGER-exact end to end, no IEEE in the decision: a median over
    * integers is an exact HALF (sort + midpoint), so doubling units
    * makes it integral — med2 = 2·median(cents) and mad4 = 2·median
    * of adev2 = |2c − med2| are exact longs in both engines
    * (quantile_cont's (a+b)/2 over ≤2⁵² integers is exact double
    * arithmetic, ×2 exact, cast exact). The gate 0.6745·|c−med| >
    * 3.5·mad cross-multiplies to 1349·adev2 > 3500·mad4 and the
    * reported score is basis-point integer division. Groups where
    * MAD degenerates to 0 (>50% identical values) are excluded
    * explicitly — the documented MAD caveat, decided identically on
    * both sides.
    *
    * Scale: two percentile passes + one filtered scan — exact order
    * statistics per group, the [[Relational.trimmedStats]] contract;
    * the GK sketch supplies approximate med/MAD past the per-group
    * sort budget, with this exact form as its oracle. */
  def robustOutliers(spark: SparkSession, sf: String): DataFrame = {
    val e = centsProjection(load(spark, sf))
    val med = e.groupBy(col("event_type"))
      .agg((expr("percentile(c, 0.5)") * 2).cast("long").as("med2"))
    val dev = e.join(broadcast(med), "event_type")
      .withColumn("adev2", abs(col("c") * 2 - col("med2")))
    val mad = dev.groupBy(col("event_type"))
      .agg((expr("percentile(adev2, 0.5)") * 2).cast("long").as("mad4"))
    dev.join(broadcast(mad), "event_type")
      .filter(col("mad4") > 0 &&
        col("adev2") * 1349 > col("mad4") * lit(3500L))
      .select(col("event_id"), col("event_type"), col("c").as("value_cents"),
        expr("(13490 * adev2) div mad4").as("mz_bp"))
      .orderBy(col("event_id"))
  }

  /** Event path mining — the funnel's exploratory sibling: the most
    * common 3-step event-type sequences across all users, found
    * without naming any path up front. Lead windows over each user's
    * time-ordered stream build the consecutive triples (total-ordered
    * by (ts, event_id), so both engines see identical sequences), a
    * partial-agg groupBy counts paths, top-k with a path tie-break.
    *
    * Scale: one shuffle on user_id for the window (per-user state is
    * just 2 lookahead rows), one bounded-cardinality groupBy (paths ≤
    * |event_types|³), a top-k over that. No per-user collect_list —
    * a billion-event user costs the window nothing. */
  def eventPaths(spark: SparkSession, sf: String, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    load(spark, sf)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("e1"))
      .withColumn("e2", lead(col("e1"), 1).over(byUser))
      .withColumn("e3", lead(col("e1"), 2).over(byUser))
      .filter(col("e2").isNotNull && col("e3").isNotNull)
      .groupBy(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(k)
  }

  /** Cohort retention: users grouped by first-seen day, counted on
    * each subsequent day they return. Two aggregations on user_id /
    * (user_id, day) plus one broadcast-able join of the (tiny) cohort
    * map. */
  def retention(spark: SparkSession, sf: String): DataFrame = {
    val e = load(spark, sf)
      .select(col("user_id"), date_trunc("day", col("ts")).cast("date").as("d"))
    val cohorts = e.groupBy(col("user_id")).agg(min(col("d")).as("cohort_day"))
    e.distinct()
      .join(cohorts, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("d"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(count(lit(1)).cast("long").as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** Sessionization: 30-minute-gap sessions per user via lag + running
    * session counter — the batch equivalent of
    * mapGroupsWithState-based session windows. One shuffle on user_id.
    */
  def sessionize(spark: SparkSession, sf: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gapMin = 30L * 60
    load(spark, sf)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapMin * 1000000L, 1)
          .otherwise(0))
      .withColumn("session_id",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id").cast("long").as("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Type-2 slowly-changing-dimension build (Kimball SCD2): collapse
    * each user's event stream into VERSIONED VALIDITY INTERVALS of its
    * tracked attribute (event_type here) — consecutive runs of the
    * same value become one row [valid_from, valid_to) with a version
    * counter and an is_current flag; valid_to chains to the next
    * version's valid_from (half-open, gap-free by construction); the
    * open row carries a NULL valid_to and is_current = 1, so downstream
    * point-in-time joins filter `ts < valid_to OR valid_to IS NULL` —
    * a far-future sentinel would overflow int64-NANOSECOND timestamp
    * representations (max 2262-04-11) in pandas/Arrow consumers, so
    * NULL-plus-flag is the portable encoding — the dimension-history
    * table every warehouse load pipeline maintains, derived here from
    * the raw change events in one pass.
    *
    * Gaps-and-islands, windows-only: a lag comparison marks value
    * changes, a running sum numbers the islands — both on the SAME
    * (user_id, ts, event_id) window, so Spark computes them in one
    * WindowExec over one shuffle; the per-island agg reuses that
    * partitioning and the version-chaining lead window is over
    * islands (already collapsed, ≪ events). Nothing global: every
    * window is keyed by user_id, so 100 TB of events scale by
    * adding executors. */
  def scd2(spark: SparkSession, sf: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    scd2Dimension(load(spark, sf)
      .withColumn("prev", lag(col("event_type"), 1).over(byUser))
      .withColumn("chg",
        when(col("prev").isNull || col("prev") =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("version", sum(col("chg")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
  }

  /** THE dimension-row aggregation, in exactly one place: any
    * version-stamped event frame (user_id, version, event_type, ts) →
    * SCD2 rows with half-open chained intervals, a NULL valid_to on
    * the open row, and the is_current flag. Both the batch [[scd2]] and
    * the streaming `EventStream.scd2ViaTws` call this — the
    * one-definition contract (like `foldSessions`/`applyMerge`), so
    * an interval-rule tweak cannot desynchronize the twins. */
  private[graft] def scd2Dimension(versioned: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byVersion = Window.partitionBy(col("user_id"))
      .orderBy(col("version"))
    versioned
      .groupBy(col("user_id"), col("version"), col("event_type"))
      .agg(min(col("ts")).as("valid_from"),
        count(lit(1)).as("n_events"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(byVersion))
      .withColumn("is_current",
        (lead(col("valid_from"), 1).over(byVersion).isNull).cast("long"))
      .select(col("user_id"), col("version"), col("event_type"),
        col("valid_from"), col("valid_to"), col("n_events"),
        col("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  /** Time-grid resampling with forward fill — the regularization pass
    * every time-series feature pipeline runs before modeling: each
    * user's irregular event stream becomes one row per HOUR over
    * [first hour, last hour], empty hours carrying n_events = 0 and
    * the last observed value (max event_id within the newest non-empty
    * hour — a deterministic last, since event ids are unique). The
    * value doubles pass through UNTOUCHED (no float arithmetic
    * anywhere), so cross-engine parity is structural.
    *
    * Scale shape: the hourly pre-aggregation shrinks the stream before
    * anything else happens; the grid is generated per user from a
    * 2-element span row (sequence() — array length bounded by the
    * TIME RANGE, never by data volume); grid⋈hourly shuffles on the
    * composite (user_id, hour) key; the fill window is keyed by
    * user_id. Nothing global, nothing driver-side. */
  def resample(spark: SparkSession, sf: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = load(spark, sf)
      .select(col("user_id"), col("event_id"), col("value"),
        date_trunc("hour", col("ts")).as("hour"))
    val hourly = e.groupBy(col("user_id"), col("hour"))
      .agg(count(lit(1)).as("n_events"),
        max_by(col("value"), col("event_id")).as("v"))
    val grid = e.groupBy(col("user_id"))
      .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
      .select(col("user_id"),
        explode(sequence(col("h0"), col("h1"),
          expr("interval 1 hour"))).as("hour"))
    val fill = Window.partitionBy(col("user_id")).orderBy(col("hour"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("user_id", "hour"), "left")
      .select(col("user_id"), col("hour"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        last(col("v"), ignoreNulls = true).over(fill).as("filled_value"))
      .orderBy(col("user_id"), col("hour"))
  }

  /** The q_hourly_events oracle, shared verbatim by its streaming twin. */
  private[graft] val HourlyEventsSql: String =
    """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour, event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2
         ORDER BY hour, event_type"""

  /** The q_sessionize oracle, shared verbatim by its streaming twin. */
  private[graft] val SessionizeSql: String =
    """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
         w AS (SELECT user_id, event_id, ts,
                 LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
               FROM e),
         s AS (SELECT *, CASE WHEN prev_ts IS NULL
                 OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                 THEN 1 ELSE 0 END AS new_session FROM w),
         c AS (SELECT *, SUM(new_session) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id
               FROM s)
         SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           COUNT(*) AS n_events, MIN(ts) AS session_start, MAX(ts) AS session_end
         FROM c GROUP BY 1, 2 ORDER BY user_id, session_id"""

  /** The q_scd2 oracle, shared verbatim by its streaming twin. */
  private[graft] val Scd2Sql: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
                 CAST(ts AS TIMESTAMP) AS ts FROM events),
         w AS (SELECT *, LAG(event_type) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id) AS prev
               FROM e),
         m AS (SELECT *, CASE WHEN prev IS NULL OR prev <> event_type
                 THEN 1 ELSE 0 END AS chg FROM w),
         v AS (SELECT *, SUM(chg) OVER (PARTITION BY user_id
                 ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS version
               FROM m),
         i AS (SELECT user_id, CAST(version AS BIGINT) AS version,
                 event_type, MIN(ts) AS valid_from,
                 CAST(COUNT(*) AS BIGINT) AS n_events
               FROM v GROUP BY 1, 2, 3)
         SELECT user_id, version, event_type, valid_from,
           LEAD(valid_from) OVER
               (PARTITION BY user_id ORDER BY version) AS valid_to,
           n_events,
           CAST(LEAD(valid_from) OVER
               (PARTITION BY user_id ORDER BY version)
             IS NULL AS BIGINT) AS is_current
         FROM i ORDER BY user_id, version"""

  /** The q_outliers oracle, shared verbatim by its streaming twin. */
  private[graft] val OutliersSql: String =
    """WITH e AS (
           SELECT event_id, event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
           FROM events),
         st AS (
           SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
             CAST(sum(c) AS HUGEINT) AS s,
             sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS ss
           FROM e GROUP BY event_type)
         SELECT event_id, event_type, c AS value_cents
         FROM e JOIN st USING (event_type)
         WHERE (n*c - s) * (n*c - s) > 9 * (n*ss - s*s)
         ORDER BY event_id"""

  /** This family's rows, each beside its DuckDB oracle. */
  val rows: Seq[QueryRow] = Seq(
    // --- events / time (SURVEY §2.8, §2.10)
    QueryRow("q_hourly_events", hourlyStats)(HourlyEventsSql),
    QueryRow("q_sessionize", sessionize)(SessionizeSql),
    // SCD2: gaps-and-islands over event_type changes; valid_to chains
    // to the next version's valid_from, NULL on the current row (a
    // far-future sentinel overflows int64-ns timestamp consumers)
    QueryRow("q_scd2", scd2)(Scd2Sql),
    // Hourly resample + forward fill: the value doubles pass through
    // untouched (deterministic last = max event_id), so parity needs
    // no float rule at all
    QueryRow("q_resample", resample)(
      """WITH e AS (SELECT user_id, event_id, value,
                 date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour
               FROM events),
         h AS (SELECT user_id, hour, CAST(COUNT(*) AS BIGINT) AS n_events,
                 arg_max(value, event_id) AS v
               FROM e GROUP BY 1, 2),
         s AS (SELECT user_id, MIN(hour) AS h0, MAX(hour) AS h1
               FROM e GROUP BY 1),
         g AS (SELECT user_id,
                 unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
               FROM s)
         SELECT g.user_id, g.hour,
           COALESCE(h.n_events, 0) AS n_events,
           last_value(h.v IGNORE NULLS) OVER (PARTITION BY g.user_id
             ORDER BY g.hour ROWS UNBOUNDED PRECEDING) AS filled_value
         FROM g LEFT JOIN h ON g.user_id = h.user_id AND g.hour = h.hour
         ORDER BY g.user_id, g.hour"""),
    QueryRow("q_funnel", funnel)(
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
         v AS (SELECT user_id, MIN(ts) AS t_view FROM e
               WHERE event_type = 'view' GROUP BY user_id),
         c AS (SELECT e.user_id, MIN(e.ts) AS t_click FROM e
               JOIN v ON e.user_id = v.user_id
               WHERE e.event_type = 'click' AND e.ts > v.t_view
               GROUP BY e.user_id),
         p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase FROM e
               JOIN c ON e.user_id = c.user_id
               WHERE e.event_type = 'purchase' AND e.ts > c.t_click
               GROUP BY e.user_id)
         SELECT u.user_id, v.t_view, c.t_click, p.t_purchase,
           CAST(CASE WHEN p.t_purchase IS NOT NULL THEN 3
                WHEN c.t_click IS NOT NULL THEN 2
                WHEN v.t_view IS NOT NULL THEN 1
                ELSE 0 END AS BIGINT) AS stage
         FROM (SELECT DISTINCT user_id FROM e) u
         LEFT JOIN v USING (user_id)
         LEFT JOIN c USING (user_id)
         LEFT JOIN p USING (user_id)
         ORDER BY user_id"""),
    QueryRow("q_retention", retention)(
      """WITH e AS (SELECT DISTINCT user_id,
               CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d
             FROM events),
         f AS (SELECT user_id, MIN(d) AS cohort_day FROM e GROUP BY user_id)
         SELECT cohort_day,
           CAST(date_diff('day', cohort_day, d) AS BIGINT) AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
         FROM e JOIN f USING (user_id)
         GROUP BY 1, 2
         ORDER BY 1, 2"""),
    // CDC latest-wins compaction: newest row per (user_id, event_type),
    // ties by event_id — total order, engine-independent winner
    QueryRow("q_latest_version", latestVersion)(
      """WITH r AS (SELECT user_id, event_type, event_id,
             row_number() OVER (PARTITION BY user_id, event_type
               ORDER BY ts DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id, event_type) AS n_versions
           FROM events)
         SELECT user_id, event_type, event_id AS latest_event_id,
           CAST(n_versions AS BIGINT) AS n_versions
         FROM r WHERE rn = 1
         ORDER BY user_id, event_type"""),
    // Integer-exact 3-sigma outliers: (n*x - s)^2 > 9*(n*ss - s^2)
    // over integer cents, HUGEINT on the DuckDB side mirroring the
    // Spark DECIMAL(38,0) accumulators
    QueryRow("q_outliers", outliers)(OutliersSql),
    // Robust (median/MAD) outliers: medians over integers are exact
    // halves, so doubled units make med2/mad4 exact BIGINTs and the
    // 3.5-modified-z gate cross-multiplies to pure integers
    QueryRow("q_robust_outliers", robustOutliers)(
      """WITH e AS (
           SELECT event_id, event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
           FROM events),
         med AS (
           SELECT event_type,
             CAST(quantile_cont(c, 0.5) * 2 AS BIGINT) AS med2
           FROM e GROUP BY event_type),
         dev AS (
           SELECT e.*, abs(e.c * 2 - med.med2) AS adev2
           FROM e JOIN med USING (event_type)),
         mad AS (
           SELECT event_type,
             CAST(quantile_cont(adev2, 0.5) * 2 AS BIGINT) AS mad4
           FROM dev GROUP BY event_type)
         SELECT event_id, event_type, c AS value_cents,
           (13490 * adev2) // mad4 AS mz_bp
         FROM dev JOIN mad USING (event_type)
         WHERE mad4 > 0 AND adev2 * 1349 > mad4 * 3500
         ORDER BY event_id"""),
    QueryRow("q_event_paths", eventPaths(_, _))(
      """WITH seq AS (
           SELECT event_type AS e1,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         SELECT e1 || '>' || e2 || '>' || e3 AS path,
           CAST(count(*) AS BIGINT) AS n
         FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
         GROUP BY 1 ORDER BY n DESC, path LIMIT 20""")
  )
}

/** Client-side scalar/serialization functions from the reference
  * surfaced as columnar operators (SURVEY.md §2.8). */
object Scalar {
  import org.apache.spark.sql.functions._

  /** Metadata-JSON date serialization — `%Y%m%d%H%M%S%f`
    * (util.py:98-102, constants.py:4) as a columnar op. */
  def jobDateFormat(spark: SparkSession, sf: String): DataFrame =
    graft.Tables.load(spark, sf, "orders")
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyyMMddHHmmssSSSSSS")
          .as("job_date_str"))
      .orderBy(col("o_orderkey"))

  /** Base64 envelope encode/decode — the Lambda body handling
    * (aws_lambda.py:141-148) as a columnar op. */
  def base64Envelope(spark: SparkSession, sf: String): DataFrame =
    Events.load(spark, sf)
      .select(col("event_id"),
        base64(encode(col("props"), "UTF-8")).as("props_b64"),
        decode(unbase64(base64(encode(col("props"), "UTF-8"))), "UTF-8")
          .as("props_roundtrip"))
      .orderBy(col("event_id"))

  /** This family's rows, each beside its DuckDB oracle. */
  val rows: Seq[QueryRow] = Seq(
    QueryRow("q_date_format", jobDateFormat)(
      """SELECT o_orderkey,
         strftime(o_orderdate, '%Y%m%d%H%M%S%f') AS job_date_str
         FROM orders
         ORDER BY o_orderkey"""),
    QueryRow("q_base64", base64Envelope)(
      """SELECT event_id, base64(encode(props)) AS props_b64,
         decode(from_base64(base64(encode(props)))) AS props_roundtrip
         FROM events
         ORDER BY event_id""")
  )
}
