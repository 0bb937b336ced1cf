package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryRow, Tables}

/** Entity resolution (record linkage): collapse multiple records that
  * describe the same real-world entity into one canonical cluster —
  * the structured-data sibling of document near-dup clustering, and a
  * standard step when a training corpus's metadata joins against
  * customer/author/source registries ingested from several systems of
  * record (the reference's import-side story: the same schema arriving
  * from multiple dumps; see
  * /root/reference/src/oracledb_datapump/directives.py:340-420 remap +
  * TABLE_EXISTS_ACTION merge semantics).
  *
  * Pipeline shape — the classic three stages, each with an explicit
  * 100 TB posture:
  *
  *   1. BLOCKING: records shuffle once on a cheap, unperturbed
  *      quasi-identifier (here `(nationkey, floor(acctbal))`). All
  *      candidate comparison happens inside a block, so the pair
  *      space is Σ block² instead of n² — the same cost argument as
  *      MinHash banding, with block cardinality playing the band
  *      role. A skewed block (one giant key) is the failure mode;
  *      real deployments cap or salt oversized blocks exactly like
  *      the domain-cap operator bounds per-domain windows.
  *   2. MATCHING: a similarity gate evaluated ONLY within blocks —
  *      `levenshtein(name_a, name_b) <= 2`. Edit distance is a
  *      per-pair scalar (codegen'd `levenshtein`), never a UDF, and
  *      never computed across blocks.
  *   3. CLUSTERING: matched pairs are edges; [[Dedup.clustersFrom]]
  *      (pointer-jumping connected components over graph nodes only)
  *      produces the canonical entity id = min record id per
  *      component. Transitive merges (A~B, B~C) land in one cluster
  *      even when A and C never compared.
  *
  * The fixture's customer names are synthetic-unique, so the operator
  * seeds its own link structure deterministically (both engines replay
  * it bit-for-bit, keeping the DuckDB oracle exact):
  *   - every custkey % 7 == 0 gains a DIRTY twin (id + 10'000'000)
  *     whose name drops its 4th character — edit distance 1, same
  *     blocking attributes → MUST link;
  *   - every custkey % 13 == 0 gains a DECOY (id + 20'000'000) with
  *     the name reversed — same block, edit distance far above the
  *     gate → MUST stay a singleton. The decoys pin the gate's
  *     negative side, so a spec can't pass on an always-link bug.
  * The two ambient same-block near-name collisions at sf0.01 merge
  * identically in both engines (the oracle is exact, not clean-only).
  */
object Linkage {

  /** Max edit distance for two same-block records to be declared the
    * same entity — interpolated into BOTH the Spark gate and the
    * DuckDB oracle ([[EntityResolutionSql]]) from this one val.
    */
  val NameEditMax = 2

  /** Offsets that keep seeded record ids disjoint from real custkeys
    * at any fixture scale (sf1 tops out at 150k). Shared with the
    * oracle SQL.
    */
  val DirtyOffset = 10000000L
  val DecoyOffset = 20000000L

  /** Seeding rates and name perturbations, shared with the oracle SQL
    * and the spec as single sources (the pageRankOracle pattern): the
    * dirty twin drops the name's 4th character (edit distance 1 —
    * must pass the gate), the decoy reverses it (far past the gate —
    * must stay a singleton). Both expressions are parseable by Spark
    * (`expr`) and DuckDB verbatim.
    */
  val DirtyMod = 7
  val DecoyMod = 13
  val DirtyNameSql = "concat(substr(name, 1, 3), substr(name, 5, 100))"
  val DecoyNameSql = "reverse(name)"

  /** Seeded record set: originals + dirty twins + decoys, with the
    * blocking attributes (`nat`, `bal`) carried unperturbed. One
    * narrow scan of customer, three projections, a union — no
    * shuffle. (package-visible: the streaming twin splits this same
    * set into its two deliveries.)
    */
  private[graft] def records(spark: SparkSession, sf: String): DataFrame =
    recordsFrom(baseCustomer(spark, sf))

  private def baseCustomer(spark: SparkSession, sf: String): DataFrame =
    Tables.load(spark, sf, "customer")
      .select(col("c_custkey").cast("long").as("k"),
        col("c_name").as("name"),
        col("c_nationkey").cast("long").as("nat"),
        floor(col("c_acctbal")).cast("long").as("bal"))

  private def recordsFrom(c: DataFrame): DataFrame = {
    val orig = c.select(col("k").as("entity_id"), col("name"),
      col("nat"), col("bal"), lit("orig").as("kind"))
    val dirty = c.filter(col("k") % DirtyMod === 0)
      .select((col("k") + DirtyOffset).as("entity_id"),
        expr(DirtyNameSql).as("name"),
        col("nat"), col("bal"), lit("dirty").as("kind"))
    val decoy = c.filter(col("k") % DecoyMod === 0)
      .select((col("k") + DecoyOffset).as("entity_id"),
        expr(DecoyNameSql).as("name"),
        col("nat"), col("bal"), lit("decoy").as("kind"))
    orig.unionByName(dirty).unionByName(decoy)
  }

  /** The block census of the skew guard: the (nat, bal) keys of the
    * blocks holding more than `cap` distinct records. Only those keys
    * — few, by the definition of skew — leave the aggregation. */
  private def oversizedBlocks(recs: DataFrame, cap: Int): DataFrame =
    recs.select(col("entity_id"), col("nat"), col("bal"))
      .distinct()
      .groupBy(col("nat"), col("bal")).agg(count(lit(1)).as("block_n"))
      .filter(col("block_n") > cap)
      .select(col("nat"), col("bal"))

  /** Blocked candidate pairs between two record frames that pass the
    * edit-distance gate, normalized to `entity_id`-ordered (a < b)
    * edges. The join key is the blocking key, so this is one equality
    * shuffle; the levenshtein gate runs inside the join's codegen
    * stage on within-block pairs only. Self-linkage
    * (`matchedPairs(r, r)`) keeps the a < b half; cross-frame calls
    * (the streaming twin's batch-vs-index probe) normalize with
    * least/greatest so edge identity is frame-order-independent.
    *
    * `cap`: the block-skew guard. Blocks whose record count exceeds
    * it are PURGED from matching entirely (their records stay
    * singletons) — the Hernández/Stolfo big-block purge. 0 (the
    * default) disables the guard; the DuckDB oracle replays the
    * uncapped form. This is the mechanism behind the SCALING.md
    * claim: one degenerate blocking key (every record sharing a
    * placeholder phone/balance) re-creates the n² kernel, and purging
    * it bounds per-block pair work at cap² while touching nothing
    * else — the oversized-key set is skew-small, so it rides a
    * broadcast anti-join.
    *
    * `censusOver`: the record set the skew guard counts blocks over.
    * Defaults to left ∪ right — correct for one-shot linkage — but an
    * INCREMENTAL caller must pass its full accumulated record set:
    * a per-call census would see only the slice in hand (a delivery's
    * two dirty records look fine even when their block is giant), and
    * the streaming twin would diverge from the batch decision under a
    * cap. The guard's verdict must be a property of the BLOCK, not of
    * which call first met it.
    */
  private[graft] def matchedPairs(left: DataFrame, right: DataFrame,
      censusOver: Option[DataFrame] = None, cap: Int = 0): DataFrame = {
    val (lg, rg) = if (cap <= 0) (left, right) else {
      // self-linkage passes the same frame twice; the census counts
      // DISTINCT records, so the union double-counts nothing
      val over = oversizedBlocks(
        censusOver.getOrElse(left.unionByName(right)), cap)
      (left.join(broadcast(over), Seq("nat", "bal"), "left_anti"),
        right.join(broadcast(over), Seq("nat", "bal"), "left_anti"))
    }
    val a = lg.select(col("entity_id").as("ea"), col("name").as("name_a"),
      col("nat"), col("bal"))
    val b = rg.select(col("entity_id").as("eb"), col("name").as("name_b"),
      col("nat"), col("bal"))
    a.join(b, Seq("nat", "bal"))
      .filter(col("ea") =!= col("eb"))
      .filter(levenshtein(col("name_a"), col("name_b")) <= NameEditMax)
      .select(least(col("ea"), col("eb")).as("doc_a"),
        greatest(col("ea"), col("eb")).as("doc_b"))
      .distinct()
  }

  /** Terminal block-cap gate for INCREMENTAL linkage: drop every edge
    * whose block is oversized in the FINAL record census. Incremental
    * emission is temporally myopic — a block can grow past the cap
    * AFTER earlier deliveries already emitted its edges — so the
    * per-call guard bounds work while this terminal gate enforces the
    * invariant the batch twin computes in one shot: purge is a
    * property of the block's final size, not of which delivery first
    * met it. Edges only ever form within a block, so both endpoints
    * share a block key and the doc_a anti-join is complete. No-op
    * when `cap` is 0.
    */
  private[graft] def enforceBlockCap(recs: DataFrame, edges: DataFrame,
      cap: Int = 0): DataFrame = {
    if (cap <= 0) return edges
    // the oversized-key set is skew-small and broadcasts; the
    // member-id set may be huge (a degenerate block can be corpus-
    // sized), so the edge anti-join stays a plain shuffle join
    val overIds = recs.join(broadcast(oversizedBlocks(recs, cap)),
        Seq("nat", "bal"))
      .select(col("entity_id").as("doc_a"))
    edges.join(overIds, Seq("doc_a"), "left_anti")
  }

  /** Cluster assembly shared by the batch operator and the streaming
    * twin: CC over (records, edges), canonical id = min member id,
    * kind re-joined for auditability. Total order on entity_id.
    */
  private[graft] def resolve(recs: DataFrame, pairs: DataFrame): DataFrame = {
    val nodes = recs.select(col("entity_id").as("doc_id"))
    val clusters = Dedup.clustersFrom(nodes, pairs)
    clusters
      .join(recs.select(col("entity_id").as("doc_id"), col("kind")), Seq("doc_id"))
      .select(col("doc_id").as("entity_id"), col("kind"),
        col("cluster_id").cast("long").as("cluster_id"),
        col("cluster_size").cast("long").as("cluster_size"))
      .orderBy(col("entity_id"))
  }

  /** q_entity_resolution: every record labeled with its resolved
    * entity cluster (canonical id = min member id), cluster size, and
    * its seeded kind for auditability. `cap` arms the block-skew
    * guard ([[matchedPairs]]); 0 (the driver row) disables it.
    */
  def entityResolution(spark: SparkSession, sf: String,
      cap: Int = 0): DataFrame = {
    // four consumers (both pair-join sides, the CC node set, and the
    // final kind re-join) — persist or the customer scan + seeding
    // re-runs per consumer
    val recs = graft.CachePool.swapOne("linkage-records",
      records(spark, sf))
    resolve(recs, matchedPairs(recs, recs, cap = cap))
  }

  /** Degenerate-block skew fixture: every `k % SkewMod == 0` customer
    * (and, because twins inherit the blocking attributes, its dirty
    * and decoy records) collapses onto ONE placeholder blocking key
    * `(SkewNat, SkewBal)` — the production failure mode where a
    * registry ships a sentinel value (phone 000-0000, balance 0) in
    * the column the blocker trusted. 10% of the corpus in one block
    * turns Σ block² back into ~(n/10)², which is n²-shaped at any
    * scale; the purge cap is what keeps blocked linkage honest.
    */
  val SkewMod = 10
  val SkewNat = -1L
  val SkewBal = -1L

  /** Cap wired into q_entity_resolution_skew (and interpolated into
    * its DuckDB oracle): generous enough that every REAL block at any
    * fixture scale sails under it (the widest organic (nat, bal)
    * block observed at sf1 is < 10 records), tight enough that the
    * seeded placeholder block (10% of records) exceeds it from sf0.01
    * up — so the driver-green row exercises the purge, not just the
    * pass-through. */
  val SkewCap = 100

  private[graft] def skewRecords(spark: SparkSession, sf: String): DataFrame = {
    val degenerate = col("k") % SkewMod === 0
    recordsFrom(baseCustomer(spark, sf)
      .withColumn("nat", when(degenerate, lit(SkewNat)).otherwise(col("nat")))
      .withColumn("bal", when(degenerate, lit(SkewBal)).otherwise(col("bal"))))
  }

  /** q_entity_resolution_skew: [[entityResolution]] under the seeded
    * degenerate block WITH the purge cap armed. The placeholder block
    * is purged (its records resolve as singletons — including dirty
    * twins whose originals fell into it, the price of the cap the
    * oracle replays exactly); every other block links as usual.
    */
  def entityResolutionSkew(spark: SparkSession, sf: String): DataFrame = {
    val recs = graft.CachePool.swapOne("linkage-skew-records",
      skewRecords(spark, sf))
    // self-linkage: the census basis is the record set itself (r18)
    // — the default left ∪ right would scan-and-distinct the same
    // frame twice for the same block counts
    resolve(recs, matchedPairs(recs, recs, censusOver = Some(recs),
      cap = SkewCap))
  }

  /** Record-linkage replay: the same seeded records (dirty twins,
    * reversed-name decoys), the same blocking key, the same
    * levenshtein gate (threshold interpolated from [[NameEditMax]]),
    * and the same recursive-CTE transitive closure as
    * [[Dedup.DupClustersCtes]] — an LSH-style blocking miss, a gate
    * off-by-one, or a CC mislabel all flip the hash. */
  private[graft] lazy val EntityResolutionSql: String =
    entityResolutionSqlOver(
      s"""SELECT c_custkey AS k, c_name AS name,
           CAST(c_nationkey AS BIGINT) AS nat,
           CAST(floor(c_acctbal) AS BIGINT) AS bal
         FROM customer""", cap = 0)

  /** The skew twin: 10% of customers collapse onto the placeholder
    * blocking key and the purge cap is armed — census + purge replayed
    * in SQL (blocks strictly over [[SkewCap]] records leave
    * matching; their members resolve as singletons). */
  private lazy val EntityResolutionSkewSql: String =
    entityResolutionSqlOver(
      s"""SELECT c_custkey AS k, c_name AS name,
           CASE WHEN c_custkey % ${SkewMod} = 0
             THEN ${SkewNat}
             ELSE CAST(c_nationkey AS BIGINT) END AS nat,
           CASE WHEN c_custkey % ${SkewMod} = 0
             THEN ${SkewBal}
             ELSE CAST(floor(c_acctbal) AS BIGINT) END AS bal
         FROM customer""", cap = SkewCap)

  private def entityResolutionSqlOver(cSelect: String, cap: Int): String = {
    // cap = 0 replays the unguarded form (m = recs verbatim); cap > 0
    // replays the Hernández/Stolfo purge: a block census over the full
    // record set, blocks above the cap excluded from matching entirely
    val matchable =
      if (cap <= 0) "SELECT * FROM recs"
      else s"""SELECT r.* FROM recs r
               JOIN blocks b ON r.nat = b.nat AND r.bal = b.bal
               WHERE b.block_n <= $cap"""
    s"""WITH RECURSIVE c AS ($cSelect),
         recs AS (
           SELECT k AS entity_id, name, nat, bal, 'orig' AS kind FROM c
           UNION ALL
           SELECT k + ${DirtyOffset},
             ${DirtyNameSql}, nat, bal, 'dirty'
           FROM c WHERE k % ${DirtyMod} = 0
           UNION ALL
           SELECT k + ${DecoyOffset},
             ${DecoyNameSql}, nat, bal, 'decoy'
           FROM c WHERE k % ${DecoyMod} = 0),
         blocks AS (SELECT nat, bal, COUNT(*) AS block_n
                    FROM recs GROUP BY 1, 2),
         m AS ($matchable),
         p AS (
           SELECT a.entity_id AS ea, b.entity_id AS eb
           FROM m a JOIN m b
             ON a.nat = b.nat AND a.bal = b.bal AND a.entity_id < b.entity_id
           WHERE levenshtein(a.name, b.name) <= ${NameEditMax}),
         e AS (SELECT ea AS a, eb AS b FROM p UNION SELECT eb, ea FROM p),
         reach(a, b) AS (
           SELECT a, b FROM e
           UNION
           SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
         lab AS (SELECT a AS entity_id, LEAST(a, MIN(b)) AS cluster_id
                 FROM reach GROUP BY a),
         labeled AS (SELECT r.entity_id, r.kind,
                       COALESCE(l.cluster_id, r.entity_id) AS cluster_id
                     FROM recs r LEFT JOIN lab l USING (entity_id))
         SELECT CAST(entity_id AS BIGINT) AS entity_id, kind,
           CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
             AS cluster_size
         FROM labeled
         ORDER BY entity_id"""
  }

  /** This family's rows, each beside its DuckDB oracle. */
  val rows: Seq[QueryRow] = Seq(
    // Entity resolution: blocking + edit-distance gate + transitive
    // closure, replayed end to end (seeded dirty/decoy records
    // included) — see EntityResolutionSql's doc for what a mismatch
    // catches.
    QueryRow("q_entity_resolution", entityResolution(_, _))(EntityResolutionSql),
    // Degenerate-block skew + armed purge cap: the census and the
    // over-cap exclusion replay in SQL, so a guard that purges the
    // wrong blocks (or silently drops records instead of edges)
    // flips rows, not just timings.
    QueryRow("q_entity_resolution_skew", entityResolutionSkew)(EntityResolutionSkewSql)
  )
}
