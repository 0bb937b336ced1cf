package graft

/** The bench budget scheduler's DECISIONS as pure functions, so the
  * contract is unit-pinned instead of only observable on a 20-minute
  * run. [[Bench]] is the only caller.
  *
  * r17 revision (the three-rounds-missing driver composite): the
  * r16 contract survived a catastrophically degraded window with raw
  * data, but its ALPHABETICAL first sweep burned the whole 1,500 s
  * budget on 113 of 247 queries (BENCH_r16: sweeps=1, partial=1) and
  * no query got a second run. The fix is a committed PER-QUERY
  * REFERENCE-TIME table (`bench_reference.json`, regenerated each
  * round from the last quiet artifact) feeding three levers:
  *
  *   - the FIRST sweep walks ASCENDING expected cost, so a slow
  *     window completes the broad cheap surface (twice, with the
  *     rescue sweep) instead of an alphabetical prefix once;
  *   - `fitsQuery` gets an estimate even before any in-run best
  *     exists: reference × a RUNNING LOAD FACTOR (median observed/
  *     reference over the current sweep — the r16 advisory's
  *     running-median gate), so the first sweep skips predictable
  *     non-fits instead of dying on whatever the load hits;
  *   - a PER-QUERY WATCHDOG cancels the query's job group after
  *     max(floor, k × reference) — one 381 s pathology (q_ivfpq_recall,
  *     r16, 2.65 s isolated) can no longer eat a quarter of the
  *     budget. A watchdog kill is recorded as a distinct
  *     `watchdog_timeout` run, never a crash-fast time, and does not
  *     fail the process.
  */
object BenchSchedule {
  /** Seconds reserved at the tail for flushing the JSON artifact. */
  val FlushMarginS = 15.0
  /** Minimum remaining budget for STARTING another configured sweep —
    * a partial quiet sweep rescues more per-query mins than no sweep,
    * so the bar is deliberately one short query's worth, not a full
    * sweep estimate (the r15 guard's inversion). */
  val MinStartS = 60.0
  /** Watchdog default: cancel after k × reference time... */
  val WatchdogK = 8.0
  /** ...but never sooner than this floor (sub-second queries must
    * survive an ordinary 10× load window un-killed). */
  val WatchdogFloorS = 45.0

  /** Start the next configured sweep? */
  def startSweep(budgetS: Double, elapsedS: Double): Boolean =
    budgetS - elapsedS >= MinStartS

  /** Parse the committed reference table — a flat JSON object of
    * query → seconds. Tolerant by construction (regex over pairs):
    * a missing or malformed file degrades to an empty map, which
    * degrades every lever to the r16 behavior, never to a crash. */
  def parseReference(json: String): Map[String, Double] =
    "\"([^\"]+)\"\\s*:\\s*([0-9]+(?:\\.[0-9]+)?)".r
      .findAllMatchIn(json)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap

  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** First-sweep walk order: ASCENDING reference cost (name
    * tie-break), queries without a reference placed at the median —
    * inside the bulk, neither privileged nor starved. With no
    * reference table at all this is exactly the old alphabetical
    * order. */
  def firstOrder(names: Seq[String],
      refS: String => Option[Double]): Seq[String] = {
    val med = median(names.flatMap(refS(_)))
    names.sortBy(n => (refS(n).getOrElse(med), n))
  }

  /** Rescue-sweep walk order: DESCENDING best-so-far time — the
    * biggest composite contributors re-measure first if the sweep
    * gets cut. A query with no in-run best falls back to its
    * reference time; a query with neither sorts first (everything to
    * gain). */
  def rescueOrder(names: Seq[String], bestS: String => Option[Double],
      refS: String => Option[Double]): Seq[String] =
    names.sortBy(n =>
      (-bestS(n).orElse(refS(n)).getOrElse(Double.MaxValue), n))

  /** Running estimate of the current window's degradation: median of
    * observed/reference over this sweep's completed runs, never below
    * 1 (a quiet window must not shrink estimates below reference).
    * Fewer than 3 samples → 1.0 (no evidence, no inflation). */
  def loadFactor(samples: Seq[(Double, Double)]): Double =
    if (samples.size < 3) 1.0
    else math.max(1.0,
      median(samples.map { case (obs, ref) => obs / math.max(ref, 1e-3) }))

  /** Expected cost of running a query now: the in-run best if one
    * exists (an actual measurement on this host beats any table),
    * else reference × load factor, else unknown. */
  def estimate(bestS: Option[Double], refS: Option[Double],
      load: Double): Option[Double] =
    bestS.orElse(refS.map(_ * load))

  /** Run this query now? Skips a query that predictably won't fit
    * (1.5 × its estimate vs. the budget minus the flush margin) —
    * later, cheaper queries in the walk may still fit, so the caller
    * keeps walking. Unknown estimate → run (new queries get their
    * first measurement up to the hard deadline). */
  def fitsQuery(estS: Option[Double], budgetS: Double,
      elapsedS: Double): Boolean = {
    val deadline = budgetS - FlushMarginS
    elapsedS < deadline && estS.forall(e => elapsedS + 1.5 * e < deadline)
  }

  /** Watchdog deadline for one query: max(floor, k × reference);
    * none without a reference (a new query's first cost is unknown —
    * killing it on a guess would erase the only measurement) and
    * none when k ≤ 0 (the off switch). */
  def watchdogS(refS: Option[Double], k: Double = WatchdogK,
      floorS: Double = WatchdogFloorS): Option[Double] =
    if (k <= 0) None else refS.map(r => math.max(floorS, k * r))

  /** Admit the load-adaptive EXTRA sweep? Only on the load-window
    * signature (first complete sweep ≥ 1.5× the last) and only if a
    * FULL sweep fits, estimated at the fastest COMPLETE sweep's
    * wall-clock — a loaded sweep must not inflate the estimate and
    * veto the quiet sweep that would rescue the artifact (the r15
    * bug), and a budget-cut PARTIAL sweep's tiny wall must not
    * underestimate it and admit a sweep that cannot fit (the r16
    * advisory) — hence `None` (no complete sweep yet) never admits. */
  def extraSweep(loadRatio: Double, fastestCompleteWallS: Option[Double],
      budgetS: Double, elapsedS: Double): Boolean =
    loadRatio > 1.5 &&
      fastestCompleteWallS.exists(w => elapsedS + w < budgetS - FlushMarginS)
}
