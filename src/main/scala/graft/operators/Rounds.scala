package graft.operators

import graft.CachePool
import graft.CachePool.Held
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The operator layer's one fixpoint-round driver. Every iterative
  * graph loop (connected components and its star-contraction fallback
  * in [[Dedup.clustersFrom]], [[Graph.kcoreFrom]], [[Graph.lpaFrom]],
  * [[Graph.pageRank]]) is a `step` from one state frame to the next;
  * [[iterate]] owns the rest of a round:
  *
  *  - MATERIALIZATION. A round's frame goes through
  *    [[CachePool.materialize]] (`spark.graft.pool.materialize`), so
  *    lineage never grows past `everyK` rounds: an iterative plan built
  *    on the previous round's plan grows until the driver cannot
  *    compile it, long before any data moves. `parquet` mode makes
  *    every round survive executor loss.
  *  - THE HALTING TEST. `halted` runs one scalar job over the frame
  *    just materialized (a Pregel-style count, never a collect).
  *  - RELEASE. Once round k is materialized, round k−1's blocks or
  *    `graft-pool` dir and the steps' own scaffolding are freed at
  *    once, not when a GC lets the ContextCleaner reach them. The
  *    final state is still referenced lazily by the caller's result,
  *    so its release goes to the open pooled build
  *    ([[CachePool.releasedByBuild]]).
  *  - TELEMETRY. One INFO line per round (label, round, changed,
  *    seconds) on the slf4j logger `graft.operators.Rounds`.
  *
  * Round count is the cost model of these loops: each round is a few
  * shuffles plus a fixed scheduling cost, which lives here.
  */
object Rounds {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.operators.Rounds")

  /** What a halting test read off a materialized round: the scalar the
    * round logs as `changed` (−1 where nothing is measured) and whether
    * the loop stops there. */
  final case class Verdict(changed: Long, halt: Boolean)

  /** The last state, and whether a halting test stopped the loop
    * (false when it ran out of rounds). */
  final case class Outcome(state: DataFrame, halted: Boolean)

  /** Halting test of the loops whose step projects a boolean `chg`
    * column: a filter-count over the materialized round, done at 0. */
  val noneChanged: DataFrame => Verdict = { df =>
    val n = df.filter(col("chg")).count()
    Verdict(n, n == 0L)
  }

  /** A fixed-round loop: no halting job. */
  val fixed: DataFrame => Verdict = _ => Verdict(-1L, halt = false)

  /** Run `step` from `init` until `halted` says stop or `maxRounds`
    * rounds have run. Round r is materialized, and tested, when
    * r % `everyK` == 0 and on round `maxRounds`; the rounds between
    * stay lazy on top of the last materialized one.
    *
    * `init` and each step's result are [[Held]]: the frame and what
    * frees the frame (`init`) or the step's own scaffolding (a frame
    * it persisted for the round's plan); both are released once a
    * later round is materialized. */
  def iterate(label: String, init: Held[DataFrame], maxRounds: Int,
      everyK: Int = 1)(step: DataFrame => Held[DataFrame])(
      halted: DataFrame => Verdict): Outcome = {
    // the state, and what frees everything it stands on: the last
    // materialized round and the scaffolding of the lazy rounds since
    var state = init
    var round = 0
    var halt = false
    while (!halt && round < maxRounds) {
      val t0 = System.nanoTime()
      round += 1
      val prior = state
      val next = step(prior.value)
      val changed = if (round % everyK == 0 || round == maxRounds) {
        state = CachePool.materialize(next.value)
        prior.release(); next.release()
        val v = halted(state.value)
        halt = v.halt
        v.changed
      } else {
        state = Held(next.value, () => { prior.release(); next.release() })
        -1L
      }
      if (log.isInfoEnabled) log.info(
        f"$label round=$round changed=$changed ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    Outcome(CachePool.releasedByBuild(state), halt)
  }
}
