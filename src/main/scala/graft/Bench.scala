package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main — emits ONE JSON line of per-query timings.
  *
  * Measurement methodology (the r7 lesson, BASELINE.md "noise
  * characterization"): this host shows VM-level heavy-tail noise —
  * identical code swings 3-10× between fresh runs, and a sustained
  * load window poisons every query it overlaps. Back-to-back repeats
  * of one query (r3-r7's best-of-2) sit INSIDE one load window, so
  * both runs inflate together and the artifact lies. The fix is
  * INTERLEAVED full sweeps: the whole query list runs N times
  * end-to-end (default 2, `SPARK_GRAFT_SWEEPS` to override), so the
  * repeats of any one query are minutes apart and a single load
  * window can poison at most one of them. Reported per-query time is
  * the cross-sweep MIN; the headline `value` is `total_composite` =
  * Σ per-query min — the number a quiet host reproduces.
  *
  * The artifact is self-defending: `runs` carries every raw timing
  * (per sweep, -1 for an errored or watchdog-cancelled run; a query a
  * budget stop never reached in some sweep simply has fewer entries)
  * and `sweep_totals` the raw per-sweep sums, so a reader can see
  * host-load windows (one sweep elevated, composite unaffected)
  * without any prose appendix. A query is an error only if it fails
  * in EVERY sweep that reached it — and errors are excluded from
  * every total (a crash must not register as fast).
  *
  * BUDGET (r14: killed mid-stage, no artifact; r15: one loaded sweep
  * cancelled the quiet rescue sweep; r16: the graceful-stop contract
  * held but the ALPHABETICAL first sweep burned the whole budget on
  * 113/247 queries under the worst load window yet measured, so no
  * query got two runs). The r17 contract adds the committed
  * REFERENCE-TIME table (`bench_reference.json`, regenerated each
  * round from the last quiet artifact; `SPARK_GRAFT_BENCH_REF` to
  * point elsewhere) so a DEGRADED window still yields gateable mins:
  *
  *   - a configured sweep STARTS whenever ≥ 60 s of budget remain
  *     (`SPARK_GRAFT_BENCH_BUDGET_S`, default 1500 s);
  *   - the FIRST sweep walks ASCENDING reference cost — a slow
  *     window completes the broad cheap surface instead of an
  *     alphabetical prefix; rescue sweeps walk DESCENDING best-time
  *     (reference as fallback), so the biggest composite
  *     contributors re-measure first if the sweep gets cut;
  *   - a MID-SWEEP guard skips any query that predictably won't fit:
  *     elapsed + 1.5 × estimate vs. budget minus a 15 s flush
  *     margin, where estimate = in-run best, else reference × the
  *     running load factor (median observed/reference this sweep) —
  *     so even the first sweep self-censors once the window's
  *     degradation is measured; the sweep hard-stops at the flush
  *     margin and whatever ran is flushed (`partial_sweeps` counts
  *     cut sweeps);
  *   - a PER-QUERY WATCHDOG (`SPARK_GRAFT_WATCHDOG_K`, default 8,
  *     `0` disables) cancels the query's Spark job group after
  *     max(45 s, k × reference) — one 381 s pathology cannot eat a
  *     quarter of the budget. Watchdog kills are recorded as
  *     `watchdog_timeout` runs (`n_watchdog` in the artifact), never
  *     crash-fast times, and do not fail the process;
  *   - the load-adaptive EXTRA sweep (sweep1/sweepN > 1.5) runs only
  *     if a FULL sweep fits, estimated at the fastest COMPLETE
  *     sweep's wall-clock (partial-sweep walls excluded — the r16
  *     advisory; no complete sweep → no extra sweep).
  *
  * One code path per row: Bench runs each query exactly as Verify
  * does (the session from [[Sessions.build]], every `*_saved` row
  * training and publishing its artifact in every sweep), so a timed
  * row is a checked row.
  *
  * Output ordering: the COMPACT summary line prints FIRST AND LAST
  * (every round since r5 recorded `parsed: null` because the full
  * runs-matrix line outgrew the driver's capture, and the driver has
  * captured the head in some rounds and the tail in others — leading
  * AND trailing compact lines make either capture direction
  * parseable), the full line sits between them, and per-sweep
  * progress goes to STDERR so stdout stays a clean JSON record even
  * when the process is killed mid-run. BELT-AND-SUSPENDERS (r18, the
  * four-rounds-of-`parsed: null` fix): the same two lines are ALSO
  * written to a file (`SPARK_GRAFT_BENCH_OUT`, default
  * `bench_last.json` in the working dir — compact line, then full
  * line, JSONL) so per-query data never depends on stdout capture.
  *
  * PER-OPERATOR SIGNAL (r18, the r17 verdict's top item — session
  * pooling made ~45 rows' mins warm checkpoint serves, so the
  * artifact could no longer attribute a regression in any pooled
  * kernel):
  *
  *   - every [[CachePool]] BUILD (pooled kernels, relations,
  *     trainers, layouts) is timed and
  *     charged to the query whose timed run paid it; the full
  *     artifact line carries `pool_builds` (kernel, seconds,
  *     charging query@sweep) and the compact line carries
  *     `n_pool_builds` / `pool_build_sec`, so sweep-1 totals
  *     decompose into serve cost + build cost per kernel;
  *   - COLD mode (`SPARK_GRAFT_BENCH_COLD=1`, `bench_cold` in the
  *     artifact): [[CachePool.clear]] runs BEFORE EVERY QUERY, which
  *     drops every cross-query memo — pooled kernels and swap
  *     generations, the shingle frame and curate upstreams, the
  *     IVF/PQ/SQ trainers, resolved relations, and the bucketed /
  *     date-partitioned join layouts —
  *     so each row's time is its full from-parquet operator cost
  *     (q_bucketed_join and q_dpp_join included: they pay their
  *     layout write when cold). It is off by default; a cold
  *     artifact committed per round (plans/r18/) keeps pooled-kernel
  *     regressions attributable.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sweeps = sys.env.getOrElse("SPARK_GRAFT_SWEEPS", "2").toInt
    val budgetS = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_S", "1500").toDouble
    val watchdogK = sys.env.getOrElse("SPARK_GRAFT_WATCHDOG_K",
      BenchSchedule.WatchdogK.toString).toDouble
    val cold = sys.env.getOrElse("SPARK_GRAFT_BENCH_COLD", "0") == "1"
    // committed per-query reference times (seconds, last quiet
    // artifact); missing/malformed file → empty map → r16 behavior
    val refTimes: Map[String, Double] = {
      val cands = sys.env.get("SPARK_GRAFT_BENCH_REF").toSeq ++
        Seq("bench_reference.json", "/root/repo/bench_reference.json")
      cands.iterator.flatMap { p =>
        scala.util.Try(new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
          java.nio.charset.StandardCharsets.UTF_8)).toOption
      }.nextOption().map(BenchSchedule.parseReference).getOrElse(Map.empty)
    }
    val wall0 = System.nanoTime()
    def elapsedS: Double = (System.nanoTime() - wall0) / 1e9
    val spark = Sessions.build("graft-bench")
    // Untimed warmup: the first shuffle/broadcast/window query in a
    // fresh JVM pays JIT + codegen + FS-metadata costs that would land
    // on whichever query happens to run first.
    try {
      SparkEntry.queries.get("q_agg_pricing").foreach(_(spark, sfDir).count())
      SparkEntry.queries.get("q_join_region").foreach(_(spark, sfDir).count())
      SparkEntry.queries.get("q_window_rank").foreach(_(spark, sfDir).count())
    } catch { case _: Throwable => () }

    // Deterministic order + cache hygiene between queries: Map order
    // shifts as queries are added, which lets one query's leftover
    // blocks/GC pressure land on a different victim each build.
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the sweep — the local
    // iterate-on-one-query loop; the driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val fnByName = selected.toMap
    val names = selected.map(_._1)
    def refOf(name: String): Option[Double] = refTimes.get(name)

    var nWatchdog = 0
    def once(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        wdS: Option[Double], sweepTag: String): (Double, Option[String]) = {
      spark.catalog.clearCache()
      if (cold) CachePool.clear()
      val gid = s"bench-$name"
      @volatile var fired = false
      // repeating timer: cancelJobGroup only kills ACTIVE jobs, and a
      // multi-stage query submits many — re-fire until the query's
      // thread returns so later jobs in the group die too
      val timer = wdS.map { w =>
        val t = new java.util.Timer("bench-watchdog", true)
        t.scheduleAtFixedRate(new java.util.TimerTask {
          override def run(): Unit = {
            fired = true
            scala.util.Try(spark.sparkContext.cancelJobGroup(gid))
            ()
          }
        }, math.max(1L, (w * 1000).toLong), 2000L)
        t
      }
      spark.sparkContext.setJobGroup(gid, s"bench $name",
        interruptOnCancel = true)
      val t0 = System.nanoTime()
      // pooled builds that run inside this timed region are charged
      // to this query in the artifact's pool_builds map
      val err = CachePool.charging(s"$name@$sweepTag") {
        try { fn(spark, sfDir).count(); None }
        catch { case e: Throwable =>
          Some(Option(e.getMessage).getOrElse(e.getClass.getName)
            .takeWhile(_ != '\n').take(200)) }
        finally {
          timer.foreach(_.cancel())
          spark.sparkContext.clearJobGroup()
        }
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // a watchdog kill is its own category: never a crash-fast time,
      // never a process failure — the artifact records the cancel
      val tagged =
        if (fired && err.nonEmpty) {
          nWatchdog += 1
          Some(f"watchdog_timeout after $dt%.0f s " +
            f"(> ${watchdogK}%.0f x ref ${refOf(name).getOrElse(0.0)}%.2f s): " +
            err.get.take(120))
        } else err
      (dt, tagged)
    }

    // sweep-major loop: run EVERY query once, then start sweep 2 —
    // never query-major (that recreates the adjacent-repeat blindspot)
    val sweepBuf = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.immutable.ListMap[String, (Double, Option[String])]]
    val sweepWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    def totalOf(rs: Iterable[(Double, Option[String])]): Double =
      rs.collect { case (t, None) => t }.sum
    def bestOf(name: String): Option[Double] = {
      val ok = sweepBuf.flatMap(_.get(name)).collect { case (t, None) => t }
      if (ok.isEmpty) None else Some(ok.min)
    }
    // per-sweep progress on STDERR: a killed run still leaves a
    // human-readable record of how far it got and what each completed
    // sweep cost, without polluting the stdout JSON contract
    def progress(tag: String): Unit = {
      val rs = sweepBuf.last
      System.err.println(f"[bench] $tag done: sweep_total=${totalOf(rs.values)}%.1f s, " +
        f"n_ok=${rs.values.count(_._2.isEmpty)}/${rs.size} of ${selected.size}, " +
        f"elapsed=$elapsedS%.1f s")
    }
    var partialSweeps = 0
    // One sweep: sweep 1 walks ASCENDING reference cost; rescue
    // sweeps walk DESCENDING best-time (reference fallback), so a cut
    // sweep re-measures the biggest composite contributors first.
    // Returns whether the sweep completed.
    def runSweep(first: Boolean): Boolean = {
      val order =
        if (first) BenchSchedule.firstOrder(names, refOf)
        else BenchSchedule.rescueOrder(names, bestOf, refOf)
      val t0 = elapsedS
      val buf = scala.collection.mutable.LinkedHashMap
        .empty[String, (Double, Option[String])]
      // this sweep's (observed, reference) samples drive the running
      // load factor — the current window's degradation, not history's
      val samples = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
      var cut = false
      val it = order.iterator
      while (it.hasNext && !cut) {
        val name = it.next()
        if (elapsedS >= budgetS - BenchSchedule.FlushMarginS) cut = true
        else {
          // skip a query that predictably won't fit; cheaper ones
          // later in the walk may still fit, so keep walking
          val est = BenchSchedule.estimate(bestOf(name), refOf(name),
            BenchSchedule.loadFactor(samples.toSeq))
          if (BenchSchedule.fitsQuery(est, budgetS, elapsedS)) {
            val r = once(name, fnByName(name),
              BenchSchedule.watchdogS(refOf(name), watchdogK),
              s"s${sweepBuf.size + 1}")
            buf(name) = r
            refOf(name).foreach(ref => samples += ((r._1, ref)))
          }
        }
      }
      sweepBuf += scala.collection.immutable.ListMap(buf.toSeq: _*)
      sweepWalls += elapsedS - t0
      val complete = buf.size == selected.size
      if (!complete) partialSweeps += 1
      complete
    }
    var i = 1
    while (i <= sweeps &&
        (i == 1 || BenchSchedule.startSweep(budgetS, elapsedS))) {
      runSweep(first = i == 1)
      progress(s"sweep $i/$sweeps")
      i += 1
    }
    val skippedSweeps = sweeps - sweepBuf.size
    // LOAD-ADAPTIVE extra sweep (r10 methodology hardening): when the
    // first sweep ran ≥1.5× the last — the signature of a host-load
    // window overlapping the early sweep — one additional sweep runs
    // so every query still gets ≥3 load-clean shots at its min.
    // Bounded at one extra, and gated on the wall-clock budget at the
    // fastest COMPLETE sweep's wall time (a loaded sweep must not
    // inflate the estimate and veto the quiet sweep — the r15 bug; a
    // cut partial sweep's tiny wall must not deflate it — the r16
    // advisory).
    val completeSweeps = sweepBuf.filter(_.size == selected.size)
    val completeWalls = sweepBuf.indices
      .filter(j => sweepBuf(j).size == selected.size).map(sweepWalls)
    val loadRatio =
      if (completeSweeps.size >= 2 && totalOf(completeSweeps.last.values) > 0)
        totalOf(completeSweeps.head.values) / totalOf(completeSweeps.last.values)
      else 1.0
    val extraSweeps =
      if (BenchSchedule.extraSweep(loadRatio, completeWalls.minOption,
          budgetS, elapsedS)) {
        runSweep(first = false)
        progress("extra sweep (load-adaptive)")
        1
      } else 0

    val perQuery = selected.map { case (name, _) =>
      val rs = sweepBuf.toSeq.flatMap(_.get(name))
      val ok = rs.collect { case (t, None) => t }
      val err = if (ok.nonEmpty || rs.isEmpty) None else rs.last._2
      (name, if (ok.nonEmpty) ok.min else -1.0, err, rs)
    }

    // locale-pinned: under a comma-decimal default locale the f""
    // interpolator would emit 1,234 and the artifact stops being JSON
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def esc(s: String): String =
      s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"
                  case c if c < ' ' => " "; case c => c.toString }
    val ok = perQuery.filter(q => q._2 >= 0 && q._3.isEmpty)
    val errored = perQuery.filter(_._3.nonEmpty)
    val notRun = perQuery.filter(q => q._4.isEmpty)
    val qs = ok.map { case (k, v, _, _) => s"\"${esc(k)}\":" + num(v) }
      .mkString("{", ",", "}")
    val errs = errored.map { case (k, _, e, _) =>
      s"\"${esc(k)}\":\"${esc(e.get)}\"" }.mkString("{", ",", "}")
    val runsJson = perQuery.filter(_._4.nonEmpty).map { case (k, _, _, rs) =>
      s"\"${esc(k)}\":" + rs.map {
        case (t, None) => num(t)
        case _ => "-1"
      }.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // per-sweep raw sums over the runs that succeeded in that sweep
    // (n_ok alongside, so sweeps stay comparable when a run errored
    // or a budget stop cut the sweep short)
    val sweepTotals = sweepBuf.toSeq.map(rs => totalOf(rs.values))
    val sweepOk = sweepBuf.toSeq.map(_.values.count(_._2.isEmpty))
    val composite = ok.map(_._2).sum
    // "sweeps" is the TOTAL run count (configured + adaptive extra −
    // budget-skipped); "partial_sweeps" counts sweeps a budget stop
    // cut short (their completed runs still feed every min);
    // "skipped_sweeps" counts configured sweeps never started.
    // per-kernel pooled build cost, charged to the query whose timed
    // run paid it — the r17 verdict's per-operator-signal restoration:
    // a reader decomposes any sweep total into serve + build cost, and
    // a pooled-kernel regression shows up HERE even when every min is
    // a warm serve
    val poolBuilds = CachePool.drainBuildLog()
    val poolBuildSec = poolBuilds.map(_._2).sum
    val poolJson = poolBuilds.map { case (k, s, q) =>
      s"""{"kernel":"${esc(k)}","sec":${num(s)},"charge":"${esc(q)}"}"""
    }.mkString("[", ",", "]")
    val base =
      s""""unit":"sec","sweeps":${sweepBuf.size},""" +
      s""""extra_sweeps":$extraSweeps,"skipped_sweeps":$skippedSweeps,""" +
      s""""partial_sweeps":$partialSweeps,""" +
      s""""bench_cold":${if (cold) 1 else 0},""" +
      s""""n_pool_builds":${poolBuilds.size},""" +
      s""""pool_build_sec":${num(poolBuildSec)},""" +
      s""""ref_n":${refTimes.size},"n_watchdog":$nWatchdog,""" +
      s""""load_ratio":${num(loadRatio)},""" +
      s""""total_composite":${num(composite)},""" +
      s""""sweep_totals":${sweepTotals.map(t => num(t)).mkString("[", ",", "]")},""" +
      s""""sweep_n_ok":${sweepOk.mkString("[", ",", "]")},""" +
      s""""sweep_walls":${sweepWalls.map(t => num(t)).mkString("[", ",", "]")},""" +
      s""""methodology":"per-query min over ${sweepBuf.size} interleaved sweeps""" +
      s""" ($sweeps configured, $extraSweeps load-adaptive, $partialSweeps cut by the budget's""" +
      s""" graceful mid-sweep stop; sweep 1 ascends reference cost, rescue sweeps descend best-time;""" +
      s""" estimates = best | ref x running load factor; watchdog cancels at max(45s, ${watchdogK}x ref));""" +
      s""" raw timings in runs[query][attempt]""""
    // COMPACT line FIRST and LAST (r16): every driver artifact since
    // r5 came back `parsed: null` because the full runs-matrix line
    // outgrew the capture, and capture direction has varied by round —
    // the short headline line brackets the full one so either a head
    // or a tail capture contains a parseable record.
    val top10 = ok.sortBy(-_._2).take(10)
      .map { case (k, v, _, _) => s"\"${esc(k)}\":" + num(v) }
      .mkString("{", ",", "}")
    val compact = s"""{"metric":"total","value":${num(composite)},$base,"n_queries":${ok.size},"n_errors":${errored.size},"n_not_run":${notRun.size},"top10":$top10,"sf":"$sfDir"}"""
    val full = s"""{"metric":"total","value":${num(composite)},$base,"queries":$qs,"runs":$runsJson,"pool_builds":$poolJson,"errors":$errs,"sf":"$sfDir"}"""
    println(compact)
    println(full)
    println(compact)
    // stdout-independent channel (r18): the driver recorded
    // `parsed: null` for four consecutive rounds because the stdout
    // capture truncated — the same two lines land in a stable file
    // (compact first, then full; JSONL) so per-query data survives any
    // capture failure. Best-effort: an unwritable path must not fail
    // the run that just produced a good stdout record.
    scala.util.Try {
      val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_last.json")
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (compact + "\n" + full + "\n").getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
    }
    spark.stop()
    // watchdog timeouts are the budget contract working, not a crash —
    // only a genuine every-sweep failure fails the process
    if (errored.exists(!_._3.get.startsWith("watchdog_timeout")))
      sys.exit(1)
  }
}
