"""Arithmetic over one run's raw observations (see GraftBench.scala).

Everything here is a pure function of the JSON the JVM writes, so each
rule is unit-tested in test_metrics.py.
"""
import bisect
import math
import os
import statistics

NS_PER_MS = 1_000_000

# operator modules the workloads' ops belong to ("job" is a pump job);
# each is reported as ops.<family>_s, zero where a workload has none
FAMILIES = ("job", "dedup", "text", "stream")


def tail_percentile(values, cap=0.90):
    """The highest percentile, at most `cap`, that has at least ten
    samples beyond it (nearest-rank). Returns (value, percentile, n).
    With fewer than eleven samples no percentile qualifies, and the
    maximum is returned with percentile 1.0."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n < 11:
        return xs[-1], 1.0, n
    rank = min(math.ceil(cap * n), n - 10)  # 1-based, >= 10 beyond it
    return xs[rank - 1], rank / n, n


def union_length(intervals, lo, hi):
    """Length of the union of [start, end) intervals, clipped to
    [lo, hi)."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals
                     if min(e, hi) > max(s, lo))
    total, cur_s, cur_e = 0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of it that
    its children's intervals cover. Returns {span id: ns}."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start_ns"], c["end_ns"]) for c in children.get(s["id"], [])]
        out[s["id"]] = (s["end_ns"] - s["start_ns"]) - union_length(
            kids, s["start_ns"], s["end_ns"])
    return out


def listing(*dirs):
    """(files, bytes) of every regular file under `dirs`, as listed on
    disk from outside the program."""
    files = size = 0
    for d in dirs:
        for base, _, names in os.walk(d):
            for n in names:
                p = os.path.join(base, n)
                if os.path.isfile(p) and not os.path.islink(p):
                    files += 1
                    size += os.path.getsize(p)
    return files, size


def write_amp(written_dirs, source_dir):
    """Bytes the jobs left on disk per byte of their source, both by
    listing."""
    _, src = listing(source_dir)
    if src <= 0:
        raise ValueError("source has no bytes")
    return listing(*written_dirs)[1] / src


def fail_frac(ops, wrong_rows):
    """Share of attempted ops that failed or returned a wrong result.
    An op is wrong when its row failed the correctness gate: every
    execution of that row counts, not just one."""
    if not ops:
        raise ValueError("no ops attempted")
    bad = sum(1 for o in ops if not o["ok"] or o["name"] in wrong_rows)
    return bad / len(ops), bad


def _rows(events, name):
    fields = events.get(f"{name}_fields", [])
    return [dict(zip(fields, r)) for r in events.get(name, [])]


def _within(t_ms, op):
    return op["start_ns"] <= t_ms * NS_PER_MS < op["end_ns"]


def attribute(events, ops):
    """Assign listener events to the op whose interval holds their
    timestamp. One op runs at a time, so the assignment is exact.
    Returns {op index: {kind: [event rows]}}."""
    keys = {"tasks": "launch_ms", "stages": "submit_ms", "jobs": "time_ms",
            "progress": "ts_ms", "lifetimes": "start_ms"}
    order = sorted(range(len(ops)), key=lambda i: ops[i]["start_ns"])
    starts = [ops[i]["start_ns"] for i in order]
    out = {i: {k: [] for k in keys} for i in range(len(ops))}
    for kind, key in keys.items():
        for row in _rows(events, kind):
            j = bisect.bisect_right(starts, row[key] * NS_PER_MS) - 1
            if j >= 0 and _within(row[key], ops[order[j]]):
                out[order[j]][kind].append(row)
    return out


def end_to_end(raw, setups):
    """The untraced metrics: set-up, pass wall, op latency, memory."""
    timed = [o for o in raw["ops"] if o.get("loop", "timed") == "timed"]
    lat = [(o["end_ns"] - o["start_ns"]) / NS_PER_MS for o in timed]
    passes = [(p["end_ns"] - p["start_ns"]) / 1e9
              for p in raw["passes"] if p["loop"] == "timed"]
    tail, pct, n = tail_percentile(lat)
    return {
        "setup_s": (statistics.median(setups), "s"),
        "wall_s": (statistics.median(passes), "s"),
        "op_ms_p50": (statistics.median(lat), "ms"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
    }, {"op.n": (n, "count"), "op.tail_ms": (tail, "ms"), "op.tail_pct": (pct, "frac")}


def per_layer(raw, wrong_rows, written):
    """The traced metrics, per traced pass unless named otherwise."""
    spans = raw["trace"]["spans"]
    selfs = self_times(spans)
    traced_ops = [o for o in raw["ops"] if o.get("loop") == "traced"]
    timed_passes = [(p["end_ns"] - p["start_ns"]) / 1e9
                    for p in raw["passes"] if p["loop"] == "timed"]
    untraced_passes = [(p["end_ns"] - p["start_ns"]) / 1e9
                       for p in raw["passes"] if p["loop"] in ("timed", "after")]
    traced_passes = [(p["end_ns"] - p["start_ns"]) / 1e9
                     for p in raw["passes"] if p["loop"] == "traced"]
    npass = len(traced_passes)
    cores = raw["cores"]
    att = attribute(raw["events"], traced_ops)

    def kind_ms(kind, label=None):
        return [selfs[s["id"]] / NS_PER_MS for s in spans
                if s["kind"] == kind and (label is None or s["label"] == label)]

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    m = {}
    m["trace.overhead_frac"] = (med(traced_passes) / med(untraced_passes) - 1, "frac")
    # request layer (pump workloads)
    m["request.parse_ms"] = (med(kind_ms("request.parse")), "ms")
    m["status.request_ms"] = (med(kind_ms("request", "status")), "ms")
    # job layer
    jobs = [o for o in traced_ops if o["family"] == "job"]
    objs = [s for o in jobs for s in o.get("objects", [])]
    n_obj = max(len(objs), 1)
    obj_tail = tail_percentile(objs)[0] if objs else 0.0
    m["job.object_s_p50"] = (med(objs), "s")
    m["job.object_s_p90"] = (obj_tail, "s")
    m["job.fixed_s"] = (med([(o["end_ns"] - o["start_ns"]) / 1e9
                             - sum(o["objects"]) / o["workers"]
                             for o in jobs]), "s")
    job_idx = [i for i, o in enumerate(traced_ops) if o["family"] == "job"]
    job_tasks = [t for i in job_idx for t in att[i]["tasks"]]
    job_wall = sum((traced_ops[i]["end_ns"] - traced_ops[i]["start_ns"]) / 1e9
                   for i in job_idx)
    busy = sum(t["run_ms"] for t in job_tasks) / 1000
    m["job.spark_jobs_per_object"] = (
        sum(len(att[i]["jobs"]) for i in job_idx) / n_obj, "count")
    m["job.tasks_per_object"] = (len(job_tasks) / n_obj, "count")
    m["job.shuffle_write_bytes"] = (
        sum(t["shuffle_write"] for t in job_tasks) / max(npass, 1), "bytes")
    # rows, not bytes: the parquet reader does not report bytes read
    exports = [i for i in job_idx if traced_ops[i]["name"] == "export"]
    read = sum(t["records_read"] for i in exports for t in att[i]["tasks"])
    m["job.read_amp"] = (read / raw["source_rows"] / len(exports) if exports else 0.0,
                         "frac")
    m["job.task_busy_s"] = (busy / max(npass, 1), "s")
    m["job.core_util"] = (busy / (job_wall * cores) if job_wall else 0.0, "frac")
    rows = sum(o.get("rows", 0) for o in jobs)
    m["job.rows_per_s"] = (rows / job_wall if job_wall else 0.0, "1/s")
    m["job.objects_per_s"] = (len(objs) / job_wall if job_wall else 0.0, "1/s")
    # sources layer: what the last round trip left on disk
    for k, (v, u) in written.items():
        m[f"sources.{k}"] = (v, u)
    # planning and execution under each query op
    m["plan.build_ms"] = (med(kind_ms("plan.build")), "ms")
    m["plan.optimize_ms"] = (med(kind_ms("plan.optimize")), "ms")
    m["exec.ms"] = (med(kind_ms("exec")), "ms")
    all_tasks = [t for a in att.values() for t in a["tasks"]]
    all_stages = [s for a in att.values() for s in a["stages"]]
    per = max(npass, 1)
    task_busy = sum(t["run_ms"] for t in all_tasks) / 1000
    op_wall = sum((o["end_ns"] - o["start_ns"]) / 1e9 for o in traced_ops)
    m["exec.jobs"] = (sum(len(a["jobs"]) for a in att.values()) / per, "count")
    m["exec.stages"] = (len(all_stages) / per, "count")
    m["exec.tasks"] = (len(all_tasks) / per, "count")
    m["exec.single_task_stages"] = (
        sum(1 for s in all_stages if s["num_tasks"] == 1) / per, "count")
    m["exec.task_busy_s"] = (task_busy / per, "s")
    m["exec.idle_core_s"] = ((op_wall * cores - task_busy) / per, "s")
    m["exec.scan_rows"] = (sum(t["records_read"] for t in all_tasks) / per, "count")
    for k, f in (("shuffle_read_bytes", "shuffle_read"),
                 ("shuffle_write_bytes", "shuffle_write"), ("spill_bytes", "spill")):
        m[f"exec.{k}"] = (sum(t[f] for t in all_tasks) / per, "bytes")
    m["exec.failed_tasks"] = (sum(t["failed"] for t in all_tasks) / per, "count")
    # pooled kernels
    counters = raw["trace"]["counters"]

    def counter(name):
        return [c["value"] for c in counters if c["name"] == name]
    m["pool.builds"] = (sum(counter("pool.builds")) / per, "count")
    m["pool.build_s"] = (sum(counter("pool.build_s")) / per, "s")
    m["pool.storage_mb"] = (max(counter("pool.storage_mb") or [0.0]), "MB")
    # wall per operator family
    for fam in FAMILIES:
        m[f"ops.{fam}_s"] = (sum((o["end_ns"] - o["start_ns"]) / 1e9
                                 for o in traced_ops if o["family"] == fam) / per, "s")
    # streaming
    prog = [p for a in att.values() for p in a["progress"]]
    life = [x for a in att.values() for x in a["lifetimes"]]
    m["stream.incarnations"] = (len(life) / per, "count")
    m["stream.batches"] = (len(prog) / per, "count")
    for k, f in (("trigger_ms", "trigger_ms"), ("add_batch_ms", "add_batch_ms"),
                 ("wal_commit_ms", "wal_commit_ms"), ("planning_ms", "planning_ms"),
                 ("latest_offset_ms", "latest_offset_ms")):
        m[f"stream.{k}"] = (sum(p[f] for p in prog) / per, "ms")
    m["stream.start_stop_ms"] = (
        (sum(x["end_ms"] - x["start_ms"] for x in life)
         - sum(p["trigger_ms"] for p in prog)) / per, "ms")
    # JVM, over the untraced loop
    m["jvm.gc_s"] = (raw["loop_timed"]["gc_s"] / max(len(timed_passes), 1), "s")
    m["jvm.heap_used_mb"] = (raw["loop_timed"]["heap_peak_mb"], "MB")
    frac, _ = fail_frac(raw["ops"], wrong_rows)
    m["fail_frac"] = (frac, "frac")
    return m
