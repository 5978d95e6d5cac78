"""Metric arithmetic of the benchmark: percentiles, span self time, core
utilisation, and the reduction of one run record (written by the JVM
driver, see src/main/scala/graftbench/Main.scala) to the end-to-end and
per-layer metrics named in BENCHMARK.json.

Times in the run record are epoch milliseconds (floats); metrics are in
seconds unless their name says otherwise."""

import statistics

END_TO_END = ("throughput_ops_s", "latency_p50_s", "latency_p90_s", "setup_s")

PER_LAYER = (
    "operators.build_s", "operators.exec_s", "operators.driver_only_s",
    "plans.plan_s", "plans.rewrite_hits",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.wait_s",
    "exec.task_s", "exec.core_util",
    "exchange.shuffle_write_bytes", "exchange.shuffle_read_bytes", "exchange.spill_bytes",
    "functions.cosine.rows_per_s", "functions.topk_buffer.rows_per_s",
    "functions.pq_adc_score.rows_per_s", "functions.minhash_sig.rows_per_s",
    "functions.token_window_hashes.rows_per_s", "functions.bpe_encode.rows_per_s",
    "sources.scan_s", "sources.scan_rows_per_s", "sources.write_s", "sources.bytes_written",
    "sources.delete_rewrite_frac",
    "checkpoints.persisted_rdds_delta", "jvm.gc_s", "jvm.retained_heap_mb",
)

UNITS = {
    "throughput_ops_s": "ops/s", "latency_p50_s": "s", "latency_p90_s": "s", "setup_s": "s",
    "plans.rewrite_hits": "count", "sched.jobs": "count", "sched.stages": "count",
    "sched.tasks": "count", "exec.core_util": "fraction",
    "exchange.shuffle_write_bytes": "bytes", "exchange.shuffle_read_bytes": "bytes",
    "exchange.spill_bytes": "bytes", "sources.scan_rows_per_s": "rows/s",
    "sources.bytes_written": "bytes", "sources.delete_rewrite_frac": "fraction",
    "checkpoints.persisted_rdds_delta": "count", "jvm.retained_heap_mb": "MB",
}
for _name in PER_LAYER:
    if _name.endswith(".rows_per_s"):
        UNITS[_name] = "rows/s"
    elif _name.endswith("_s"):
        UNITS.setdefault(_name, "s")

# phases whose time is the operator's own work (plans.plan is tracing-only)
WORK_PHASES = ("operators.build", "operators.exec", "sources.write", "sources.delete")


def percentile(values, q):
    """Linear interpolation between closest ranks (numpy's default), q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover (children
    may overlap one another, e.g. concurrent broadcast jobs)."""
    s, e = span
    return (e - s) - union_length(children, s, e)


def core_util(task_s, wall_s, cores):
    """Share of the session's cores busy running tasks."""
    return task_s / (wall_s * cores) if wall_s > 0 and cores > 0 else 0.0


def op_spans(op):
    """Span tree of one traced op: the root, its phase children, and each
    Spark job attached to the phase during which it started (or to the
    root when it started outside every phase)."""
    phases = [{"name": n, "start": s, "end": e, "children": []} for n, s, e in op.get("phases", [])]
    root = {"name": op["op"], "id": op.get("req"), "start": op["start"], "end": op["end"],
            "children": phases}
    for job_id, s, e in op.get("jobs", []):
        job = {"name": f"job {job_id}", "start": s, "end": e, "children": []}
        parent = next((p for p in phases if p["start"] <= s <= p["end"]), root)
        parent["children"].append(job)
    annotate_self(root)
    return root


def annotate_self(span):
    span["self_ms"] = self_time((span["start"], span["end"]),
                                [(c["start"], c["end"]) for c in span["children"]])
    for c in span["children"]:
        annotate_self(c)


def by_pass(ops):
    passes = {}
    for op in ops:
        passes.setdefault((op["client"], op["pass"]), []).append(op)
    return passes


def client_throughput(loop):
    """Sum over clients of the ops a client completed in its passes divided
    by the time those passes took."""
    total = 0.0
    for client in sorted({p["client"] for p in loop["passes"]}):
        wall = sum(p["end"] - p["start"] for p in loop["passes"] if p["client"] == client) / 1000.0
        total += sum(1 for o in loop["ops"] if o["client"] == client) / wall
    return total


def pass_series(loop):
    """ops/s of each pass, in (client, pass) order."""
    counts = {}
    for o in loop["ops"]:
        counts[(o["client"], o["pass"])] = counts.get((o["client"], o["pass"]), 0) + 1
    return [round(counts.get((p["client"], p["pass"]), 0) / ((p["end"] - p["start"]) / 1000.0), 4)
            for p in sorted(loop["passes"], key=lambda p: (p["client"], p["pass"]))]


def op_medians(loop):
    """Median latency (s) of each op in a loop."""
    lat = {}
    for o in loop["ops"]:
        lat.setdefault(o["op"], []).append((o["end"] - o["start"]) / 1000.0)
    return {k: statistics.median(v) for k, v in sorted(lat.items())}


def end_to_end(run):
    """The four end-to-end metrics of a run record, plus sample counts."""
    loop = run["timed"]
    lat = [(o["end"] - o["start"]) / 1000.0 for o in loop["ops"]]
    p90 = percentile(lat, 90)
    return {
        "throughput_ops_s": client_throughput(loop),
        "latency_p50_s": percentile(lat, 50),
        "latency_p90_s": p90,
        "setup_s": statistics.median(run["setup_s"]),
    }, {"samples": len(lat), "beyond_p90": sum(1 for x in lat if x > p90)}


def loop_e2e(loop):
    lat = [(o["end"] - o["start"]) / 1000.0 for o in loop["ops"]]
    return {"throughput_ops_s": client_throughput(loop),
            "latency_p50_s": percentile(lat, 50), "latency_p90_s": percentile(lat, 90)}


def _phase_s(op, names):
    return sum(e - s for n, s, e in op.get("phases", []) if n in names) / 1000.0


def _driver_only_s(op):
    jobs = [(s, e) for _, s, e in op.get("jobs", [])]
    return sum((e - s) - union_length(jobs, s, e)
               for n, s, e in op.get("phases", []) if n in WORK_PHASES) / 1000.0


def _agg(op, key):
    return (op.get("agg") or {}).get(key, 0)


def per_layer(run, cores):
    """Per-layer metrics of the traced loop: per-pass sums, median over
    passes; plus the window-level core utilisation and the probes."""
    loop = run["traced"]
    passes = list(by_pass(loop["ops"]).values())

    def med(f):
        return statistics.median(sum(f(o) for o in ops) for ops in passes)

    m = {
        "operators.build_s": med(lambda o: _phase_s(o, ("operators.build",))),
        "operators.exec_s": med(lambda o: _phase_s(o, ("operators.exec",))),
        "operators.driver_only_s": med(_driver_only_s),
        "plans.plan_s": med(lambda o: _phase_s(o, ("plans.plan",))),
        "plans.rewrite_hits": med(lambda o: o.get("rewrite_hits", 0)),
        "sched.jobs": med(lambda o: _agg(o, "jobs")),
        "sched.stages": med(lambda o: _agg(o, "stages")),
        "sched.tasks": med(lambda o: _agg(o, "tasks")),
        "sched.wait_s": med(lambda o: _agg(o, "wait_ms") / 1000.0),
        "exec.task_s": med(lambda o: _agg(o, "task_ms") / 1000.0),
        "exchange.shuffle_write_bytes": med(lambda o: _agg(o, "shuffle_write_bytes")),
        "exchange.shuffle_read_bytes": med(lambda o: _agg(o, "shuffle_read_bytes")),
        "exchange.spill_bytes": med(lambda o: _agg(o, "spill_bytes")),
        "sources.write_s": med(lambda o: _phase_s(o, ("sources.write", "sources.delete"))),
        "sources.bytes_written": med(lambda o: (o.get("extra") or {}).get("bytes_written", 0)),
    }
    # concurrent clients' passes overlap: the wall is the time covered
    wall = union_length([(p["start"], p["end"]) for p in loop["passes"]]) / 1000.0
    m["exec.core_util"] = core_util(sum(_agg(o, "task_ms") for o in loop["ops"]) / 1000.0, wall, cores)
    fracs = [o["extra"]["rewritten_bytes"] / o["extra"]["store_bytes"]
             for o in loop["ops"]
             if (o.get("extra") or {}).get("store_bytes")]
    m["sources.delete_rewrite_frac"] = statistics.median(fracs) if fracs else 0.0
    scans = run["scans"].values()
    scan_s = sum(t["scan_s"] for t in scans)
    m["sources.scan_s"] = scan_s
    m["sources.scan_rows_per_s"] = sum(t["rows"] for t in scans) / scan_s
    m.update(run["kernels"])
    jvm = run["jvm"]
    m["checkpoints.persisted_rdds_delta"] = jvm["persisted_rdds_end"] - jvm["persisted_rdds_start"]
    # GC time is read around the whole loop, untraced passes included
    loop_passes = len(loop["passes"]) + len(run.get("untraced_pair", {}).get("passes", []))
    m["jvm.gc_s"] = jvm["gc_ms"] / 1000.0 / loop_passes
    m["jvm.retained_heap_mb"] = jvm["retained_heap_mb"]
    return m


def failures(run):
    """(attempted, failed ops) over every loop of the run."""
    loops = [run[k] for k in ("check", "warm", "timed", "untraced_pair", "traced") if k in run]
    ops = [o for loop in loops for o in loop["ops"]]
    return len(ops), [o for o in ops if not o["ok"]]


def result_line(correct, attempted, failed, values):
    return {
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in values.items()},
    }
