"""Metric arithmetic of the benchmark: percentiles, span self time, job
coverage, fingerprint checks, and the end-to-end and per-layer metrics of
one run record (the JSON `perfbench.Harness` writes).

All times in a record are epoch nanoseconds.
"""
import statistics

MB = 1024.0 * 1024.0

BATCH_LAYERS = ("timeseries", "metrics", "models", "streaming", "sources",
                "pipeline.text", "pipeline.vector", "pipeline.curation")
LAYER_FIELDS = ("wall_s", "build_s", "jobs", "task_s", "gap_s", "shuffle_mb")
LOOP_SPANS = {"sources.ingest_ms": "append", "sources.read_ms": "read",
              "metrics.analytics_ms": "evaluateTick",
              "models.forecast_ms": "forecast",
              "streaming.decision_ms": "decision"}
LOOP_ONLY = tuple(LOOP_SPANS) + (
    "sources.store_files", "sources.store_rows", "streaming.trigger_ms",
    "streaming.add_batch_ms", "streaming.overhead_ms", "tick.jobs", "tick.gap_ms")


def tail(values):
    """The highest percentile with at least ten samples beyond it.

    Returns (value, label). With n samples, the sample at rank n - 10
    (1-based, ascending) has ten beyond it; it is the nearest-rank
    percentile 100 * (n - 10) / n. When that falls at or below the median
    (n <= 20) no tail percentile is supported, and the maximum is
    reported instead, labelled as such.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= 20:
        return xs[-1], f"max of {n}"
    p = 100.0 * (n - 10) / n
    return xs[n - 11], f"p{p:.1f} of {n}"


def median(values):
    return statistics.median(values)


def union_length(intervals, lo, hi):
    """Length of the part of [lo, hi] covered by the union of intervals."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    covered, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        elif b > cur_b:
            cur_b = b
    if cur_b is not None:
        covered += cur_b - cur_a
    return covered


def uncovered(lo, hi, jobs):
    """Wall time in [lo, hi] not covered by any job: the Spark driver's gaps."""
    return (hi - lo) - union_length([(s, e) for _, s, e in jobs], lo, hi)


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    child spans cover (children may overlap one another).

    spans: [id, parent, name, tag, start, end] rows. Returns {id: ns}.
    """
    children = {}
    for s in spans:
        children.setdefault(s[1], []).append((s[4], s[5]))
    return {s[0]: (s[5] - s[4]) - union_length(children.get(s[0], []), s[4], s[5])
            for s in spans}


def span_tree(trace):
    """The traced run's spans, with each Spark job added as a span under the
    innermost span open at its start, and each span's self time appended:
    [id, parent, name, tag, start, end, self]. A builder or sink call's self
    time is then its driver-side time outside any job."""
    spans = [list(s) for s in trace["spans"]]
    next_id = max((s[0] for s in spans), default=0) + 1
    for job_id, start, end in trace["jobs"]:
        around = [s for s in spans if s[3] != "job" and s[4] <= start <= s[5]]
        parent = max(around, key=lambda s: s[4])[0] if around else 0
        spans.append([next_id, parent, f"job {job_id}", "job", start, end])
        next_id += 1
    own = self_times(spans)
    return [s + [own[s[0]]] for s in spans]


def check_fingerprints(ops, expected):
    """Count failed ops: an op fails if it raised, if it has no stored
    fingerprint, or if its result's fingerprint differs from the stored one.

    Returns (attempted, failed, [(name, reason)]).
    """
    bad = []
    for op in ops:
        name = op["name"]
        if op.get("error"):
            bad.append((name, "error: " + op["error"]))
        elif name not in expected:
            bad.append((name, "no stored fingerprint"))
        elif op.get("fingerprint") != expected[name]["fingerprint"]:
            bad.append((name, f"fingerprint mismatch ({op.get('rows')} rows, "
                              f"expected {expected[name]['rows']})"))
    return len(ops), len(bad), bad


def check_ticks(rec, oracle_mismatch=None):
    """Count failed ticks: a tick fails if it raised, if it did not write
    exactly one decision row, or if the loop reported no decision for it.
    A warm-up tick with other than one decision row, or a last decision that
    differs from the oracles (`oracle_mismatch`, the reason), fails the
    last tick.

    Returns (attempted, failed, [(batch, reason)]).
    """
    rows = {int(k): v for k, v in rec["decision_rows"].items()}
    decided = set(rec["decided"])
    bad = []
    for op in rec["ops"]:
        b = op.get("batch")
        if op.get("error"):
            bad.append((b, "error: " + op["error"]))
        elif rows.get(b) != 1:
            bad.append((b, f"{rows.get(b, 0)} decision rows"))
        elif b not in decided:
            bad.append((b, "no decision delivered"))
    measured = {op.get("batch") for op in rec["ops"]}
    extra = [b for b, n in rows.items() if b not in measured and n != 1]
    last = rec["ops"][-1].get("batch")
    for reason in ([f"warm-up batches {extra} without exactly one decision row"]
                   if extra else []) + ([oracle_mismatch] if oracle_mismatch else []):
        bad.append((last, reason))
    failed = len({b for b, _ in bad})
    return len(rec["ops"]), failed, bad


def op_ms(rec):
    """Latency samples in ms, one per timed op: every query of every timed
    pass of a batch workload, every tick of the loop."""
    return [(op["end_ns"] - op["start_ns"]) / 1e6 for op in rec["ops"]]


def end_to_end(rec):
    """End-to-end metrics of an untraced run, plus details for the log."""
    ms = op_ms(rec)
    t, label = tail(ms)
    metrics = {
        "setup_s": (median(rec["setup_s"]), "s"),
        "wall_s": (rec["timed_ns"] / 1e9 / rec["units"], "s"),
        "op_p50_ms": (median(ms), "ms"),
        "op_tail_ms": (t, "ms"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
        "live_heap_mb": (rec["live_heap_mb"], "MB"),
    }
    return metrics, {"tail": label, "samples": len(ms), "units": rec["units"]}


def _in(t, lo, hi):
    return lo <= t <= hi


def per_layer(rec):
    """Per-layer metrics of a traced run. Batch workloads are normalised
    per pass of the query set, the loop per tick.

    Returns ({name: (value, unit)}, {name: reason}) where the second map
    names the metrics that do not apply to this workload (reported as 0).
    """
    tr = rec["trace"]
    units = rec["units"]
    ops = rec["ops"]
    spans = tr["spans"]
    jobs = tr["jobs"]
    tasks = tr["tasks"]
    loop = rec["workload"] == "optimize_loop"
    windows = [(op["start_ns"], op["end_ns"]) for op in ops]

    def jobs_in(lo, hi):
        return [j for j in jobs if _in(j[1], lo, hi)]

    def tasks_in(lo, hi):
        return [t for t in tasks if _in(t[1], lo, hi)]

    by_parent = {}
    for s in spans:
        by_parent.setdefault(s[1], []).append(s)
    op_spans = [s for s in spans if s[1] == 0]

    out, na = {}, {}

    def put(name, value, unit):
        out[name] = (value, unit)

    # layers of the batch workloads
    for layer in BATCH_LAYERS:
        mine = [op for op in ops if op.get("layer") == layer]
        mine_spans = [s for s in op_spans if s[3] == layer]
        if not mine:
            for f in LAYER_FIELDS:
                put(f"{layer}.{f}", 0, _unit(f))
                na[f"{layer}.{f}"] = f"no {layer} query in {rec['workload']}"
            continue
        wall = sum(op["end_ns"] - op["start_ns"] for op in mine)
        build = sum(c[5] - c[4] for s in mine_spans for c in by_parent.get(s[0], [])
                    if c[2] == "build")
        js = [j for op in mine for j in jobs_in(op["start_ns"], op["end_ns"])]
        ts = [t for op in mine for t in tasks_in(op["start_ns"], op["end_ns"])]
        gap = sum(uncovered(op["start_ns"], op["end_ns"], js) for op in mine)
        put(f"{layer}.wall_s", wall / 1e9 / units, "s")
        put(f"{layer}.build_s", build / 1e9 / units, "s")
        put(f"{layer}.jobs", len(js) / units, "count")
        put(f"{layer}.task_s", sum(t[2] for t in ts) / 1e3 / units, "s")
        put(f"{layer}.gap_s", gap / 1e9 / units, "s")
        put(f"{layer}.shuffle_mb", sum(t[5] for t in ts) / MB / units, "MB")

    # the engine, over every op of the run
    all_jobs = [j for lo, hi in windows for j in jobs_in(lo, hi)]
    all_tasks = [t for lo, hi in windows for t in tasks_in(lo, hi)]
    plan = 0
    for s in op_spans:
        kids = by_parent.get(s[0], [])
        sink = next((c for c in kids if c[2] == "sink"), None)
        lo, hi = (sink[4], sink[5]) if sink else (s[4], s[5])
        starts = [j[1] for j in jobs if _in(j[1], lo, hi)]
        plan += (min(starts) if starts else hi) - lo
    put("engine.plan_s", plan / 1e9 / units, "s")
    put("engine.gap_s", sum(uncovered(lo, hi, all_jobs) for lo, hi in windows) / 1e9 / units, "s")
    put("engine.jobs", len(all_jobs) / units, "count")
    build_spans = [c for s in op_spans for c in by_parent.get(s[0], []) if c[2] == "build"]
    put("queries.build_jobs",
        sum(len(jobs_in(c[4], c[5])) for c in build_spans) / units, "count")
    if loop:
        na["queries.build_jobs"] = "the loop calls no query builder"
    put("engine.task_s", sum(t[2] for t in all_tasks) / 1e3 / units, "s")
    put("engine.shuffle_write_mb", sum(t[5] for t in all_tasks) / MB / units, "MB")
    put("engine.shuffle_read_mb", sum(t[6] for t in all_tasks) / MB / units, "MB")
    put("engine.spill_mb", sum(t[7] for t in all_tasks) / MB / units, "MB")
    put("engine.input_mb", sum(t[8] for t in all_tasks) / MB / units, "MB")
    blocks = [b for b in tr["blocks"] if any(_in(b[0], lo, hi) for lo, hi in windows)]
    put("cachescope.blocks", len(blocks) / units, "count")
    put("cachescope.block_mb", sum(b[1] for b in blocks) / MB / units, "MB")

    submitted = {}
    for st in tr["stages"]:
        submitted.setdefault(st[0], []).append(st[2])
    wait = 0
    for t in all_tasks:
        subs = [s for s in submitted.get(t[0], []) if 0 < s <= t[1]]
        if subs:
            wait += t[1] - max(subs)
    put("engine.sched_wait_s", wait / 1e9 / units, "s")
    per_stage = {}
    for t in all_tasks:
        per_stage.setdefault(t[0], []).append(t[2])
    multi = [d for d in per_stage.values() if len(d) > 1]
    crit = sum(max(d) for d in multi)
    mean = sum(sum(d) / len(d) for d in multi)
    put("engine.task_skew", crit / mean if mean else 1.0, "ratio")
    put("engine.gc_s", rec["gc_ms"] / 1e3 / units, "s")
    busy = sum(t[2] for t in all_tasks) * 1e6
    put("engine.core_util", busy / (rec["timed_ns"] * rec["cpus"]), "ratio")
    put("engine.task_retries",
        sum(1 for t in all_tasks if t[9] > 0 or not t[10]) / units, "count")

    # the loop's tick, split by the spans of its replay
    if loop:
        tick_spans = [s for s in op_spans if s[2] == "tick"]
        for name, call in LOOP_SPANS.items():
            put(name, median([sum(c[5] - c[4] for c in by_parent.get(s[0], [])
                                  if c[2] == call) for s in tick_spans]) / 1e6, "ms")
        put("sources.store_files", rec["store_files"], "count")
        put("sources.store_rows", rec["store_rows"], "count")
        measured = {op.get("batch") for op in ops}
        prog = [p for p in rec["progress"] if p["batch"] in measured]
        put("streaming.trigger_ms", median([p["trigger_ms"] for p in prog]), "ms")
        put("streaming.add_batch_ms", median([p["add_batch_ms"] for p in prog]), "ms")
        put("streaming.overhead_ms",
            median([p["trigger_ms"] - p["add_batch_ms"] for p in prog]), "ms")
        put("tick.jobs", median([len(jobs_in(lo, hi)) for lo, hi in windows]), "count")
        put("tick.gap_ms", median([uncovered(lo, hi, jobs) for lo, hi in windows]) / 1e6, "ms")
    else:
        for name in LOOP_ONLY:
            put(name, 0, _unit(name))
            na[name] = "the batch workloads run no loop tick"

    put("trace.overhead_frac", tr["listener_ns"] / rec["timed_ns"], "ratio")
    return out, na


def _unit(name):
    f = name.rsplit(".", 1)[-1]
    if f.endswith("_ms"):
        return "ms"
    if f.endswith("_s"):
        return "s"
    if f.endswith("_mb"):
        return "MB"
    return "count"
