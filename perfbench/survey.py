#!/usr/bin/env python3
"""Measure the batch workloads' full query sets and choose their subsets.

Usage, from the root of a phoebespark checkout:

    python3 perfbench/survey.py            # measure, then choose
    python3 perfbench/survey.py --reuse    # choose again from survey.json

A check of the benchmark cannot afford a pass over the full query sets
(77 analytics queries, 21 curation queries), so each batch workload runs a
subset. This script picks it from a measurement. It runs one traced pass
over each full set on perfbench/data, after an untimed warm-up pass, and
stores every query's wall, job gap and task time in
perfbench/survey.json. Then, for each layer, it picks one query in five
of the layer's full set: those whose wall time makes up the layer's share
of a pass budget and whose gap share (driver time outside jobs) and core
use (task time over wall times cpus) are closest to those of the layer's
full set. The subsets go to
perfbench/workloads.json, which run.py reads; a table of both readings
goes to stdout. After a new choice, rerun fingerprint.py.
"""
import argparse
import itertools
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import harness  # noqa: E402
import run  # noqa: E402

SURVEY = os.path.join(HERE, "survey.json")
WORKLOADS = os.path.join(HERE, "workloads.json")
BATCH = ("phoebe_batch", "curation_batch")
# Read the session-lifetime BPE fixture, whose fit belongs in set-up; a
# subset without them needs no fixture fit.
FIXTURE_READERS = {"bpe_vocab_roundtrip"}
# A 5 s pass holds either a few queries of typical length or more shorter
# ones. With a few, the median latency jumps whenever two queries swap
# ranks: with one to four queries a layer, phoebe_batch's op_p50_ms moved
# between 300 and 450 ms from seed to seed.
QUERY_SHARE = 5


def measure(root, classpath, workload):
    """One traced pass over the workload's full query set; returns
    ({query: {layer, wall_s, gap_s, task_s, jobs}}, cpus)."""
    work = os.path.join(root, ".bench_build", "survey")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    code = run.run_jvm(root, classpath, [
        "--workload", workload, "--seed", "1", "--units", "1", "--trace", "1",
        "--queries", "full"], work, timeout=1800)
    if code != 0:
        raise SystemExit(f"survey run of {workload} failed ({code})")
    with open(os.path.join(work, "record.json")) as fh:
        rec = json.load(fh)
    jobs, tasks = rec["trace"]["jobs"], rec["trace"]["tasks"]
    out = {}
    for op in rec["ops"]:
        lo, hi = op["start_ns"], op["end_ns"]
        out[op["name"]] = {
            "layer": op["layer"], "error": op.get("error"),
            "wall_s": (hi - lo) / 1e9,
            "gap_s": harness.uncovered(lo, hi, jobs) / 1e9,
            "task_s": sum(t[2] for t in tasks if lo <= t[1] <= hi) / 1e3,
            "jobs": sum(1 for j in jobs if lo <= j[1] <= hi)}
    return out, rec["cpus"]


def shares(qs, cpus):
    """(wall, gap share, core use) of a set of query readings."""
    wall = sum(q["wall_s"] for q in qs)
    return (wall, sum(q["gap_s"] for q in qs) / wall,
            sum(q["task_s"] for q in qs) / (wall * cpus))


def choose(readings, cpus, budget):
    """Per layer, one query in every QUERY_SHARE of the layer's full set
    (at least one), so that the subset keeps the full set's mix of queries
    and its median rests on as many of them as a pass allows. Of the
    subsets of that size, the one closest to the layer's full set: its wall
    against the layer's share of `budget`, plus the distance of its gap
    share and of its core use."""
    total = sum(q["wall_s"] for q in readings.values())
    chosen = []
    for layer in sorted({q["layer"] for q in readings.values()}):
        full = {n: q for n, q in readings.items() if q["layer"] == layer}
        target = budget * sum(q["wall_s"] for q in full.values()) / total
        _, gap, use = shares(full.values(), cpus)
        cands = sorted(n for n, q in full.items()
                       if n not in FIXTURE_READERS and not q["error"])

        def cost(names):
            w, g, u = shares([full[n] for n in names], cpus)
            return (abs(w / target - 1) + abs(g - gap) + abs(u - use), names)

        k = max(1, round(len(full) / QUERY_SHARE))
        chosen += min(cost(c) for c in itertools.combinations(cands, k))[1]
    return sorted(chosen)


def table(readings, chosen, cpus):
    """Markdown rows: per layer, the full set against the subset."""
    def row(label, qs, total):
        w, g, u = shares(qs, cpus)
        return (f"| {label} | {len(qs)} | {w:.1f} s | {100 * w / total:.0f} % | {100 * g:.0f} % "
                f"| {100 * u:.0f} % |")
    full_total = sum(q["wall_s"] for q in readings.values())
    sub_total = sum(readings[n]["wall_s"] for n in chosen)
    lines = ["| Layer | Queries | Wall | Wall share | Gap share | Core use |",
             "|---|---|---|---|---|---|"]
    for layer in sorted({q["layer"] for q in readings.values()}):
        full = [q for q in readings.values() if q["layer"] == layer]
        sub = [readings[n] for n in chosen if readings[n]["layer"] == layer]
        lines.append(row(f"`{layer}` full", full, full_total))
        lines.append(row(f"`{layer}` subset", sub, sub_total))
    lines.append(row("all, full", list(readings.values()), full_total))
    lines.append(row("all, subset", [readings[n] for n in chosen], sub_total))
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reuse", action="store_true",
                    help="choose from the stored survey.json instead of measuring")
    args = ap.parse_args()
    if args.reuse:
        with open(SURVEY) as fh:
            survey = json.load(fh)
    else:
        root = os.getcwd()
        classpath = run.build(root, run.source_hash(root))
        survey = {}
        for w in BATCH:
            readings, cpus = measure(root, classpath, w)
            survey[w] = {"cpus": cpus, "queries": readings}
        with open(SURVEY, "w") as fh:
            json.dump(survey, fh, indent=1, sort_keys=True)
            fh.write("\n")
    chosen = {}
    for w in BATCH:
        s = survey[w]
        chosen[w] = choose(s["queries"], s["cpus"], run.UNIT_SECONDS[w])
        print(f"## {w}\n\n{table(s['queries'], chosen[w], s['cpus'])}\n")
    with open(WORKLOADS, "w") as fh:
        json.dump(chosen, fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
