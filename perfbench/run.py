#!/usr/bin/env python3
"""phoebespark benchmark: run one workload and print its metrics.

Usage, from the root of a phoebespark checkout:

    python3 perfbench/run.py --workload {phoebe_batch,curation_batch,optimize_loop}
                             --seed N --seconds S --trace {0,1}

The first run in a checkout builds the library and the harness with sbt
(offline); later runs reuse the build while the sources are unchanged.
Each run starts one JVM (`perfbench.Harness`), which sets up the workload
three times (the reported `setup_s` is their median), runs the fixed
amount of work that `--seconds` sets (`units`), and writes a raw record.
This script checks the outputs and prints, as the last line of stdout,
one JSON object with `correct`, `attempted`, `failed` and `metrics`: the
end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`. The line before it
holds the run's details: cpu count, seed, source hash, session conf,
which percentile the tail is, and the metrics that do not apply.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import harness  # noqa: E402

WORKLOADS = ("phoebe_batch", "curation_batch", "optimize_loop")
SETUPS = 3
# The length of a batch pass on a 4-core box; survey.py chooses the batch
# subsets to it. A loop tick takes about 4.5 s.
UNIT_SECONDS = {"phoebe_batch": 5.0, "curation_batch": 5.0}
# The work a run measures is fixed by --seconds, not by the clock: this
# many timed units per 10 s of --seconds, at least two. phoebe_batch takes
# a third pass so that its 15 queries give 45 latency samples, enough for
# a tail percentile (p77.8) rather than the maximum. The loop takes two
# ticks, so that a check of all three workloads stays within its time
# budget. A batch run adds an untimed warm-up pass.
UNITS_PER_10S = {"phoebe_batch": 3, "curation_batch": 2, "optimize_loop": 2}
MIN_UNITS = 2
HEAP = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash(root):
    """Hash of everything the build compiles, to know when to rebuild."""
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties",
             "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src"):
        for d, _, names in os.walk(os.path.join(root, top)):
            files += [os.path.relpath(os.path.join(d, n), root) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(os.path.join(root, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, src_hash):
    target = os.path.join(HERE, "target")
    stamp = os.path.join(target, "build.stamp")
    cp_file = os.path.join(target, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == src_hash:
                with open(cp_file) as fh:
                    return fh.read().strip()
    log("building the library and the harness (sbt, offline)")
    tmp = os.path.join(root, ".bench_build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
            "-Dsbt.server.autostart=false", "-Xmx2g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    t0 = time.time()
    subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                   cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                   check=True, timeout=BUILD_TIMEOUT_S)
    log(f"build took {time.time() - t0:.1f} s")
    with open(stamp, "w") as fh:
        fh.write(src_hash)
    with open(cp_file) as fh:
        return fh.read().strip()


def units(workload, seconds):
    return max(MIN_UNITS, math.ceil(UNITS_PER_10S[workload] * seconds / 10))


def queries(workload):
    """The query subset of a batch workload (written by survey.py)."""
    with open(os.path.join(HERE, "workloads.json")) as fh:
        return ",".join(json.load(fh)[workload])


def run_jvm(root, classpath, harness_args, work, timeout=RUN_TIMEOUT_S):
    """Run perfbench.Harness with the given arguments; returns its exit
    code, or None if it ran out of time (it is then stopped)."""
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           *ADD_OPENS,
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-cp", classpath, "perfbench.Harness", *harness_args,
           "--cpus", str(len(os.sched_getaffinity(0))), "--setups", str(SETUPS),
           "--data", os.path.join(HERE, "data"), "--work", work]
    proc = subprocess.Popen(cmd, cwd=root, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {timeout} s; stopping it")
        return None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


# The a3 trailing-average and m10 backpressure oracles (MetricQueries), over
# the loop's final store instead of the event series: the loop's sids, a
# 1 s step and a 600-point window.
DEC_SUM = "CAST(SUM(CAST((value) AS DECIMAL(30,6))) AS DOUBLE)"
A3_SQL = f"""WITH series AS (SELECT sid, ts, value FROM store),
b AS (SELECT sid, MIN(ts) AS t0, MAX(ts) AS t1 FROM series GROUP BY 1),
g AS (SELECT sid, UNNEST(range(t0, t1 + 1, 1)) AS ts FROM b),
d AS (SELECT g.sid, g.ts, s.value FROM g LEFT JOIN series s USING (sid, ts)),
w AS (SELECT sid, ts, value, MAX(ts) OVER (PARTITION BY sid) - 600 AS w0 FROM d)
SELECT sid, ROUND({DEC_SUM} / COUNT(value) + 1e-9, 4) AS avg_value
FROM w WHERE ts >= w0 GROUP BY sid"""
M10_SQL = """WITH series AS (SELECT sid, ts, value FROM store),
per AS (SELECT CAST(SUM(CASE WHEN value > 0 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
          AS bck_pres_per FROM series WHERE sid = 'backpressure'),
lc AS (SELECT sid, ts - MIN(ts) OVER (PARTITION BY sid) AS x, value AS y FROM series
       WHERE value IS NOT NULL AND sid IN ('latency', 'conslag')),
f AS (SELECT sid, COUNT(y) AS n, CAST(SUM(x) AS DOUBLE) AS sx,
        CAST(SUM(CAST(y AS DECIMAL(18,4))) AS DOUBLE) AS sy,
        CAST(SUM(CAST(x AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,4))) AS DOUBLE) AS sxy,
        CAST(SUM(CAST(x*x AS DECIMAL(38,0))) AS DOUBLE) AS sxx
      FROM lc GROUP BY sid),
sl AS (SELECT sid, (n*sxy - sx*sy) / NULLIF(n*sxx - sx*sx, 0) AS slope FROM f),
j AS (SELECT bck_pres_per AS per_raw,
        (SELECT slope FROM sl WHERE sid = 'latency') AS lat_raw,
        (SELECT slope FROM sl WHERE sid = 'conslag') AS lag_raw FROM per)
SELECT (per_raw = 1.0) OR (per_raw > 0.0 AND lat_raw > 1.0 AND lag_raw > 1.0)
  AS is_bck_pres FROM j"""


def check_last_decision(rec):
    """Compare the last tick's decision with the oracles over the final
    store. Returns None when it matches, else the reason."""
    import duckdb
    last = rec.get("last_decision")
    if last is None:
        return "no decision for the last tick"
    con = duckdb.connect()
    glob_path = os.path.join(rec["store"], "*.parquet").replace("'", "''")
    con.execute(f"CREATE VIEW store AS SELECT * FROM read_parquet('{glob_path}')")
    avg = dict(con.sql(A3_SQL).fetchall())
    (bck,) = con.sql(M10_SQL).fetchone()
    want = {"avg_lat": avg.get("latency"), "avg_thr": avg.get("throughput"),
            "is_bck_pres": bck}
    got = {k: last[k] for k in want}
    return None if got == want else f"last tick {got} != oracle {want}"


def commit(root):
    """The checked-out commit, when the checkout is a git repository."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                             capture_output=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main(argv=None):
    # a terminated run stops its JVM too (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        log("run from the root of a phoebespark checkout (no build.sbt or src/ here)")
        return 2
    src_hash = source_hash(root)
    try:
        classpath = build(root, src_hash)
    except (subprocess.SubprocessError, OSError) as e:
        log(f"build failed: {e}")
        return 1

    work = os.path.join(root, ".bench_build", "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    n = units(args.workload, args.seconds)
    harness_args = ["--workload", args.workload, "--seed", str(args.seed),
                    "--units", str(n), "--trace", str(args.trace)]
    if args.workload != "optimize_loop":
        harness_args += ["--queries", queries(args.workload)]
    code = run_jvm(root, classpath, harness_args, work)
    if code != 0:
        log(f"harness exited with {code}")
        return 1
    with open(os.path.join(work, "record.json")) as fh:
        rec = json.load(fh)

    if args.workload == "optimize_loop":
        attempted, failed, bad = harness.check_ticks(rec, check_last_decision(rec))
    else:
        with open(os.path.join(HERE, "fingerprints.json")) as fh:
            expected = json.load(fh)["queries"]
        attempted, failed, bad = harness.check_fingerprints(rec["ops"], expected)
    for who, why in bad:
        log(f"FAILED {who}: {why}")

    if args.trace:
        metrics, na = harness.per_layer(rec)
        trace_file = os.path.join(root, ".bench_build", f"trace_{args.workload}_{args.seed}.json")
        with open(trace_file, "w") as fh:
            json.dump({"ops": rec["ops"], "spans": harness.span_tree(rec["trace"])}, fh)
        detail = {"not_applicable": na, "spans": trace_file}
    else:
        metrics, detail = harness.end_to_end(rec)
    detail.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": rec["cpus"], "master": rec["master"],
        "conf": rec["conf"], "commit": commit(root), "source_sha256": src_hash,
        "spark": rec["spark_version"], "java": rec["java_version"],
        "setup_runs_s": rec["setup_s"], "fail_frac": failed / attempted})
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
