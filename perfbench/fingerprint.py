#!/usr/bin/env python3
"""Fingerprint the batch workloads' results once, against the DuckDB oracles.

Usage, from the root of a phoebespark checkout:

    python3 perfbench/fingerprint.py

Runs every query of the batch workloads (perfbench/workloads.json) once on
perfbench/data (`perfbench.Dump`) and checks each result against its
oracle SQL (`SparkEntry.oracleSql`) with the repository's oracle check,
`tools/check.py`. Only if that check passes for every query are the
fingerprints written to perfbench/fingerprints.json; each benchmark run
compares its results with them.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def main():
    root = os.getcwd()
    classpath = run.build(root, run.source_hash(root))
    work = os.path.join(root, ".bench_build", "fingerprint")
    out = os.path.join(work, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out)
    os.makedirs(os.path.join(work, "tmp"))
    data = os.path.join(HERE, "data")
    cpus = str(len(os.sched_getaffinity(0)))
    queries = ",".join(run.queries(w) for w in ("phoebe_batch", "curation_batch"))
    subprocess.run(["java", f"-Xmx{run.HEAP}", "-XX:-UsePerfData", *run.ADD_OPENS,
                    f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                    "-cp", classpath, "perfbench.Dump", data, out, cpus, queries],
                   cwd=root, stdout=sys.stderr, check=True)
    check = subprocess.run([sys.executable, os.path.join(root, "tools", "check.py"), data, out],
                           cwd=root)
    if check.returncode != 0:
        print("the oracle check failed; fingerprints not written")
        return 1
    with open(os.path.join(out, "fingerprints.json")) as fh:
        fps = json.load(fh)
    with open(os.path.join(HERE, "fingerprints.json"), "w") as fh:
        json.dump({"data": "perfbench/data (the sf0.01 test tables)",
                   "queries": fps}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(fps)} fingerprints written")
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
