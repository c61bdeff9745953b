#!/usr/bin/env python3
"""Counter-determinism check: run the traced benchmark twice per workload
(two seeds, so two query orders) and compare, per batch query, the counters
that must repeat exactly: sched.jobs, sched.stages, sched.tasks and
shuffle.write_bytes. Streaming queries are skipped: their micro-batch count
follows trigger timing.

Usage (from the root of a checkout):

    python3 perfbench/determinism.py

Prints each batch query's counters and marks those that differ. NOTES.md lists the findings.
Exits 0 either way: a varying query is a finding, not a failure.
"""
import json
import os
import subprocess
import sys

import run

COUNTERS = ("sched.jobs", "sched.stages", "sched.tasks", "shuffle.write_bytes")
SEEDS = (1, 2)


def counters(workload, seed):
    subprocess.run([sys.executable, os.path.join(run.BENCH, "run.py"), "--workload", workload,
                    "--seed", str(seed), "--seconds", "1", "--trace", "1"],
                   check=True, stdout=subprocess.DEVNULL)
    with open(os.path.join(run.WORK, f"spans-{workload}-{seed}.json")) as fh:
        rows = json.load(fh)["per_query"]
    # the first traced pass of each query
    out = {}
    for r in rows:
        out.setdefault(r["query"], {k: r[k] for k in COUNTERS})
    return out


def main():
    for w in run.WORKLOADS:
        a, b = (counters(w, seed) for seed in SEEDS)
        for q in sorted(a):
            if "_stream_" in q:
                print(f"{w}\t{q}\tskipped (streaming)")
                continue
            diff = {k: (a[q][k], b[q][k]) for k in COUNTERS if a[q][k] != b[q][k]}
            print(f"{w}\t{q}\t" + ("same " + json.dumps(a[q]) if not diff
                                   else "VARIES " + json.dumps(diff)))


if __name__ == "__main__":
    main()
