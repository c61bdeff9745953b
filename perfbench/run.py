#!/usr/bin/env python3
"""graft benchmark runner.

Usage (from the root of a checkout of the repository):

    python3 perfbench/run.py --workload tables --seed 1 --seconds 26 --trace 0

Builds the program and the harness from source when either changed (sbt,
offline), then runs the harness (perfbench/src/main/scala/perfbench) in a
fresh JVM: one local[<cores>] Spark session and one closed-loop client that
runs the workload's queries pass after pass in a seeded order. The last line
of standard output is one JSON object: correct, attempted, failed and the
metrics (the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1). Exits non-zero without that line when the program cannot be
built or run. NOTES.md describes the workloads and every metric.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
DATA = os.path.join(BENCH, "data")
EXPECTED = os.path.join(BENCH, "expected.tsv")
CLASSPATH = os.path.join(BENCH, "target", "runtime-classpath.txt")
JAVA_OPTIONS = os.path.join(BENCH, "target", "java-options.txt")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
WORKLOADS = ("tables", "corpus")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def build():
    """Compile the program and the harness unless the sources are unchanged."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail(f"no graft sources under {ROOT}/src: run from the root of a checkout")
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    if all(os.path.isfile(f) for f in (CLASSPATH, JAVA_OPTIONS, STAMP)):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(WORK, exist_ok=True)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                            cwd=BENCH, env=env, stdout=fh, stderr=subprocess.STDOUT,
                            timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0 or not (os.path.isfile(CLASSPATH) and os.path.isfile(JAVA_OPTIONS)):
        fail(f"build failed (sbt exit {rc}); see {log}")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def stop_on_signal(proc):
    """Kill the JVM and wait for it if this script is told to stop."""
    def handler(signum, _frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, handler)


def java(mode, out, extra, tmp, timeout):
    """Run the harness in a fresh JVM; returns the JSON it wrote to `out`."""
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    # the program's own JVM flags (../build.sbt), as `sbt run` would pass
    # them; the later -Xmx wins. -XX:-UsePerfData: no hsperfdata file
    # outside the checkout
    with open(JAVA_OPTIONS) as fh:
        cmd = ["java"] + [o for o in fh.read().splitlines() if o]
    cmd += ["-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        f"-Dderby.system.home={tmp}",
        "-cp", cp, "perfbench.Main", "--mode", mode, "--out", out,
    ] + extra
    log = os.path.join(WORK, f"{mode}.log")
    try:
        with open(log, "w") as fh:
            proc = subprocess.Popen(cmd, cwd=tmp, stdout=fh, stderr=subprocess.STDOUT)
            stop_on_signal(proc)
            try:
                rc = proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"{mode} JVM did not finish in {timeout} s; see {log}")
        if rc != 0 or not os.path.isfile(out):
            fail(f"{mode} JVM exited {rc}; see {log}")
        with open(out) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        if os.path.exists(out):
            os.remove(out)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t0 = time.time()
    build()
    build_s = time.time() - t0
    tmp = os.path.join(WORK, f"tmp-{os.getpid()}")
    spans = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json")
    res = java("run", os.path.join(WORK, f"run-{os.getpid()}.json"), [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", DATA, "--expected", EXPECTED, "--spans", spans,
        "--execs", os.path.join(WORK, f"execs-{args.workload}-{args.seed}.json"),
    ], tmp, RUN_TIMEOUT_S)
    info = dict(res["info"], build_s=round(build_s, 3))
    for f in info.pop("failures"):
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(f"perfbench: {json.dumps(info)}", file=sys.stderr)
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))


if __name__ == "__main__":
    main()
