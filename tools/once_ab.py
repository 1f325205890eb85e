#!/usr/bin/env python3
"""Isolated A/B of registry queries between two compiled builds.

    python3 tools/once_ab.py A_CLASSES B_CLASSES SF_DIR REPS QUERY [QUERY ...]

A_CLASSES and B_CLASSES are compiled class directories (e.g. a parent
checkout's and this checkout's `target/scala-2.13/classes`); QUERY is a
full registry name such as `q120_pagerank`. For every query and pair, each
side runs `graft.Once SF_DIR REPS QUERY` in a fresh JVM with
SPARK_GRAFT_CPUS (default 4) cores and a Spark event log; the side that
goes first alternates from pair to pair (and from query to query).

Per side it prints two summaries, each a median and interquartile range
pooled over the pairs: cold, rep 1 of every JVM (it pays JIT warm-up and
builds what the query persists through `graft.Caching`, which later reps of
the same JVM reuse), and warm, reps 2..REPS; then every time, and the jobs
each rep started, read from the event log: a rep's jobs are those started
after the previous rep's `graft.Once` write finished.

The driver heap is SPARK_DRIVER_MEM (build.sbt's variable and default) and
the JDK module opens are build.sbt's `jdk17AddOpens`. Options: --pairs N
(default 2), --keep DIR (keep the event logs there; default a temporary
directory, removed).
"""

import argparse
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile

from eventlog_summary import events

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(REPO, "build.sbt")) as fh:
    OPENS = re.findall(r'"(java\.base/[^"]+)"',
                       re.search(r"val jdk17AddOpens = Seq\((.*?)\)", fh.read(), re.S).group(1))
HEAP = os.environ.get("SPARK_DRIVER_MEM", "48g")
# build.sbt's unmanagedBase; SPARK_HOME overrides
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*")
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


def run_once(classes, sf_dir, reps, query, log_dir):
    """Wall times of one fresh-JVM graft.Once run and its jobs per rep."""
    os.makedirs(log_dir)
    cmd = ["java", f"-Xmx{HEAP}"]
    for p in OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.eventLog.enabled=true", "-Dspark.eventLog.compress=false",
            "-Dspark.eventLog.rolling.enabled=false",
            f"-Dspark.eventLog.dir=file://{log_dir}",
            "-cp", f"{classes}:{SPARK_JARS}",
            "graft.Once", sf_dir, str(reps), query]
    env = dict(os.environ, SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "4"))
    out = subprocess.run(cmd, env=env, stdin=subprocess.DEVNULL,
                         capture_output=True, text=True)
    line = [l for l in out.stderr.splitlines() if l.startswith("[once]")]
    if out.returncode != 0 or not line:
        sys.exit(f"{query} on {classes} failed (rc {out.returncode}):\n{out.stderr[-3000:]}")
    times = [float(t) for t in line[-1].split()[2:]]
    return times, jobs_per_rep(log_dir, reps)


def jobs_per_rep(log_dir, reps):
    writes, counts = set(), [0] * reps
    done = 0  # reps whose Once write has finished
    for e in events(log_dir):
        ev = e["Event"]
        if ev == SQL_START and "at Once.scala" in e.get("description", ""):
            writes.add(e["executionId"])
        elif ev == SQL_END and e["executionId"] in writes:
            done += 1
        elif ev == "SparkListenerJobStart" and done < reps:
            counts[done] += 1
    return counts


def spread(xs):
    if len(xs) < 2:
        return xs[0], 0.0
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return statistics.median(xs), q[2] - q[0]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("a_classes")
    ap.add_argument("b_classes")
    ap.add_argument("sf_dir")
    ap.add_argument("reps", type=int)
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--pairs", type=int, default=2)
    ap.add_argument("--keep")
    a = ap.parse_args()
    if a.reps < 2:
        sys.exit("REPS must be at least 2: rep 1 is the cold run")
    root = a.keep or tempfile.mkdtemp(prefix="once_ab_")
    sides = {"A": os.path.abspath(a.a_classes), "B": os.path.abspath(a.b_classes)}
    try:
        run = 0
        for qi, q in enumerate(a.queries):
            res = {"A": ([], [], []), "B": ([], [], [])}
            for p in range(a.pairs):
                order = "AB" if (qi + p) % 2 == 0 else "BA"
                for side in order:
                    run += 1
                    t, j = run_once(sides[side], a.sf_dir, a.reps, q,
                                    os.path.join(root, f"{run:03d}_{q}_{side}"))
                    res[side][0].append(t[0])
                    res[side][1].extend(t[1:])
                    res[side][2].append(j)
            for side in "AB":
                cold, warm, jobs = res[side]
                (cm, ci), (wm, wi) = spread(cold), spread(warm)
                print(f"{q:28s} {side} cold median {cm:6.2f}s iqr {ci:5.2f}s  "
                      f"warm median {wm:6.2f}s iqr {wi:5.2f}s  "
                      f"rep1 {' '.join(f'{t:.2f}' for t in cold)}  "
                      f"reps>=2 {' '.join(f'{t:.2f}' for t in warm)}  "
                      f"jobs/rep {' | '.join(' '.join(map(str, j)) for j in jobs)}",
                      flush=True)
    finally:
        if not a.keep:
            shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
