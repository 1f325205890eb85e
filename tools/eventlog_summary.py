#!/usr/bin/env python3
"""Summarize a Spark event log per job description.

Write the log without any repo setting, e.g.:

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \
      -Dspark.eventLog.dir=file:///tmp/ev -Dspark.eventLog.compress=false" \
      python3 perfbench/run.py --workload nightly_refresh --seed 1 --trace 1

then:

    python3 tools/eventlog_summary.py /tmp/ev --match "gold refresh"

LOG is an event log file, an `eventlog_v2_*` directory, or a directory that
holds exactly one of either. Per job description it prints jobs, SQL
executions, broadcast exchanges, file scans and tasks, the summed task wall
time (finish - launch), executor run time and executor CPU time; then scans
and broadcasts per input table; then every task whose CPU time is under 10%
of its run time (a task holding a slot while it waits, e.g. on another
task's cache block).

Plans are each execution's final (adaptive) plan. A reused exchange is not
counted again, and a cached subplan (the children of an `InMemoryTableScan`)
is counted once, in the first execution that shows it, however many
executions read the cache. A broadcast counts for a table when the table is
scanned somewhere below it, and nested broadcasts count only once, under the
outermost.
"""

import argparse
import collections
import glob
import json
import os
import re
import sys

SQL = "org.apache.spark.sql.execution.ui."


def event_files(path):
    if os.path.isfile(path):
        return [path]
    v2 = sorted(glob.glob(os.path.join(path, "events_*")))
    if v2:
        return sorted(v2, key=lambda p: int(os.path.basename(p).split("_")[1]))
    inner = [p for p in glob.glob(os.path.join(path, "*")) if not p.endswith(".crc")]
    if len(inner) != 1:
        sys.exit(f"{path}: expected one event log, found {len(inner)}")
    return event_files(inner[0])


def events(path):
    for f in event_files(path):
        with open(f) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def table_of(scan):
    loc = scan.get("metadata", {}).get("Location", "")
    m = re.search(r"\[([^,\]]+)", loc)
    name = os.path.basename(m.group(1).rstrip("/")) if m else scan.get("nodeName", "?")
    return re.sub(r"\.(parquet|jsonl|json|csv)$", "", name)


def walk(node, seen_cache, out, under_broadcast=None):
    """Counts broadcasts and scans of one plan tree into `out`."""
    name = node.get("nodeName", "")
    if name == "ReusedExchange":
        return
    if name == "InMemoryTableScan":
        sig = json.dumps(node.get("children", []), sort_keys=True)
        if sig in seen_cache:
            return
        seen_cache.add(sig)
    if name == "BroadcastExchange":
        out["broadcasts"] += 1
        if under_broadcast is None:
            under_broadcast = set()
            out["outer"].append(under_broadcast)
    if name.startswith("Scan "):
        t = table_of(node)
        out["scans"][t] += 1
        if under_broadcast is not None:
            under_broadcast.add(t)
    for c in node.get("children", []):
        walk(c, seen_cache, out, under_broadcast)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("log")
    ap.add_argument("--match", default="", help="keep groups whose key contains this")
    a = ap.parse_args()

    plans = {}  # execution id -> final plan
    stage_key, job_key = {}, {}
    groups = collections.OrderedDict()
    tasks = []

    def group(k):
        if k not in groups:
            groups[k] = dict(jobs=0, execs=set(), tasks=0, wall=0.0, run=0.0, cpu=0.0,
                             first=None, last=None)
        return groups[k]

    for e in events(a.log):
        ev = e["Event"]
        if ev in (SQL + "SparkListenerSQLExecutionStart",
                  SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            plans[e["executionId"]] = e["sparkPlanInfo"]
        elif ev == "SparkListenerJobStart":
            p = e.get("Properties") or {}
            k = p.get("spark.job.description") or "(no description)"
            ex = p.get("spark.sql.execution.id")
            g = group(k)
            g["jobs"] += 1
            if ex is not None:
                g["execs"].add(int(ex))
            t = e["Submission Time"]
            g["first"] = t if g["first"] is None else min(g["first"], t)
            job_key[e["Job ID"]] = k
            for s in e["Stage IDs"]:
                stage_key.setdefault(s, k)
        elif ev == "SparkListenerJobEnd":
            g = groups.get(job_key.get(e["Job ID"]))
            if g is not None:
                g["last"] = max(g["last"] or 0, e["Completion Time"])
        elif ev == "SparkListenerTaskEnd":
            k = stage_key.get(e["Stage ID"])
            if k is None:
                continue
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            wall = info["Finish Time"] - info["Launch Time"]
            run = m.get("Executor Run Time", 0)
            cpu = m.get("Executor CPU Time", 0) / 1e6
            g = group(k)
            g["tasks"] += 1
            g["wall"] += wall
            g["run"] += run
            g["cpu"] += cpu
            tasks.append((k, e["Stage ID"], info["Task ID"], wall, run, cpu))

    keys = [k for k in groups if a.match in k]
    seen_cache = set()
    counts = {}
    for k in keys:
        out = dict(broadcasts=0, scans=collections.Counter(), outer=[])
        for ex in sorted(groups[k]["execs"]):
            if ex in plans:
                walk(plans[ex], seen_cache, out)
        counts[k] = out

    cols = ["jobs", "execs", "bcast", "scans", "tasks", "span_ms", "wall_ms", "run_ms", "cpu_ms"]
    width = max([len(k) for k in keys] + [5])
    print(f"{'group':<{width}} " + " ".join(f"{c:>8}" for c in cols))
    total = collections.Counter()
    for k in keys:
        g, c = groups[k], counts[k]
        row = dict(jobs=g["jobs"], execs=len(g["execs"]), bcast=c["broadcasts"],
                   scans=sum(c["scans"].values()), tasks=g["tasks"],
                   span_ms=(g["last"] or g["first"] or 0) - (g["first"] or 0),
                   wall_ms=g["wall"], run_ms=g["run"], cpu_ms=g["cpu"])
        total.update({c2: row[c2] for c2 in cols if c2 != "span_ms"})
        print(f"{k:<{width}} " + " ".join(f"{row[c2]:>8.0f}" for c2 in cols))
    if keys:
        firsts = [groups[k]["first"] for k in keys if groups[k]["first"] is not None]
        lasts = [groups[k]["last"] for k in keys if groups[k]["last"] is not None]
        total["span_ms"] = (max(lasts) - min(firsts)) if firsts and lasts else 0
        print(f"{'total':<{width}} " + " ".join(f"{total[c2]:>8.0f}" for c2 in cols))

    scans, fed = collections.Counter(), collections.Counter()
    for c in counts.values():
        scans.update(c["scans"])
        for tables in c["outer"]:
            fed.update(tables)
    print(f"\n{'table':<40} {'scans':>6} {'bcasts':>6}")
    for t in sorted(scans):
        print(f"{t:<40} {scans[t]:>6} {fed[t]:>6}")

    low = [t for t in tasks if t[0] in counts and t[5] < 0.1 * t[4]]
    print(f"\ntasks with CPU under 10% of run time: {len(low)}")
    for k, stage, tid, wall, run, cpu in low:
        print(f"  {k}: stage {stage} task {tid}: wall {wall} ms, run {run} ms, cpu {cpu:.1f} ms")


if __name__ == "__main__":
    main()
