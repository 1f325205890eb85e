"""Serving-chain benchmark: one run of one workload.

    python3 perfbench/run.py --workload nightly_refresh --seed 1 --seconds 20 --trace 0

Builds the program (perfbench/build.py), generates the seeded inputs (or
reuses them from `.bench_build/data` after checking their digests), runs the
harness JVM, checks the gold tables it wrote against DuckDB, and prints the
metrics as the last line of standard output. `--trace 0` prints the
end-to-end metrics, `--trace 1` the per-layer ones. The full record of the
run (sample counts, validity fields, environment) is printed on the line
before and kept under `.bench_build/results`.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

SIZE = {"nightly_refresh": "nightly", "override_edits": "serving"}
DEFAULT_SEED = 1
HEAP = "3g"
# processors the harness JVM sees, and so Spark's worker threads and shuffle
# partitions: on a shared 4-core machine two leave room for other processes,
# which steadied the figures in trials without slowing these sizes
CORES = 2
SLOW_READ_MS = 500.0  # the reference's slow-query log threshold (BASELINE.md)
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
POINT_EPS = ("dailyCounts", "serpFeatureSeries", "negativeSummary")
ENDPOINTS = list(POINT_EPS) + ["trendSummary", "anomalies", "screen"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest of p75/p90/p95/p99 with at least ten samples beyond it;
    the median when there are fewer than 40 samples."""
    n = len(xs)
    pct = 50
    for p in (75, 90, 95, 99):
        if n * (100 - p) / 100 >= 10:
            pct = p
    if not xs:
        return 0.0, pct
    s = sorted(xs)
    return s[min(n - 1, int(round(pct / 100 * (n - 1))))], pct


def inputs(workload, seed):
    """Generated inputs for (size, seed), reused when their digests check."""
    size = SIZE[workload]
    out = os.path.join(BUILD, "data", f"{size}-{seed}")
    meta = gen.verify(out)
    if meta is None:
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        meta = gen.generate(size, seed, tmp)
        os.rename(tmp, out)
    return out, meta


def run_jvm(classpath, args, log, tmp, timeout):
    # temp, shuffle and perf-data files stay inside the checkout
    cmd = ["java", f"-Xmx{HEAP}", f"-XX:ActiveProcessorCount={CORES}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.ServingBench"] + args
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=ROOT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"harness exceeded {timeout:.0f} s; log: {log}")


def probe_set(workload, seed):
    """`all` probes where their digests are pinned (the default seed's
    nightly_refresh state), else the point probes DuckDB checks live."""
    return "all" if workload == "nightly_refresh" and seed == DEFAULT_SEED else "point"


def gate(workload, data, meta, work, rec, seed):
    """Gold and probe-answer digests of the run vs DuckDB over the same
    inputs; for the default seed also vs the pinned digests (DuckDB's gold,
    and the answers of every probe). Returns (mismatches, probe digests)."""
    with open(os.path.join(data, "probes.json")) as fh:
        probes = [p for p in json.load(fh)
                  if probe_set(workload, seed) == "all" or p["ep"] in oracle.POINT]
    if len(probes) != int(rec["probes"]):
        return [f"{rec['probes']} probes answered, {len(probes)} expected"], []
    days, edits = [], []
    if workload == "nightly_refresh":
        days = list(range(meta["days"], meta["days"] + meta["modal_days"]))
    else:
        with open(os.path.join(data, "serving.json")) as fh:
            edits = json.load(fh)["edits"][:int(rec["edits_applied"])]
    want, want_p = oracle.expected(data, ingested_days=days, edits=edits, probes=probes)
    got, got_p = oracle.actual(os.path.join(work, "gold"), os.path.join(work, "answers"),
                               len(probes))
    bad = [f"gold {t}: {got[t]} != {want[t]}" for t in oracle.GOLD if got[t] != want[t]]
    bad += [f"probe {i} {probes[i]['ep']}: {g} != {w}"
            for i, (g, w) in enumerate(zip(got_p, want_p)) if w is not None and g != w]
    if seed == DEFAULT_SEED:
        with open(os.path.join(HERE, "pinned.json")) as fh:
            pin = json.load(fh)[workload]
        base, _ = oracle.expected(data, ingested_days=days)
        bad += [f"pinned {t}: {base[t]} != {pin['gold'][t]}"
                for t in oracle.GOLD if base[t] != pin["gold"][t]]
        bad += [f"pinned probe {i} {probes[i]['ep']}: {g} != {w}"
                for i, (g, w) in enumerate(zip(got_p, pin.get("probes", []))) if g != w]
    return bad, got_p


def spans_by_name(path):
    out = {}
    if not os.path.exists(path):
        return out
    with open(path) as fh:
        for line in fh:
            s = json.loads(line)
            if s["parent"] != "setup":
                out.setdefault(s["name"], []).append(s["dur_ns"] / 1e6)
    return out


def history(workload):
    return os.path.join(BUILD, "history", f"{workload}.jsonl")


def overhead(workload, build_id, seed, traced):
    """Traced minus untraced `freshness_ms`, the untraced side being the
    median of this checkout's untraced runs of the same build and seed (of
    the same build, any seed, when there is none). Returns (ms, share,
    basis)."""
    runs = []
    if os.path.exists(history(workload)):
        with open(history(workload)) as fh:
            runs = [json.loads(x) for x in fh if x.strip()]
    runs = [r for r in runs if r.get("build") == build_id]
    basis = "seed"
    base = [r["freshness_ms"] for r in runs if r["seed"] == seed]
    if not base:
        basis, base = "build", [r["freshness_ms"] for r in runs]
    if not base:
        return 0.0, 0.0, "none"
    over = traced - median(base)
    return over, over / median(base), f"{basis} ({len(base)} runs)"


def summarize(workload, rec, spans, bad):
    """Every metric of the run, end-to-end and per-layer, with units."""
    nightly = workload == "nightly_refresh"
    # the point endpoints differ in cost and the run's read count is not a
    # multiple of their cycle: `point_read_ms` is the mean of their medians
    by_ep = {}
    for ep, ms in rec["reads"]:
        if ep in POINT_EPS:
            by_ep.setdefault(ep, []).append(ms)
    point = [ms for xs in by_ep.values() for ms in xs]
    edits = rec.get("edits", [])
    def one(k):
        return [rec[k]] if k in rec else []
    fresh = one("freshness_ms") if nightly else [e["freshness_ms"] for e in edits]
    refresh = one("refresh_ms") if nightly else [e["refresh_ms"] for e in edits]
    # edits come in a fixed cycle of types with different costs: their
    # figures are means over the run, a median would pick one edit type
    center = median if nightly else (lambda xs: statistics.mean(xs) if xs else 0.0)
    attempted = int(rec["attempted"]) + len(oracle.GOLD)
    failed = int(rec["failed"]) + len(bad)
    m = {
        "setup_s": (rec["setup_s"], "s"),
        "freshness_ms": (center(fresh), "ms"),
        "refresh_ms": (center(refresh), "ms"),
        "point_read_ms": (statistics.mean(median(xs) for xs in by_ep.values())
                          if by_ep else 0.0, "ms"),
        "gold_mb": (rec["gold_bytes"] / 1e6, "MB"),
    }
    pt, ppct = tail(point)
    ft, fpct = tail(fresh)
    lst = rec.get("listener", {})
    reads = [c for c in ("point", "insight") if c in lst]
    n_req = sum(len(v) for k, v in spans.items() if k.startswith("api.") and k.endswith("_exec"))
    all_cls = list(lst.values())
    tables = rec.get("gold_table_s") or rec.get("setup_gold_table_s", {})
    layer = {
        "Sessions.start_s": (rec["session_start_s"], "s"),
        "ingest.articles_s": (rec.get("ingest_articles_s", 0.0), "s"),
        "ingest.serp_s": (rec.get("ingest_serp_s", 0.0), "s"),
        "ingest.rows_in": (rec.get("ingest_rows_in", 0.0), "count"),
        "ingest.rows_kept_share": (rec["ingest_rows_kept"] / rec["ingest_rows_in"]
                                   if rec.get("ingest_rows_in") else 0.0, "share"),
        "gold.refresh_s": (median(refresh) / 1e3 if nightly
                           else rec.get("setup_gold_s", 0.0), "s"),
        "gold.files": (rec["gold_files"], "count"),
        "gold.read_open_ms": (median(spans.get("gold.read_open", [])), "ms"),
        "override.refresh_ms": (median(refresh) if not nightly else 0.0, "ms"),
        "jvm.peak_rss_mb": (rec["peak_rss_mb"], "MB"),
        "jvm.live_heap_mb": (rec["live_heap_mb"], "MB"),
        "override.files_rewritten": (statistics.mean([e["files"] for e in edits])
                                     if edits else 0.0, "count"),
        "override.visible_first_poll_share": (
            sum(e["polls"] == 1 for e in edits) / len(edits) if edits else 0.0, "share"),
        "views.entity_daily_metrics_s": (rec.get("views_entity_daily_metrics_s", 0.0), "s"),
        "views.entity_anomalies_s": (rec.get("views_entity_anomalies_s", 0.0), "s"),
        "views.plan_ms": (median(spans.get("views.plan", [])), "ms"),
        "spark.jobs_per_read": (sum(lst[c]["jobs"] for c in reads) / n_req if n_req else 0.0,
                                "count"),
        "spark.tasks_per_read": (sum(lst[c]["tasks"] for c in reads) / n_req if n_req else 0.0,
                                 "count"),
        "spark.task_wait_ms": (sum(c["wait_ms"] for c in all_cls) /
                               max(1, sum(c["tasks"] for c in all_cls)), "ms"),
        "spark.shuffle_mb": (sum(c["shuffle_bytes"] for c in all_cls) / 1e6, "MB"),
        "spark.spill_mb": (sum(c["spill_bytes"] for c in all_cls) / 1e6, "MB"),
        "spark.gc_s": (sum(c["gc_ms"] for c in all_cls) / 1e3, "s"),
        "spark.task_failures": (sum(c["failures"] for c in all_cls), "count"),
        "spark.busy_share": (sum(c["run_ms"] for c in all_cls) / 1e3 /
                             ((rec["setup_s"] + rec["measured_s"]) * rec["cores"]), "share"),
        "cycle.cycle_s": (rec.get("cycle_s", 0.0), "s"),
        "read.point_tail_ms": (pt, "ms"),
        "read.per_s": (len(point) / rec["measured_s"], "1/s"),
        "read.slow_share": (sum(x > SLOW_READ_MS for x in point) / len(point)
                            if point else 0.0, "share"),
        "read.failed": (rec["reads_failed"], "count"),
        "freshness.tail_ms": (ft, "ms"),
        "edit.late_ms": (max([e["late_ms"] for e in edits], default=0.0), "ms"),
        "error_share": (failed / attempted, "share"),
    }
    for t in oracle.GOLD:
        layer[f"gold.{t}_s"] = (tables.get(t, 0.0), "s")
    for kind in ("article", "serp_feature_item", "serp_result"):
        layer[f"override.{kind}_ms"] = (median(spans.get(f"override.{kind}", [])), "ms")
    for ep in ENDPOINTS:
        layer[f"api.{ep}_plan_ms"] = (median(spans.get(f"api.{ep}_plan", [])), "ms")
        layer[f"api.{ep}_exec_ms"] = (median(spans.get(f"api.{ep}_exec", [])), "ms")
    counts = {"point_reads": len(point), "freshness": len(fresh), "refresh": len(refresh),
              "point_read_tail_pct": ppct, "freshness_tail_pct": fpct}
    return m, layer, counts, attempted, failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZE))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()
    t_start = time.time()

    classpath = build.build()
    data, meta = inputs(a.workload, a.seed)
    run_id = f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "runs", run_id)
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(results, f"{run_id}.json")
    try:
        budget = max(60.0, 175.0 - (time.time() - t_start))
        code = run_jvm(classpath, [
            "--workload", a.workload, "--data", data, "--work", work,
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out,
            "--probes", probe_set(a.workload, a.seed)],
            os.path.join(results, f"{run_id}.log"), tmp, budget)
        if code != 0 or not os.path.exists(out):
            raise SystemExit(f"harness failed (exit {code}); log under {results}")
        with open(out) as fh:
            rec = json.load(fh)
        bad, probe_digests = gate(a.workload, data, meta, work, rec, a.seed)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    spans = spans_by_name(out + ".spans.jsonl")
    e2e, layer, counts, attempted, failed = summarize(a.workload, rec, spans, bad)
    build_id = build.stamp()
    basis = None
    if a.trace == 0:
        os.makedirs(os.path.dirname(history(a.workload)), exist_ok=True)
        with open(history(a.workload), "a") as fh:
            fh.write(json.dumps({"build": build_id, "seed": a.seed,
                                 "freshness_ms": e2e["freshness_ms"][0]}) + "\n")
    else:
        over, share, basis = overhead(a.workload, build_id, a.seed, e2e["freshness_ms"][0])
        layer["trace.overhead_ms"] = (over, "ms")
        layer["trace.overhead_share"] = (share, "share")

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": os.cpu_count(), "spark_cores": rec["cores"], "heap": HEAP,
        "heap_max_mb": rec["heap_max_mb"],
        "spark_version": rec["spark_version"],
        "sizes": {k: meta[k] for k in ("companies", "ceos", "days", "modal_days")},
        "samples": counts, "trace_overhead_basis": basis,
        "editor_late_ms_max": layer["edit.late_ms"][0], "gate": bad or "ok",
        "probe_digests": probe_digests,
        "errors": rec["errors"], "attempted": attempted, "failed": failed,
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "per_layer": {k: v for k, (v, _) in layer.items()},
    }
    with open(os.path.join(results, f"{run_id}.record.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print("record: " + json.dumps(record))
    chosen = e2e if a.trace == 0 else layer
    print(json.dumps({
        "correct": not bad and failed == 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))


if __name__ == "__main__":
    main()
