#!/usr/bin/env python3
"""Choose fixture_suite's query subset from a measured pass of the full suite.

Usage (from the repository root):
  python3 perfbench/subset.py <seed> <k>

Runs every batch SparkEntry query (every name not ending in
`_stream_parity`) in the benchmark driver on the seed's generated tables:
one cold warm-up pass that writes the outputs, one untraced warm pass and
one traced warm pass. Queries that fail or whose output does not match the
DuckDB oracle are left out. The rest are sorted by the jobs they ran in
the traced pass and cut into `k` strata of equal size (job-count
quantiles); from each stratum the query whose warm wall is nearest the
stratum's median wall is taken. The chosen names, and the per-query wall
p50/p95 and jobs of the subset beside those of the full pass, are printed
as JSON. The full pass takes about ten minutes on four cores.
"""
import json
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import run  # noqa: E402


def summary(rows):
    walls = [r["wall_s"] for r in rows]
    jobs = [r["jobs"] for r in rows]
    return {"queries": len(rows), "wall_p50_s": run.quantile(walls, 0.5),
            "wall_p95_s": run.quantile(walls, 0.95), "wall_sum_s": sum(walls),
            "jobs_p50": run.quantile(jobs, 0.5), "jobs_p95": run.quantile(jobs, 0.95),
            "jobs_mean": statistics.mean(jobs)}


def stratify(rows, k):
    rows = sorted(rows, key=lambda r: (r["jobs"], r["name"]))
    picked = []
    for i in range(k):
        stratum = rows[len(rows) * i // k:len(rows) * (i + 1) // k]
        mid = statistics.median(r["wall_s"] for r in stratum)
        picked.append(min(stratum, key=lambda r: (abs(r["wall_s"] - mid), r["name"])))
    return picked


def main(seed, k):
    run.build()
    data = run.inputs("fixture_suite", seed, 0)
    work = os.path.join(run.BUILD, "runs", f"subset-{seed}-{os.getpid()}")
    out = os.path.join(work, "out")
    os.makedirs(out)
    try:
        # no "queries" key: the driver runs every batch query
        res = run.run_driver({"workload": "fixture_suite", "out": out, "work": work,
                              "trace": True, "seconds": 0.0, "data": data, "min_passes": 1},
                             work, timeout=3000)
        oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
        cache = os.path.join(run.BUILD, "inputs", f"seed-{seed}", "oracle")
        bad = check.check_batch(out, "check", data, cache, sorted(oracle), oracle)
        spans, kids = run.load_spans(os.path.join(out, "spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    errors = {o["name"]: o["error"] for o in res["warm"] + res["ops"] if o["error"]}
    rows, left_out = [], {}
    for op in (s for s in spans.values() if s["kind"] == "op"):
        why = errors.get(op["name"]) or bad.get(op["name"])
        if why:
            left_out[op["name"]] = why
            continue
        m = run.op_work(kids, op)
        rows.append({"name": op["name"], "wall_s": m["wall_s"], "jobs": m["scheduler.jobs"]})
    picked = stratify(rows, k)
    print(json.dumps({"seed": seed, "subset": [r["name"] for r in picked],
                      "picked": picked, "subset_stats": summary(picked),
                      "suite_stats": summary(rows), "left_out": left_out}, indent=1))


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(int(sys.argv[1]), int(sys.argv[2]))
