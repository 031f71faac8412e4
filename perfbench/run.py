#!/usr/bin/env python3
"""graft benchmark: one command that builds, runs, checks and reports.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md for why each exists and what it moves):
  fixture_suite  closed loop, one client: a family-stratified subset of the
                 batch SparkEntry queries on seeded sf0.1-shaped tables
  stream_ingest  open loop: event files offered on a rate ladder to three
                 concurrent stateful streaming queries

The driver (perfbench/jvm) is compiled from this checkout's sources on the
first run, into .bench_build/. Inputs come only from perfbench/gen.py and
the seed. Every run checks its outputs (perfbench/check.py) outside the
timed window. The last stdout line is the JSON result; with --trace 0 it
holds the end-to-end metrics, with --trace 1 the per-layer metrics of a
traced run. A fuller record of each run (per-operation work counters,
ladder steps, host canary, single-core baseline, per-layer self time) goes
to .bench_build/results/, and perfbench/workdiff.py compares two of them.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
JVM = os.path.join(HERE, "jvm")
CLASSES = os.path.join(BUILD, "perfbench-target", "scala-2.13", "classes")
CPUS = 4

# fixture_suite: `python3 perfbench/subset.py 42 7` on a full warm pass of
# all 229 batch queries: one query per job-count seventh, the one nearest
# its stratum's median wall. Subset per-query wall p50 0.79 s / p95 3.3 s
# and jobs p50 5, against 0.82 s / 3.8 s and 5 for the full pass.
FIXTURE_QUERIES = [
    "avro_roundtrip", "sliding_agg", "partial_merge_rollup", "q12_ship_delay",
    "sliding_distinct_users", "span_dedup", "ann_pq",
]
# Pair-family operations whose plans yield candidate pairs (llm.* metrics).
PAIR_OPS = {"span_dedup"}
# The ladder: offered events/s and how long each rate is offered for, as a
# share of --seconds. Step NOMINAL is the nominal rate the latency metrics
# are taken at; the step before it offers the same rate as a warm-up whose
# samples are not timed. After the ladder drains, backlogs of
# `backlog_files` files are offered at once, `backlog_rounds` times; the
# median rate they are caught up at is the throughput metric.
LADDER = [(1500, 0.5), (1500, 2.0), (8000, 0.2)]
NOMINAL = 1
STREAM = {
    "backlog_files": 40,
    "backlog_rounds": 4,
    "events_per_file": 500,
    "users": 20000,
    "zipf_s": 0.8,
    "stretch": 36000.0,
    "late_frac": 0.05,
    "late_max_s": 1200.0,
    "warm_files": 4,
}
STREAM_LATENCY_LIMIT_MS = 10000.0
# fixture_suite passes timed per run: at least this many, more while
# --seconds have not elapsed. A traced run times this many untraced passes,
# then traces this many.
PASSES = 2

JAVA_OPTS = [
    "-Xmx3g", "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=100",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def metric_units(kind):
    """Metric name -> unit for `kind` ("end_to_end" or "per_layer"), in
    BENCHMARK.json's order: the one list of the names the benchmark prints."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), JVM):
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    h.update(p[len(ROOT):].encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    """The Spark jar directory the repository's own build compiles against
    (its `unmanagedBase`)."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m or not os.path.isdir(m.group(1)):
        fail("build.sbt names no Spark jar directory (unmanagedBase) that exists")
    return m.group(1)


def build():
    stamp = os.path.join(BUILD, "build.stamp")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.isdir(CLASSES):
        return
    log("compiling graft and the benchmark driver (sbt, offline)")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.override.build.repos=true", f"-Dsbt.global.base={BUILD}/sbt-global",
           f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
           f"-Dgraft.spark.jars={spark_jars()}", "compile"]
    repo_cfg = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repo_cfg):
        cmd.insert(4, f"-Dsbt.repository.config={repo_cfg}")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as logf:
        rc = subprocess.run(cmd, cwd=JVM, env=env, stdout=logf, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0 or not os.path.isdir(CLASSES):
        fail(f"build failed (rc={rc}); see .bench_build/build.log")
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"build done in {time.time() - t0:.1f} s")


# ---------------------------------------------------------------- inputs

def stream_config(seconds):
    return dict(STREAM, steps=[[rate, share * seconds] for rate, share in LADDER])


def inputs(workload, seed, seconds):
    """Generate, once per seed, the input `workload` reads; returns its dir."""
    base = os.path.join(BUILD, "inputs", f"seed-{seed}")
    os.makedirs(base, exist_ok=True)
    if workload == "fixture_suite":
        path, args = os.path.join(base, "fixture"), ["fixture", str(seed)]
    else:
        cfg = json.dumps(stream_config(seconds), sort_keys=True)
        key = hashlib.sha256(cfg.encode()).hexdigest()[:10]
        path, args = os.path.join(base, f"stream-{key}"), ["stream", str(seed), cfg]
    if not os.path.isdir(path):
        gen.main(args[:2] + [path] + args[2:])
    return path


# ---------------------------------------------------------------- driver

def run_driver(cfg, work, timeout=150):
    cfg_path = os.path.join(work, "config.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = f"{CLASSES}:{spark_jars()}/*"
    cmd = ["java", f"-Djava.io.tmpdir={tmp}"] + JAVA_OPTS + ["-cp", cp, "perfbench.Driver", cfg_path]
    with open(os.path.join(work, "driver.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("driver timed out; see its log under .bench_build/runs/")
    result = os.path.join(cfg["out"], "result.json")
    if rc != 0 or not os.path.exists(result):
        with open(os.path.join(work, "driver.log")) as fh:
            tail = fh.read()[-3000:]
        fail(f"driver failed (rc={rc}):\n{tail}")
    with open(result) as fh:
        return json.load(fh)


def quantile(xs, q):
    s = sorted(xs)
    if not s:
        return float("nan")
    i = min(len(s) - 1, max(0, int(-(-q * len(s) // 1)) - 1))
    return s[i]


# ---------------------------------------------------------------- traces

def load_spans(path):
    spans = {}
    if os.path.exists(path):
        with open(path) as fh:
            for line in fh:
                s = json.loads(line)
                spans[s["id"]] = s
    kids = {}
    for s in spans.values():
        kids.setdefault(s["parent"], []).append(s)
    return spans, kids


def descendants(kids, sid):
    out, todo = [], list(kids.get(sid, []))
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], []))
    return out


def dur(s):
    return max(0, s["end"] - s["start"]) if s["end"] >= 0 else 0


def union_ms(intervals, lo, hi):
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# per-layer metric <- (stage span attribute, scale)
STAGE_METRICS = {
    "scheduler.tasks": ("tasks", 1), "scheduler.task_failures": ("task_failures", 1),
    "engine.scan_bytes": ("input_bytes", 1), "engine.scan_rows": ("input_rows", 1),
    "exec.task_s": ("run_ms", 1e-3), "exec.cpu_s": ("cpu_ns", 1e-9), "exec.gc_s": ("gc_ms", 1e-3),
    "shuffle.write_bytes": ("shuffle_write_bytes", 1),
    "shuffle.read_bytes": ("shuffle_read_bytes", 1),
    "shuffle.records": ("shuffle_write_records", 1),
    "shuffle.fetch_wait_s": ("fetch_wait_ms", 1e-3),
    "shuffle.write_s": ("shuffle_write_ns", 1e-9), "spill.bytes": ("spill_bytes", 1),
}


def add_stage(m, stage):
    m["scheduler.stages"] = m.get("scheduler.stages", 0) + 1
    for name, (attr, scale) in STAGE_METRICS.items():
        m[name] = m.get(name, 0) + stage["attrs"].get(attr, 0) * scale


def add_sql(m, sql):
    for name in ("optimizer_ms", "physical_ms"):
        m["planning." + name] = m.get("planning." + name, 0) + sql["attrs"].get(name, 0)


def op_work(kids, op):
    """One operation's per-layer metrics, keyed by metric name, plus its
    wall, output rows and largest join output."""
    m = {"wall_s": dur(op) / 1e3, "rows_out": 0, "join_rows_max": 0, "scheduler.jobs": 0,
         "scheduler.stages": 0, "queries.build_jobs": 0, "queries.execute_jobs": 0,
         "engine.cache_fills": 0, "engine.cache_bytes": 0, "planning.analysis_ms": 0}
    stage_iv = []
    for s in descendants(kids, op["id"]):
        a, k = s["attrs"], s["kind"]
        if k in ("queries.build", "queries.execute"):
            m[k + "_s"] = m.get(k + "_s", 0) + dur(s) / 1e3
            m[k + "_jobs"] += sum(1 for c in descendants(kids, s["id"]) if c["kind"] == "job")
            m["planning.analysis_ms"] += a.get("analysis_ms", 0)
            m["engine.cache_fills"] += sum(1 for x in a if x.startswith("rdd_"))
            m["engine.cache_bytes"] += a.get("cache_bytes", 0)
            if k == "queries.execute":
                m["rows_out"] = max((c["attrs"].get("root_rows", 0) for c in kids.get(s["id"], [])
                                     if c["kind"] == "sql"), default=0)
        elif k == "job":
            m["scheduler.jobs"] += 1
        elif k == "stage":
            add_stage(m, s)
            stage_iv.append((s["start"], s["end"] if s["end"] >= 0 else s["start"]))
        elif k == "sql":
            add_sql(m, s)
            m["join_rows_max"] = max(m["join_rows_max"], a.get("join_rows_max", 0))
    m["scheduler.driver_gap_s"] = (dur(op) - union_ms(stage_iv, op["start"], op["end"])) / 1e3
    return m


def self_time(spans, kids):
    """Per span kind, time not covered by its direct children (seconds)."""
    out = {}
    for s in spans.values():
        cs = kids.get(s["id"], [])
        covered = union_ms([(c["start"], c["end"]) for c in cs if c["end"] >= 0],
                           s["start"], s["end"]) if s["end"] >= 0 else 0
        out[s["kind"]] = out.get(s["kind"], 0.0) + max(0, dur(s) - covered) / 1e3
    return out


def batch_layers(spans, kids, res):
    L = dict.fromkeys(metric_units("per_layer"), 0.0)
    per_op = {}
    wall = cand = out = 0
    for op in sorted((s for s in spans.values() if s["kind"] == "op"), key=lambda s: s["start"]):
        m = op_work(kids, op)
        per_op.setdefault(op["name"], []).append({"pass": op["attrs"].get("pass"), **m})
        wall += m["wall_s"]
        for k in L:
            L[k] += m.get(k, 0)
        if op["name"] in PAIR_OPS:
            cand += m["join_rows_max"]
            out += m["rows_out"]
    L["exec.slot_busy_frac"] = L["exec.task_s"] / (wall * CPUS) if wall else 0.0
    L["llm.candidate_pairs"] = cand
    L["llm.pairs_out"] = out
    L["llm.verify_yield"] = out / cand if cand else 0.0
    un = res.get("untraced_pass_s") or []
    if un:
        L["trace.overhead_frac"] = statistics.median(res["pass_s"]) / statistics.median(un) - 1
    return L, per_op


def stream_layers(spans, kids, res):
    L = dict.fromkeys(metric_units("per_layer"), 0.0)
    batches = [s for s in spans.values() if s["kind"] == "stream.batch"
               and s["attrs"].get("input_rows", 0) > 0]
    L["streaming.batches"] = len(batches)
    if batches:
        L["streaming.batch_ms_p50"] = statistics.median(
            b["attrs"].get("triggerExecution_ms", 0) for b in batches)
    per_query_last = {}
    mem = {}
    for b in batches:
        a = b["attrs"]
        L["streaming.add_batch_ms"] += a.get("addBatch_ms", 0)
        L["streaming.planning_ms"] += a.get("queryPlanning_ms", 0)
        L["streaming.wal_commit_ms"] += a.get("walCommit_ms", 0) + a.get("commitOffsets_ms", 0)
        L["streaming.offsets_ms"] += a.get("latestOffset_ms", 0) + a.get("getBatch_ms", 0)
        L["state.rows_updated"] += a.get("state_rows_updated", 0)
        L["state.rows_removed"] += a.get("state_rows_removed", 0)
        L["state.commit_ms"] += a.get("state_commit_ms", 0)
        if b["start"] >= per_query_last.get(b["parent"], (0, None))[0]:
            per_query_last[b["parent"]] = (b["start"], a.get("state_rows_total", 0))
        mem[b["parent"]] = max(mem.get(b["parent"], 0), a.get("state_memory_bytes", 0))
    L["state.rows_total"] = sum(v[1] for v in per_query_last.values())
    L["state.memory_bytes"] = sum(mem.values())
    for s in spans.values():
        if s["kind"] == "stage":
            add_stage(L, s)
        elif s["kind"] == "sql":
            add_sql(L, s)
    L["scheduler.jobs"] = sum(1 for s in spans.values() if s["kind"] == "job")
    # the stage sums cover the whole traced span, set-up included
    L["exec.slot_busy_frac"] = L["exec.task_s"] / (res["traced_s"] * CPUS)
    # when the consuming batch started, relative to when its file was due
    starts = {}
    for b in batches:
        starts[(b["parent"], int(b["attrs"].get("batch_id", -1)))] = b["start"]
    qspan = {s["name"]: s["id"] for s in spans.values() if s["kind"] == "stream.query"}
    lags = []
    for q, files in res.get("consumed", {}).items():
        for due_ms, batch in files:
            st = starts.get((qspan.get(q), batch))
            if st is not None:
                lags.append(st - due_ms)
    L["source.lag_ms"] = statistics.median(lags) if lags else 0.0
    L["source.backlog_files"] = max((s["backlog_max_files"] for s in res["steps"]), default=0)
    L["sink.write_ms"] = sum(s["write_ms"] for s in res["sinks"].values())
    L["sink.batches_retried"] = sum(s["retried"] for s in res["sinks"].values())
    L["gen.late_ms_p99"] = quantile(res["gen_late_ms"], 0.99) if res["gen_late_ms"] else 0.0
    return L


# ---------------------------------------------------------------- workloads

def fixture_workload(args, data, work, out):
    names = FIXTURE_QUERIES
    cfg = {"workload": args.workload, "out": out, "work": work,
           "trace": bool(args.trace), "seconds": float(args.seconds), "queries": names,
           "data": data, "min_passes": PASSES}
    if args.trace:
        cfg["seconds"] = 0.0
    res = run_driver(cfg, work)
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    cache = os.path.join(BUILD, "inputs", f"seed-{args.seed}", "oracle")
    bad = check.check_batch(out, "check", data, cache, names, oracle)
    attempted = failed = 0
    for o in res["warm"] + res["ops"]:
        attempted += 1
        err = o["error"] or bad.get(o["name"])
        if err:
            failed += 1
    per_q = {}
    for o in res["ops"]:
        per_q.setdefault(o["name"], []).append(o["build_s"] + o["execute_s"])
    q_med = [statistics.median(v) for v in per_q.values()]
    pass_s = statistics.median(res["pass_s"])
    metrics = {
        "setup_s": res["setup_s"],
        "latency_p50_ms": 1e3 * quantile(q_med, 0.5),
        "latency_tail_ms": 1e3 * quantile(q_med, 0.95),
        "throughput_per_s": len(names) / pass_s,
        "driver_heap_peak_mb": res["heap_peak_mb"],
    }
    detail = {"passes": res["pass_s"], "setup_s": res["setup_s"],
              "per_query_median_s": dict(zip(per_q.keys(), q_med)),
              "suite_s": pass_s, "failures": {k: v for k, v in bad.items() if v},
              "op_errors": sorted({f'{o["name"]}: {o["error"]}' for o in
                                   res["warm"] + res["ops"] if o["error"]}),
              "canary_pre_s": res["canary_pre_s"], "canary_post_s": res["canary_post_s"]}
    layers = None
    if args.trace:
        spans, kids = load_spans(os.path.join(out, "spans.jsonl"))
        layers, per_op = batch_layers(spans, kids, res)
        detail["work"] = {n: v[0] for n, v in per_op.items()}
        detail["work_all_passes"] = per_op
        detail["self_time_s"] = self_time(spans, kids)
        detail["untraced_pass_s"] = res["untraced_pass_s"]
    return metrics, layers, attempted, failed, detail


def stream_workload(args, schedule, work, out):
    cfg = {"workload": args.workload, "out": out, "work": work,
           "trace": bool(args.trace), "seconds": float(args.seconds), "schedule": schedule,
           "nominal_step": NOMINAL}
    res = run_driver(cfg, work)
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    bad = check.check_stream(out, os.path.join(schedule, "files"), oracle)
    batches = {k: v["batches"] for k, v in res["sinks"].items()}
    attempted = sum(batches.values()) + len(batches)
    failed = sum(batches[k] + 1 for k, v in bad.items() if v) + len(res["failures"])
    steps = res["steps"]
    # a ladder step is sustained if its p99 latency meets the limit and its
    # files drained within the step plus the limit (the backlog did not grow)
    sustained = [s["rate"] for (s, (_, share)) in list(zip(steps, LADDER))[NOMINAL:]
                 if s["p99_ms"] is not None and s["p99_ms"] <= STREAM_LATENCY_LIMIT_MS
                 and s["drain_s"] <= share * args.seconds + STREAM_LATENCY_LIMIT_MS / 1e3]
    # the latency metrics are taken at the nominal rate, which must be
    # below saturation: a run where it is not sustained, or where a query
    # never caught up, fails
    problems = []
    if not res["drained"]:
        problems.append("a query did not drain every published file")
    nominal = steps[NOMINAL]
    if nominal["rate"] not in sustained:
        problems.append(f"nominal rate {nominal['rate']:.0f}/s not sustained: p99 "
                        f"{nominal['p99_ms']} ms, drain {nominal['drain_s']} s")
    failed += len(problems)
    # every file holds the same number of events, so each (file, query)
    # sample weighs the same; a file never committed has no latency (null)
    lat = sorted(float("inf") if l is None else l for l, _ in nominal["samples"])
    metrics = {
        "setup_s": res["setup_s"],
        "latency_p50_ms": nominal["p50_ms"],
        # the highest percentile with at least ten samples beyond it
        "latency_tail_ms": lat[-11],
        "throughput_per_s": statistics.median(b["events_per_s"] for b in res["backlog"]),
        "driver_heap_peak_mb": res["heap_peak_mb"],
    }
    detail = {"steps": steps, "backlog": res["backlog"], "setup_s": res["setup_s"], "sinks": res["sinks"],
              "failures": {k: v for k, v in bad.items() if v}, "query_failures": res["failures"],
              "drained": res["drained"], "problems": problems,
              "tail_quantile": (len(lat) - 10) / len(lat),
              "sustained_rate": max(sustained, default=None),
              "latency_limit_ms": STREAM_LATENCY_LIMIT_MS, "baseline_local1": res["baseline"],
              "canary_pre_s": res["canary_pre_s"], "canary_post_s": res["canary_post_s"]}
    layers = None
    if args.trace:
        spans, kids = load_spans(os.path.join(out, "spans.jsonl"))
        layers = stream_layers(spans, kids, res)
        detail["self_time_s"] = self_time(spans, kids)
    return metrics, layers, attempted, failed, detail


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["fixture_suite", "stream_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"))):
        fail("run from the root of a graft checkout: build.sbt and src/main/scala/graft are missing")
    build()
    data = inputs(args.workload, args.seed, args.seconds)
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "out")
    os.makedirs(out)
    try:
        fn = stream_workload if args.workload == "stream_ingest" else fixture_workload
        metrics, layers, attempted, failed, detail = fn(args, data, work, out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        layers["ops_failed_frac"] = failed / attempted
        shown = {k: {"value": layers[k], "unit": u} for k, u in metric_units("per_layer").items()}
    else:
        shown = {k: {"value": metrics[k], "unit": u} for k, u in metric_units("end_to_end").items()}
    detail.update({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                   "metrics": metrics, "layers": layers, "attempted": attempted,
                   "failed": failed, "ops_failed_frac": failed / attempted})
    res_dir = os.path.join(BUILD, "results")
    os.makedirs(res_dir, exist_ok=True)
    detail_path = os.path.join(
        res_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json")
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    log(f"detail: {os.path.relpath(detail_path, ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": shown}))


if __name__ == "__main__":
    main()
