#!/usr/bin/env python3
"""Compare the per-operation work counters of two traced benchmark runs.

Usage: python3 perfbench/workdiff.py <detail-a.json> <detail-b.json>

The inputs are the detail records a `--trace 1` run of perfbench/run.py
writes under .bench_build/results/ (two runs, or the same run on two
commits). Jobs, stages, tasks, shuffle bytes and the other counters below
do not depend on host speed, so any difference is a change in the work the
program did, not noise. Every difference is printed, including a few bytes
of shuffle drift; none is masked. Exit status: 0 when every counter of every
operation matches, 1 otherwise.
"""
import json
import sys

COUNTERS = ["scheduler.jobs", "scheduler.stages", "scheduler.tasks", "queries.build_jobs",
            "queries.execute_jobs", "shuffle.write_bytes", "shuffle.read_bytes",
            "shuffle.records", "spill.bytes", "engine.scan_rows", "engine.cache_fills",
            "rows_out"]


def load(path):
    with open(path) as fh:
        d = json.load(fh)
    if "work" not in d:
        sys.exit(f"{path}: no per-operation work record (is it a --trace 1 fixture_suite run?)")
    return d


def main(a_path, b_path):
    a, b = load(a_path), load(b_path)
    if a.get("seed") != b.get("seed"):
        print(f"note: seeds differ ({a.get('seed')} vs {b.get('seed')}); "
              "inputs differ, so counters may too")
    changed = 0
    for op in sorted(set(a["work"]) | set(b["work"])):
        wa, wb = a["work"].get(op), b["work"].get(op)
        if wa is None or wb is None:
            print(f"{op}: only in {'b' if wa is None else 'a'}")
            changed += 1
            continue
        diffs = [f"{c} {wa.get(c)} -> {wb.get(c)}" for c in COUNTERS if wa.get(c) != wb.get(c)]
        if diffs:
            changed += 1
            print(f"{op}: " + "; ".join(diffs))
    n = len(set(a["work"]) | set(b["work"]))
    print(f"{n - changed}/{n} operations have identical work counters")
    return 1 if changed else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
