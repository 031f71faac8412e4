"""Seeded input generator for the graft benchmark.

Every input the benchmark feeds the program comes from here, derived from
the workload seed alone, so the same seed always gives byte-identical
tables. Two inputs:

  fixture   the ten sf0.1-shaped tables (TPC-H-style star schema, the
            `events` stream table, the `documents` corpus and the
            `embeddings` table), rows in a seeded permuted order and the
            large tables split over several parquet files;
  stream    the open-loop event schedule: a list of (due offset, file)
            pairs whose event_ids are contiguous per file, with
            Zipf-skewed user ids and a fixed share of events whose event
            time lags behind the file's due time (out of order, bounded
            inside the join grace).

Usage: python3 perfbench/gen.py <fixture|stream> <seed> <out> [stream-config-json]
"""
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF_ROWS = {"customer": 15000, "supplier": 1000, "part": 20000,
           "orders": 150000, "lineitem": 600000, "events": 100000,
           "documents": 5000, "embeddings": 2000}
# Large tables are written as a directory of this many part files; the
# program reads `<dir>/<name>.parquet` either way.
SPLIT = {"lineitem": 4, "orders": 2, "events": 2}

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
PART_ADJ = "large hot blue small red green cold dark".split()
PART_NOUN = "ring bolt nut gear pipe valve screw plate".split()
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
US_PER_DAY = 86_400_000_000


def rng_for(seed, name):
    """Independent stream per table, so adding a table never shifts another."""
    return np.random.default_rng([seed, sum(map(ord, name)) * 7919 + len(name)])


def money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def ts_days(r, start, days, n):
    base = np.datetime64(start, "us").astype(np.int64)
    return (base + r.integers(0, days + 1, n) * US_PER_DAY).astype("datetime64[us]")


def documents_table(seed, n):
    r = rng_for(seed, "documents")
    lengths = np.clip(r.normal(50, 20, n).astype(int), 5, 95)
    words = r.integers(0, len(VOCAB), lengths.sum())
    texts, pos = [], 0
    for k in lengths:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + k]))
        pos += k
    # 5% near-duplicates: an earlier document with one inserted token
    dups = r.choice(np.arange(1, n), n // 20, replace=False)
    for d in dups:
        src = texts[int(r.integers(0, d))].split(" ")
        src.insert(int(r.integers(0, len(src) + 1)), "dup")
        texts[d] = " ".join(src)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(r.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def fixture_tables(seed):
    n = SF_ROWS
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    r = rng_for(seed, "customer")
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(r.integers(0, 25, c), pa.int32()),
        "c_acctbal": money(r, -999.99, 9999.99, c),
        "c_mktsegment": pa.array(r.choice(SEGMENTS, c), pa.string())})
    r = rng_for(seed, "supplier")
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(r.integers(0, 25, s), pa.int32()),
        "s_acctbal": money(r, -999.99, 9999.99, s)})
    r = rng_for(seed, "part")
    p = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), pa.int64()),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(r.integers(0, 8, p), r.integers(0, 8, p))], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, p)], pa.string()),
        "p_type": pa.array(r.choice(PART_TYPES, p), pa.string()),
        "p_size": pa.array(r.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) * 0.1, 2)})
    r = rng_for(seed, "orders")
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(r.integers(0, c, o), pa.int64()),
        "o_orderstatus": pa.array(r.choice(["O", "F", "P"], o), pa.string()),
        "o_totalprice": money(r, 1000, 500000, o),
        "o_orderdate": pa.array(ts_days(r, "1995-01-01", 2403, o), pa.timestamp("us")),
        "o_orderpriority": pa.array(r.choice(PRIORITIES, o), pa.string())})
    r = rng_for(seed, "lineitem")
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, o, li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, p, li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, s, li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, li), pa.int32()),
        "l_quantity": r.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": money(r, 900, 105000, li),
        "l_discount": r.integers(0, 11, li) / 100.0,
        "l_tax": r.integers(0, 9, li) / 100.0,
        "l_returnflag": pa.array(r.choice(["A", "N", "R"], li), pa.string()),
        "l_linestatus": pa.array(r.choice(["O", "F"], li), pa.string()),
        "l_shipdate": pa.array(ts_days(r, "1995-01-02", 2497, li), pa.timestamp("us"))})
    r = rng_for(seed, "events")
    e = n["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(np.sort(start + r.integers(0, 30 * US_PER_DAY, e))
                       .astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 1500, e), pa.int64()),
        "event_type": pa.array(r.choice(EVENT_TYPES, e), pa.string()),
        "value": np.round(np.minimum(r.exponential(50.0, e), 560.0), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, e)], pa.string())})
    out["documents"] = documents_table(seed, n["documents"])
    r = rng_for(seed, "embeddings")
    m = n["embeddings"]
    labels = r.integers(0, 10, m)
    centers = r.normal(0, 1, (10, 64))
    vecs = centers[labels] + r.normal(0, 1.2, (m, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write_tables(tables, out, seed):
    os.makedirs(out, exist_ok=True)
    for name, t in tables.items():
        perm = rng_for(seed, "perm-" + name).permutation(t.num_rows)
        t = t.take(pa.array(perm))
        parts = SPLIT.get(name, 1)
        if parts == 1:
            pq.write_table(t, f"{out}/{name}.parquet")
            continue
        d = f"{out}/{name}.parquet"
        os.makedirs(d, exist_ok=True)
        step = -(-t.num_rows // parts)
        for i in range(parts):
            pq.write_table(t.slice(i * step, step), f"{d}/part-{i:03d}.parquet")


def stream_schedule(seed, out, steps, backlog_files, backlog_rounds, events_per_file, users, zipf_s,
                    stretch, late_frac, late_max_s, warm_files):
    """Write the event files and schedule.json for the open-loop ladder.

    The ladder offers each step's rate (events/s) for its seconds; a file
    of `events_per_file` events is due every events_per_file/rate seconds.
    Event time advances `stretch` event-seconds per wall second of the
    schedule; a `late_frac` share of events lags up to `late_max_s`
    event-seconds behind its file. The first `warm_files` files precede
    the ladder and are consumed during set-up. After the ladder come
    `backlog_rounds` rounds of `backlog_files` files, each offered all at
    once as a backlog to catch up on; round r is step len(steps) + r.
    """
    r = rng_for(seed, "stream")
    os.makedirs(f"{out}/files", exist_ok=True)
    zipf_w = 1.0 / np.arange(1, users + 1) ** zipf_s
    zipf_w /= zipf_w.sum()
    user_perm = r.permutation(users)
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    warm_gap = events_per_file / steps[0][0]
    due = [(-1.0, -1, w * warm_gap, warm_gap) for w in range(warm_files)]
    t = 0.0
    for i, (rate, step_s) in enumerate(steps):
        gap = events_per_file / rate
        k = int(round(step_s * rate / events_per_file))
        due += [(t + j * gap, i, (warm_files + 1) * warm_gap + t + j * gap, gap)
                for j in range(k)]
        t += k * gap
    gap = events_per_file / steps[-1][0]
    due += [(-2.0, len(steps) + j // backlog_files,
             (warm_files + 1) * warm_gap + t + j * gap, gap)
            for j in range(backlog_files * backlog_rounds)]
    files, eid = [], 0
    for f, (offset, step, event_s, gap) in enumerate(due):
        n = events_per_file
        sec = (event_s + r.random(n) * gap) * stretch
        lag = np.where(r.random(n) < late_frac, r.random(n) * late_max_s, 0.0)
        ts = start + ((sec - lag) * 1e6).astype(np.int64)
        tbl = pa.table({
            "event_id": pa.array(np.arange(eid, eid + n), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(user_perm[r.choice(users, n, p=zipf_w)], pa.int64()),
            "event_type": pa.array(r.choice(["click", "purchase", "view"], n,
                                            p=[0.5, 0.3, 0.2]), pa.string()),
            "value": np.round(np.minimum(r.exponential(50.0, n), 560.0), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)], pa.string()),
        })
        name = f"ev-{f:05d}.parquet"
        pq.write_table(tbl, f"{out}/files/{name}")
        files.append({"file": name, "due_s": offset, "step": step, "events": n})
        eid += n
    with open(f"{out}/schedule.json", "w") as fh:
        json.dump({"steps": steps, "files": files}, fh)


def main(argv):
    kind, seed, out = argv[0], int(argv[1]), argv[2]
    tmp = out + ".tmp"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    if kind == "fixture":
        write_tables(fixture_tables(seed), tmp, seed)
    elif kind == "stream":
        cfg = json.loads(argv[3])
        stream_schedule(seed, tmp, **cfg)
    else:
        raise SystemExit(f"unknown input kind {kind}")
    os.rename(tmp, out)


if __name__ == "__main__":
    main(sys.argv[1:])
