"""Output checks for the graft benchmark, run outside the timed window.

Batch operations are compared with the DuckDB oracle SQL that
`SparkEntry.oracleSql` pairs with each query, run over the same generated
tables: same column set, same normalized column types, same row count and
equal values after sorting rows and columns. Oracle results are cached per
input directory, so repeated runs on one seed query DuckDB once.

The streaming sinks are compared, once converged, with their batch twins
over every generated event file.
"""
import os

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pa_ds
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm_type(t):
    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return "string"
    if pa.types.is_timestamp(t) or pa.types.is_date(t):
        return "datetime"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{norm_type(t.value_type)}>"
    return str(t)


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = f"{data_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        if os.path.exists(path) or path.endswith("*.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def oracle_table(con, cache_dir, name, sql):
    """The oracle's result for one query, from cache when present."""
    path = f"{cache_dir}/{name}.parquet"
    if os.path.exists(path):
        return pq.read_table(path)
    tbl = con.sql(sql).arrow()
    os.makedirs(cache_dir, exist_ok=True)
    pq.write_table(tbl, path + ".tmp")
    os.replace(path + ".tmp", path)
    return tbl


def compare(got_tbl, want_tbl):
    """None when equal, else a one-line reason."""
    got, want = got_tbl.to_pandas(), want_tbl.to_pandas()
    for tbl, df in ((got_tbl, got), (want_tbl, want)):
        for f in tbl.schema:
            if norm_type(f.type) == "datetime":
                df[f.name] = pd.to_datetime(df[f.name])
    got, want = canon(got), canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    duck = {f.name: f.type for f in want_tbl.schema}
    drift = [f"{f.name}: {norm_type(f.type)} vs {norm_type(duck[f.name])}"
             for f in got_tbl.schema
             if f.name in duck and norm_type(f.type) != norm_type(duck[f.name])]
    if drift:
        return f"type drift {drift}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    bad = []
    for c in got.columns:
        a, b = got[c], want[c]
        try:
            eq = a.astype("object") == b.astype("object")
            same = a.equals(b) or (eq | (a.isna() & b.isna())).all()
        except Exception:
            same = False
        if not same:
            bad.append(c)
    return f"value diff in {bad} ({len(got)} rows)" if bad else None


def check_batch(out_dir, sub, data_dir, cache_dir, names, oracle_sql):
    """{query: None or failure reason} for results under out_dir/sub."""
    con = connect(data_dir)
    res = {}
    for n in names:
        try:
            got = pa_ds.dataset(f"{out_dir}/{sub}/{n}", format="parquet").to_table()
            want = oracle_table(con, cache_dir, n, oracle_sql[n])
            res[n] = compare(got, want)
        except Exception as e:  # a missing dump or oracle error fails the op
            res[n] = f"{type(e).__name__}: {str(e)[:300]}"
    con.close()
    return res


# The streaming sinks' batch twins, over the `events` view of every
# generated event file. processor_total and interval_join are the
# registered oracles of those SparkEntry queries; the KTable sink keeps
# the latest event per user, ordered like the ktable_latest twin.
STREAM_TWINS = {
    "processor_total": ("user_id,total", "processor_total"),
    "ktable_latest": ("user_id,event_id,ts,event_type,value", """
        SELECT user_id, event_id, epoch_us(ts) AS ts, event_type, value
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                           ORDER BY ts DESC, event_id DESC) AS rn
              FROM events) WHERE rn = 1"""),
    "interval_join": ("user_id,click_id,purchase_id,click_ts,purchase_ts", "interval_join"),
}


def check_stream(out_dir, files_dir, oracle_sql):
    """{sink: None or failure reason} for the converged streaming sinks."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{files_dir}/*.parquet')")
    res = {}
    for name, (cols, sql) in STREAM_TWINS.items():
        try:
            sql = oracle_sql.get(sql, sql)
            want = con.sql(sql).df()
            for c in want.columns:
                if str(want[c].dtype).startswith("datetime64"):
                    want[c] = want[c].astype("int64") // 1000 if str(want[c].dtype).endswith("[ns]") \
                        else want[c].astype("int64")
            path = f"{out_dir}/check/{name}.csv"
            got = pd.read_csv(path, header=None, names=cols.split(",")) \
                if os.path.getsize(path) else pd.DataFrame(columns=cols.split(","))
            keys = cols.split(",")
            want = want[keys].sort_values(keys, ignore_index=True)
            got = got.astype(want.dtypes.to_dict()).sort_values(keys, ignore_index=True)
            if len(got) != len(want):
                res[name] = f"rows {len(got)} != {len(want)}"
                continue
            bad = []
            for c in got.columns:
                if want[c].dtype.kind == "f":
                    # a per-record double fold differs from the decimal
                    # batch sum only in the last bits
                    ok = ((got[c] - want[c]).abs() <= 1e-9 * want[c].abs().clip(lower=1.0)).all()
                else:
                    ok = (got[c].values == want[c].values).all()
                if not ok:
                    bad.append(c)
            res[name] = f"value diff in {bad} ({len(got)} rows)" if bad else None
        except Exception as e:
            res[name] = f"{type(e).__name__}: {str(e)[:300]}"
    con.close()
    return res

