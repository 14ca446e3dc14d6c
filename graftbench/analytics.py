"""Inputs and independent output checks of the analytics_sample workload.

`generate` writes the `customer`, `orders` and `documents` tables from a
seed, shaped like the repository's sf0.01 testdata (1 500 customers,
15 000 orders, 500 documents). `check` runs each sample query's DuckDB
oracle SQL (the registry's own, which the JVM writes to `oracle_sql.json`)
on those tables and compares it with the result the program wrote, the way
`tools/check.py` does: same column names, then exact values after sorting
the columns by name and the rows by every column.
"""

import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

CUSTOMERS, ORDERS, DOCUMENTS = 1_500, 15_000, 500
TABLES = ("customer", "orders", "documents")
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = ("a the data table row column value key hash join merge sort scan filter group "
         "agg window stream batch query order customer part line spark vector big small "
         "fast slow").split()
LANGS = (["en"] * 8) + (["de", "es", "fr", "zh"] * 3)


def _days(rng, start, n_days, n):
    day0 = np.datetime64(start, "us")
    return day0 + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def generate(work, seed):
    rng = np.random.default_rng(seed)
    out = os.path.join(work, "tables")
    os.mkdir(out)
    c = CUSTOMERS
    pq.write_table(pa.table({
        "c_custkey": pa.array(np.arange(c), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int64()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, c), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, c)]),
    }), os.path.join(out, "customer.parquet"))
    o = ORDERS
    pq.write_table(pa.table({
        "o_orderkey": pa.array(np.arange(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, o)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, o), 2)),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, o), pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, o)]),
    }), os.path.join(out, "orders.parquet"))
    # 10-99 words from a 30-word vocabulary; every 20th document repeats the
    # one before it with " dup" appended (a near duplicate), so every seed
    # gives the same number of duplicate pairs
    texts = []
    for i in range(DOCUMENTS):
        if i % 20 == 19:
            texts.append(texts[i - 1] + " dup")
        else:
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 100))]))
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(DOCUMENTS), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), DOCUMENTS)]),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, DOCUMENTS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out, "documents.parquet"))


def _canon(df):
    """tools/check.py's normal form: columns by name, rows by every column."""
    df = df[sorted(df.columns)]
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].apply(lambda v: v.hex() if isinstance(v, (bytes, bytearray)) else str(v))
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype(np.float64)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype(np.int64)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _compare(got, exp):
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} != {sorted(exp.columns)}"
    g, e = _canon(got), _canon(exp)
    if len(g) != len(e):
        return f"{len(g)} rows, oracle {len(e)}"
    for c in g.columns:
        neq = g[c] != e[c]
        if pd.api.types.is_float_dtype(g[c]):
            neq &= ~(g[c].isna() & e[c].isna())
        if neq.any():
            return f"{int(neq.sum())} values of {c} differ from the oracle"
    return None


def check(work):
    """List of (name, ok, detail): each query's result against its oracle."""
    oracle = json.loads(open(os.path.join(work, "oracle_sql.json")).read())
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(work, "tables", f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    results = []
    for name, sql in oracle.items():
        files = sorted(glob.glob(os.path.join(work, "results", name, "*.parquet")))
        if not files:
            results.append((f"analytics.oracle.{name}", False, "no result written"))
            continue
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
        problem = _compare(got, con.execute(sql).fetchdf())
        results.append((f"analytics.oracle.{name}", problem is None and len(got) > 0,
                        problem or f"{len(got)} rows equal the oracle's"))
    return results
