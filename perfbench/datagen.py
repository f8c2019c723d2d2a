"""Seeded generator for the benchmark's input tables.

Writes the ten tables `graft.Tables` loads (one parquet file each) with the
schemas, key ranges and value distributions of the project's TPC-H-shaped
test data: region/nation/customer/supplier/part/orders/lineitem, an `events`
stream table sorted by time, and the `documents`/`embeddings` corpora of the
LLM-data pipeline.  The same (seed, sf) always gives byte-identical rows.

    python3 perfbench/datagen.py <out_dir> <seed> [sf]
"""
import os
import sys

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
WORDS = ["row", "the", "query", "stream", "key", "agg", "scan", "slow", "table",
         "part", "a", "merge", "window", "order", "column", "join", "vector",
         "fast", "spark", "line", "small", "customer", "group", "value", "hash",
         "batch", "sort", "data", "big", "filter"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DAY = np.timedelta64(1, "D")


def sizes(sf):
    n = lambda base, lo: max(lo, int(round(base * sf)))
    return dict(customer=n(150_000, 15), supplier=n(10_000, 10), part=n(200_000, 20),
                orders=n(1_500_000, 150), lineitem=n(6_000_000, 600),
                events=n(1_000_000, 1000), users=n(15_000, 15),
                documents=n(50_000, 500), embeddings=n(20_000, 500))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, start, end, n):
    span = int((np.datetime64(end) - np.datetime64(start)) / DAY)
    return (np.datetime64(start, "us") + rng.integers(0, span + 1, n) * DAY)


def tables(seed, sf):
    rng = np.random.Generator(np.random.PCG64(seed))
    z = sizes(sf)
    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    c = z["customer"]
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(SEGMENTS, c)})
    s = z["supplier"]
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, s)})
    p = z["part"]
    keys = np.arange(p, dtype=np.int64)
    t["part"] = pd.DataFrame({
        "p_partkey": keys,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": rng.choice(PTYPES, p),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    o = z["orders"]
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": money(rng, 1000.0, 500000.0, o),
        "o_orderdate": days(rng, "1995-01-01", "2001-08-01", o),
        "o_orderpriority": rng.choice(PRIORITIES, o)})
    li = z["lineitem"]
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, o, li),
        "l_partkey": rng.integers(0, p, li),
        "l_suppkey": rng.integers(0, s, li),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": days(rng, "1995-01-02", "2001-11-04", li)})
    e = z["events"]
    month_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, e))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, z["users"], e),
        "event_type": rng.choice(EVENT_TYPES, e),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, e), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = z["documents"]
    texts = [" ".join(rng.choice(WORDS, n)) for n in rng.integers(10, 100, d)]
    # 5% near-duplicates: another document's text with " dup" appended
    for i in rng.choice(d, d // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, d))] + " dup"
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, d, p=LANG_P),
        "source": [f"src{i}" for i in rng.integers(0, 20, d)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    m = z["embeddings"]
    vecs = rng.standard_normal((m, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, m).astype(np.int32)})
    return t


def write(out_dir, seed, sf):
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    for name, df in tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        con.register("df", df)
        cols = ", ".join("CAST(embedding AS FLOAT[]) AS embedding" if c == "embedding"
                         else c for c in df.columns)
        con.execute(f"COPY (SELECT {cols} FROM df) TO '{path}' (FORMAT parquet)")
        con.unregister("df")
    con.close()


def schedule(seed, n, users):
    """The open-loop input: event i goes to user_id[i] with value[i].

    Keys are skewed: user index floor(users * u**2) for uniform u, through
    a seeded permutation, so a few keys are hot and most are cold.
    """
    rng = np.random.Generator(np.random.PCG64([seed, 1]))
    perm = rng.permutation(users).astype(np.int64)
    hot = np.minimum(users - 1, (users * rng.random(n) ** 2).astype(np.int64))
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "user_id": perm[hot],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2))})


def write_schedule(path, seed, n, users):
    con = duckdb.connect()
    con.register("df", schedule(seed, n, users))
    con.execute(f"COPY df TO '{path}' (FORMAT parquet)")
    con.close()


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]) if len(sys.argv) > 3 else 0.01)
