"""Seeded generator for the catalog queries' input tables.

The same ten tables, column names, physical types and value domains as
the scale-factor-0.1 test data (600k lineitem rows; pyarrow-written
parquet, one file per table), with values drawn from the seed. Both
`graft.core.Tables` and the DuckDB oracle read `<dir>/<name>.parquet`.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"region": 5, "nation": 25, "customer": 15000, "supplier": 1000,
        "part": 20000, "orders": 150000, "lineitem": 600000, "events": 100000,
        "documents": 5000, "embeddings": 2000}
VOCAB = np.array(["a", "agg", "batch", "big", "column", "customer", "data", "fast",
                  "filter", "group", "hash", "join", "key", "line", "merge", "order",
                  "part", "query", "row", "scan", "slow", "small", "sort", "spark",
                  "stream", "table", "the", "value", "vector", "window"])


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "D").astype("datetime64[us]")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return np.array(values)[rng.integers(0, len(values), n)]


def tables(seed):
    """{name: pyarrow.Table} for one seed."""
    rng = np.random.Generator(np.random.PCG64(seed))
    i32, i64 = pa.int32(), pa.int64()
    n = ROWS
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    k = np.arange(25)
    out["nation"] = pa.table({
        "n_nationkey": pa.array(k, i32), "n_name": [f"NATION_{x}" for x in k],
        "n_regionkey": pa.array(k % 5, i32)})
    k = np.arange(n["customer"])
    out["customer"] = pa.table({
        "c_custkey": pa.array(k, i64), "c_name": [f"Customer#{x:09d}" for x in k],
        "c_nationkey": pa.array(rng.integers(0, 25, len(k)), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, len(k)),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], len(k))})
    k = np.arange(n["supplier"])
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(k, i64), "s_name": [f"Supplier#{x:09d}" for x in k],
        "s_nationkey": pa.array(rng.integers(0, 25, len(k)), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, len(k))})
    k = np.arange(n["part"])
    adj = _pick(rng, ["blue", "cold", "hot", "large", "new", "old", "red", "small"], len(k))
    noun = _pick(rng, ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"], len(k))
    out["part"] = pa.table({
        "p_partkey": pa.array(k, i64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, len(k)).astype(str)),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], len(k)),
        "p_size": pa.array(rng.integers(1, 51, len(k)), i32),
        "p_retailprice": np.round(900.0 + (k % 1000) * 0.1, 1)})
    k = np.arange(n["orders"])
    out["orders"] = pa.table({
        "o_orderkey": pa.array(k, i64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], len(k)), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], len(k)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, len(k)),
        "o_orderdate": _days(rng, "1995-01-01", 2404, len(k)),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], len(k))})
    m = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), i64),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, m), i32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": np.round(rng.uniform(0, 0.1, m), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, m), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["F", "O"], m),
        "l_shipdate": _days(rng, "1995-01-02", 2499, m)})
    m = n["events"]
    step = 30 * 86400 * 1_000_000 // m  # ts rises with event_id over 30 days
    ts = (np.datetime64("2024-01-01", "us") +
          (np.arange(m) * step + rng.integers(0, step, m)).astype("timedelta64[us]"))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(m), i64), "ts": ts,
        "user_id": pa.array(rng.integers(0, 1500, m), i64),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], m),
        "value": np.round(rng.exponential(50.0, m), 2),
        "props": [f'{{"k": {x}}}' for x in rng.integers(0, 100, m)]})
    m = n["documents"]
    texts = []
    for d in range(m):
        if d % 20 == 19:  # near-duplicate of the previous document
            texts.append(texts[-1] + " dup")
        else:
            texts.append(" ".join(VOCAB[rng.integers(0, len(VOCAB), rng.integers(10, 101))]))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(m), i64), "text": texts,
        "lang": _pick(rng, ["en"] * 8 + ["de", "es", "fr", "zh"] * 3, m),
        "source": [f"src{d % 20}" for d in range(m)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    m = n["embeddings"]
    v = rng.standard_normal((m, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), i32)})
    return out


def write(directory, seed):
    os.makedirs(directory, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(directory, f"{name}.parquet"))
