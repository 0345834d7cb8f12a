"""Seeded generator of the analytic corpus: the TPC-H-like star schema plus
`events`, `documents` and `embeddings`, one parquet file per table, with
the schemas and sf0.1 row counts of the repo's fixture (600k `lineitem`,
150k `orders`, 100k `events`, 5k `documents`, 2k `embeddings`).

The same seed gives the same tables."""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Fixed like a dbgen run: expected_counts.json holds the oracle row counts
# of this corpus, and the benchmark seed rotates the query order instead.
CORPUS_SEED = 42

VOCAB = ["query", "row", "stream", "the", "spark", "line", "small", "fast",
         "group", "customer", "batch", "sort", "value", "hash", "filter",
         "big", "data", "dup", "part", "column", "order", "scan", "a", "slow",
         "agg", "key", "window", "table", "merge", "vector", "join"]

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _day(rng, start, days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def tables(sf=0.1, seed=CORPUS_SEED, only=None):
    """Yield (name, pyarrow.Table); `only` restricts to some table names."""
    want = set(only or TABLES)
    for i, name in enumerate(TABLES):
        if name in want:
            yield name, _table(name, sf, np.random.default_rng([seed, i]))


def _table(name, sf, rng):
    n_cust, n_supp, n_part = round(150000 * sf), round(10000 * sf), round(200000 * sf)
    n_orders = round(1500000 * sf)
    if name == "region":
        return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                         "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    if name == "nation":
        return pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                         "n_name": [f"NATION_{i}" for i in range(25)],
                         "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    if name == "customer":
        return pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], n_cust)})
    if name == "supplier":
        return pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    if name == "part":
        adj = _pick(rng, ["large", "hot", "blue", "old", "cold", "red", "new", "small"], n_part)
        noun = _pick(rng, ["ring", "bolt", "plate", "gear", "nut", "pipe", "rod", "cap"], n_part)
        return pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                  "STANDARD"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0})
    if name == "orders":
        return pa.table({
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
            "o_orderdate": _day(rng, "1995-01-01", 2404, n_orders),
            "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], n_orders)})
    if name == "lineitem":
        n = round(6000000 * sf)
        qty = rng.integers(1, 51, n).astype(np.float64)
        return pa.table({
            "l_orderkey": rng.integers(0, n_orders, n),
            "l_partkey": rng.integers(0, n_part, n),
            "l_suppkey": rng.integers(0, n_supp, n),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _day(rng, "1995-01-02", 2498, n)})
    if name == "events":
        # a TimeSeries keyed by ts: 30 days, strictly increasing
        n = round(1000000 * sf)
        step = 30 * 86400 * 1000000 // n
        ts = (np.datetime64("2024-01-01", "us")
              + (np.arange(n, dtype=np.int64) * step + rng.integers(0, step, n)).astype("timedelta64[us]"))
        return pa.table({
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, 1500, n),
            "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n),
            "value": np.round(rng.uniform(0.0, 560.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    if name == "documents":
        # 10-100 words each; every 625th doc is an exact copy of the one
        # 7 before it and every 50th a near copy (last word replaced), so
        # the dedup kernels have work to find
        n = round(50000 * sf)
        texts = []
        for i in range(n):
            if i % 625 == 7:
                texts.append(texts[i - 7])
            elif i % 50 == 3:
                texts.append(texts[i - 3].rsplit(" ", 1)[0] + " dup")
            else:
                words = rng.integers(0, len(VOCAB), rng.integers(10, 101))
                texts.append(" ".join(VOCAB[w] for w in words))
        return pa.table({
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, ["de", "en", "es", "fr", "zh"], n),
            "source": [f"src{s}" for s in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    if name == "embeddings":
        # unit vectors around 10 centres; labels independent of the centre
        n = round(20000 * sf)
        centres = rng.standard_normal((10, 64))
        v = centres[rng.integers(0, 10, n)] + 1.5 * rng.standard_normal((n, 64))
        v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
        return pa.table({
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n).astype(np.int32)})
    raise ValueError(name)


def write(out_dir, sf=0.1, seed=CORPUS_SEED, only=None):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf, seed, only):
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
