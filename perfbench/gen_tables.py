"""Writes the fixed batch tables the batch_ops workload queries.

The tables have the schemas, row counts and value ranges of the engine's
sf0.1 test tables (a TPC-H-like star schema plus events, documents and
embeddings), drawn from a fixed seed so that every checkout generates the
same bytes and the pinned query hashes in config.json stay valid.

Usage: python3 gen_tables.py OUT_DIR [SCALE]

SCALE (default 1) multiplies every fact-table row count; the workload
warms up on tables at SCALE 0.02.
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()


def ts(base, seconds):
    """Naive microsecond timestamps: base + seconds."""
    micros = (np.asarray(seconds, dtype=np.float64) * 1e6).astype(np.int64)
    start = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
    return pa.array(start + micros, type=pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def choice(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)].tolist(),
                    type=pa.string())


def tables(rng, scale):
    day = 86400.0

    def rows(k):
        return max(1, int(k * scale))

    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = rows(15000)
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n),
        "c_mktsegment": choice(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                     "MACHINERY"], n)})
    n = rows(1000)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n)})
    n = rows(20000)
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    names = [f"{a} {b}" for a in adj for b in noun]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n), pa.int64()),
        "p_name": choice(rng, names, n),
        "p_brand": choice(rng, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": choice(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n) * 0.1, 1)})
    n = rows(150000)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, rows(15000), n), pa.int64()),
        "o_orderstatus": choice(rng, ["F", "O", "P"], n),
        "o_totalprice": money(rng, 1000.0, 500000.0, n),
        "o_orderdate": ts(dt.datetime(1995, 1, 1), rng.integers(0, 2405, n) * day),
        "o_orderpriority": choice(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                        "5-LOW"], n)})
    n = rows(600000)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, rows(150000), n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, rows(20000), n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, rows(1000), n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": choice(rng, ["A", "N", "R"], n),
        "l_linestatus": choice(rng, ["F", "O"], n),
        "l_shipdate": ts(dt.datetime(1995, 1, 2), rng.integers(0, 2499, n) * day)})
    n = rows(100000)
    out["events"] = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": ts(dt.datetime(2024, 1, 1), np.sort(rng.uniform(0, 30 * day, n))),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": choice(rng, ["click", "error", "purchase", "signup", "view"], n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string())})
    # documents: random word runs; 5% are an earlier document plus " dup",
    # and a few are exact copies
    n = rows(5000)
    texts = [" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 101))])
             for _ in range(n)]
    for i in range(20, n, 20):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in range(7, n, 625):
        texts[i] = texts[i - 5]
    langs = rng.choice(["en", "de", "es", "fr", "zh"], n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    n, dim = rows(2000), 64
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 0.05, (10, dim))
    v = rng.normal(0, 1, (n, dim)) / np.sqrt(dim) + centers[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def main(out_dir, scale=1.0):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(SEED)
    for name, t in tables(rng, scale).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    main(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 1.0)
