"""Deterministic synthetic inputs for the benchmark.

Writes the ten tables the graft queries read (TPC-H-like star schema plus
`events`, `documents` and `embeddings`), one parquet file each, with the
column names, types and value distributions of the project's test data.
The same (scale, seed) always gives the same bytes.

    python3 perfbench/gen.py <out_dir> <scale> <seed>
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per table at the two scales the workloads use
SIZES = {
    "0.01": dict(customer=1500, supplier=100, part=2000, orders=15000,
                 lineitem=60000, events=10000, documents=500, embeddings=500),
    "0.1": dict(customer=15000, supplier=1000, part=20000, orders=150000,
                lineitem=600000, events=100000, documents=5000,
                embeddings=2000),
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "red", "hot", "cold", "small", "large", "old", "new"]
PART_NOUN = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "de", "fr", "es"]
WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer",
         "filter", "small", "slow", "merge", "order", "vector", "line",
         "table", "data", "agg", "value", "key", "stream", "window", "a",
         "spark", "part", "group", "big", "sort", "query", "fast", "the"]

DAY_US = 86_400_000_000


def _ts(days_since_epoch_us):
    return pa.array(days_since_epoch_us, type=pa.timestamp("us"))


def _days(start, end):
    """Day numbers (days since the epoch) of the bounds [start, end]."""
    a = np.datetime64(start, "D").astype(np.int64)
    b = np.datetime64(end, "D").astype(np.int64)
    return a, b


def tables(scale, seed):
    n = SIZES[scale]
    rng = np.random.default_rng(seed)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, nc), 2),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})

    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, ns), 2)})

    npart = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, npart),
                                              rng.choice(PART_NOUN, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 1)})

    no = n["orders"]
    lo, hi = _days("1995-01-01", "2001-08-01")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": _ts(rng.integers(lo, hi + 1, no) * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, no)})

    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    lo, hi = _days("1995-01-02", "2001-11-04")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts(rng.integers(lo, hi + 1, nl) * DAY_US)})

    ne = n["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(start + np.sort(rng.integers(0, 30 * DAY_US, ne))),
        "user_id": pa.array(rng.integers(0, ne * 3 // 200, ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.maximum(np.round(rng.exponential(50, ne), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = n["documents"]
    texts = []
    for i in range(nd):
        r = rng.random()
        if i > 10 and r < 0.01:      # exact duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)])
        elif i > 10 and r < 0.06:    # near duplicate
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.integers(8, 100))))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0, 1, (10, 64))
    vecs = rng.normal(0, 1, (nv, 64)) + 0.15 * centers[labels]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write(out_dir, scale, seed):
    """Write every table and a manifest of row counts and SHA-256 digests."""
    os.makedirs(out_dir, exist_ok=True)
    manifest = {}
    for name, tbl in tables(scale, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        with open(path, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()
        manifest[name] = {"rows": tbl.num_rows, "sha256": digest}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


if __name__ == "__main__":
    write(sys.argv[1], sys.argv[2], int(sys.argv[3]))
