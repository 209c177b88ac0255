"""Seeded generator for the benchmark's input tables.

Writes the ten tables the registered queries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings)
as single-row-group parquet files with the same schemas and value
distributions as the project's reference fixtures: uniform keys and
categories, exponential event values, events in timestamp order, a
30-word document vocabulary with a 5% rate of near-duplicates (an earlier
document with " dup" appended), and unit-norm 64-dimensional embeddings.
Seeds change values, never row counts or the near-duplicate structure.
The same (seed, size) always gives byte-identical values.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per size. "small" feeds the untimed warm-up and correctness
# pass; "large" feeds the timed passes.
SIZES = {
    "small": dict(customer=300, supplier=20, part=400, orders=3000,
                  lineitem=12000, events=4000, users=60, documents=300,
                  embeddings=300),
    "large": dict(customer=3000, supplier=200, part=4000, orders=30000,
                  lineitem=120000, events=40000, users=600, documents=600,
                  embeddings=400),
}

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
PART_ADJ = "small red blue hot old new cold large".split()
PART_NOUN = "ring widget bolt gear anvil rod plate gizmo".split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DIM = 64


def _day_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _ts(us):
    return pa.array(np.asarray(us, dtype=np.int64), pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix, n):
    return [f"{prefix}#{i:09d}" for i in range(n)]


def tables(seed, size):
    """Return {table name: pyarrow.Table} for one (seed, size)."""
    n = SIZES[size]
    rng = np.random.default_rng([seed, list(SIZES).index(size)])
    day = 86_400_000_000
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": _names("Customer", nc),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": _names("Supplier", ns),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = n["part"]
    keys = np.arange(npart)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, npart),
                                              rng.choice(PART_NOUN, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["SMALL", "MEDIUM", "ECONOMY", "STANDARD",
                              "LARGE", "PROMO"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "P", "O"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(_day_us(1995, 1, 1) + rng.integers(0, 2404, no) * day),
        "o_orderpriority": rng.choice(PRIORITIES, no)})
    nl = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts(_day_us(1995, 1, 2) + rng.integers(0, 2499, nl) * day)})
    ne = n["events"]
    # strictly increasing timestamps over 30 days: exponential gaps of at
    # least one microsecond, so every event has its own ts
    gaps = np.maximum(1, rng.exponential(30 * day / ne, ne).astype(np.int64))
    out["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": _ts(_day_us(2024, 1, 1) + np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = []
    for i in range(nd):
        # the duplicate structure is fixed, so seeds change words, not how
        # much near-dup work there is: every 20th document repeats the one
        # 10 before it (never itself a copy) with " dup" appended
        if i % 20 == 19:
            texts.append(texts[i - 10] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    return out


def write(seed, size, out_dir):
    """Write one (seed, size) data set under `out_dir`, once; a finished
    set is marked by a `_done` file so an interrupted write is redone."""
    done = os.path.join(out_dir, "_done")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, size).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows))
    open(done, "w").close()
    return out_dir
