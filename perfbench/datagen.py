"""Seeded corpus generator for the benchmark.

Writes the ten catalog tables (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings) as one parquet file each,
with the schema and value distributions of the catalog's sf corpora
(FIXTURES.md) at the sf0.01 row counts. The same seed gives byte-identical
files; a different seed gives different values with the same row counts, so
the work per operation stays the same from seed to seed.
"""
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}
USERS = 150
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
NEAR_DUP_SHARE = 0.05
DIM = 64


def _days(rng, n, start, end):
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def tables(seed):
    rng = np.random.default_rng(seed)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n = ROWS["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n)})

    n = ROWS["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, n, -999.99, 9999.99)})

    n = ROWS["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, PART_ADJ, n),
                                             _pick(rng, PART_NOUN, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) * 0.1, 1)})

    n = ROWS["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), pa.int64()),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n),
        "o_totalprice": _money(rng, n, 1000, 500000),
        "o_orderdate": pa.array(_days(rng, n, dt.date(1995, 1, 1),
                                      dt.date(2001, 8, 1)), pa.timestamp("us")),
        "o_orderpriority": _pick(rng, PRIORITIES, n)})

    n = ROWS["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900, 105000),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": pa.array(_days(rng, n, dt.date(1995, 1, 2),
                                     dt.date(2001, 11, 4)), pa.timestamp("us"))})

    # events: a monotonic stream over 30 days, exponential gaps
    n = ROWS["events"]
    gaps = rng.exponential(1.0, n)
    us = np.floor(np.cumsum(gaps) / gaps.sum() * 30 * 86400e6 * 0.9999).astype(np.int64)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + us.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, USERS, n), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})

    # documents: word soup over a 30-word vocabulary; a share of documents
    # are near-duplicates of another one (its text plus a trailing "dup")
    n = ROWS["documents"]
    texts = [" ".join(_pick(rng, VOCAB, int(k)))
             for k in rng.integers(10, 101, n)]
    n_dup = int(n * NEAR_DUP_SHARE)
    targets = rng.choice(n, n_dup, replace=False)
    taken = set(targets.tolist())
    sources = [s for s in range(n) if s not in taken]
    for t in targets:
        texts[t] = texts[int(rng.choice(sources))] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    # embeddings: unit vectors, a weak per-label centre under isotropic noise
    n = ROWS["embeddings"]
    labels = rng.integers(0, 10, n)
    centres = rng.normal(0.0, 1.0, (10, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    v = 0.07 * centres[labels] + rng.normal(0.0, 1.0 / 8, (n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write(seed, out_dir):
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, out_dir / f"{name}.parquet", compression="snappy")
