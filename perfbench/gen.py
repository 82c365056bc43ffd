"""Seeded input generator for the benchmark.

Writes the ten tables the engine's registered entries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings)
as one parquet file each, with the column names, parquet types and value
distributions of the engine's test tables. Keys are dense and every foreign
key resolves, so the same seed always yields the same inputs and no
operation fails on dangling references.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["red", "blue", "green", "small", "hot", "old", "big", "shiny"]
NOUNS = ["widget", "bolt", "ring", "plate", "rod", "gear", "spring", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.15, 0.14, 0.12]
EMBED_DIM = 64
N_LABELS = 10

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            # near duplicate: an earlier document plus one trailing token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n):
    centroids = rng.normal(size=(N_LABELS, EMBED_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, n).astype(np.int32)
    vecs = 0.14 * centroids[labels] + rng.normal(scale=EMBED_DIM ** -0.5, size=(n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


def tables(seed: int, customers: int, docs: int, vecs: int) -> dict:
    """All ten tables for one seed. Row counts keep the ratios of the
    engine's test tables: per customer 10 orders, 40 line items and 6.7
    events; suppliers and parts scale with customers too."""
    rng = np.random.default_rng(seed)
    n_c = customers
    n_s = max(10, n_c // 15)
    n_p = n_c * 4 // 3
    n_o = n_c * 10
    n_l = n_c * 40
    n_e = n_c * 20 // 3
    n_users = max(10, n_c // 10)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_c).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_c)),
        "c_mktsegment": pa.array([SEGMENTS[j] for j in rng.integers(0, 5, n_c)])})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_s, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_s).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_s))})
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_p, dtype=np.int64)),
        "p_name": pa.array([f"{COLORS[a]} {NOUNS[b]}" for a, b in
                            zip(rng.integers(0, 8, n_p), rng.integers(0, 8, n_p))]),
        "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n_p)]),
        "p_type": pa.array([PART_TYPES[j] for j in rng.integers(0, 6, n_p)]),
        "p_size": pa.array(rng.integers(1, 51, n_p).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_p) % 1000) / 10, 1))})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o).astype(np.int64)),
        "o_orderstatus": pa.array([("F", "O", "P")[j] for j in rng.integers(0, 3, n_o)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_o)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, n_o) * DAY_US),
        "o_orderpriority": pa.array([PRIORITIES[j] for j in rng.integers(0, 5, n_o)])})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_l)),
        "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[j] for j in rng.integers(0, 3, n_l)]),
        "l_linestatus": pa.array([("F", "O")[j] for j in rng.integers(0, 2, n_l)]),
        "l_shipdate": _ts(EPOCH_1995 + (1 + rng.integers(0, 2498, n_l)) * DAY_US)})
    gaps = rng.exponential(259.0, n_e) * 1e6
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_e, dtype=np.int64)),
        "ts": _ts(EPOCH_2024 + np.cumsum(gaps).astype(np.int64)),
        "user_id": pa.array(rng.integers(0, n_users, n_e).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, n_e)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_e), 2) + 0.01),
        "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, n_e)])})
    out["documents"] = _documents(rng, docs)
    out["embeddings"] = _embeddings(rng, vecs)
    return out


def write(out_dir: str, seed: int, customers: int, docs: int, vecs: int) -> dict:
    """Write every table to `<out_dir>/<name>.parquet`; returns
    `{name: (rows, bytes)}`."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, tb in tables(seed, customers, docs, vecs).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tb, path)
        sizes[name] = (tb.num_rows, os.path.getsize(path))
    return sizes
