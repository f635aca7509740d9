"""Deterministic generator for the benchmark's input tables.

Writes the ten parquet tables the engine reads (`region nation customer
supplier part orders lineitem events documents embeddings`) with the
schema, key ranges and value distributions of the test fixtures
(TESTDATA.md) at sf0.01: uniform foreign keys, two-decimal prices,
day-grain dates, sorted event timestamps over 30 days, documents drawn
from a 30-word vocabulary with ~5% "<other doc> dup" near-duplicates, and
64-d unit embeddings around 10 weak label centroids. Every table is one
row group, like the fixtures.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = dict(customer=1500, supplier=100, part=2000, orders=15000,
             lineitem=60000, events=10000, documents=500, embeddings=500)
VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column order join small customer query "
         "big stream filter group vector").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.42, 0.15, 0.15, 0.14, 0.14]
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices, n, p=None):
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def _ts(us):
    return pa.array(us, pa.timestamp("us"))


def tables(seed):
    rng = np.random.default_rng(seed)
    n = SIZES
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    c = np.arange(n["customer"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(c, pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in c],
        "c_nationkey": pa.array(rng.integers(0, 25, len(c)), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, len(c)),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], len(c))})
    s = np.arange(n["supplier"])
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(s, pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in s],
        "s_nationkey": pa.array(rng.integers(0, 25, len(s)), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, len(s))})
    p = np.arange(n["part"])
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    t["part"] = pa.table({
        "p_partkey": pa.array(p, pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, len(p)), rng.integers(0, 8, len(p)))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, len(p))],
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], len(p)),
        "p_size": pa.array(rng.integers(1, 51, len(p)), pa.int32()),
        "p_retailprice": np.round(900 + (p % 1000) / 10, 1)})
    o = np.arange(n["orders"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(o, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], len(o)), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], len(o)),
        "o_totalprice": _money(rng, 1000, 500000, len(o)),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2400, len(o)) * DAY_US),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], len(o))})
    m = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, m),
        "l_discount": _money(rng, 0, 0.1, m),
        "l_tax": _money(rng, 0, 0.08, m),
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["F", "O"], m),
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2500, m) * DAY_US)})
    e = n["events"]
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": _ts(EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, e))),
        "user_id": pa.array(rng.integers(0, 150, e), pa.int64()),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], e),
        "value": np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = [" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), k)])
             for k in rng.integers(10, 100, d)]
    for i in np.flatnonzero(rng.random(d) < 0.05):
        texts[i] = texts[(i + rng.integers(1, d)) % d] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, d, LANG_P),
        "source": [f"src{k}" for k in rng.integers(0, 20, d)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    v = n["embeddings"]
    label = rng.integers(0, 10, v)
    raw = rng.normal(0, 0.143, (10, 64))[label] + rng.normal(0, 1, (v, 64))
    unit = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(v), pa.int64()),
        "embedding": pa.array(list(unit), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    return t


def write(seed, out_dir):
    """Writes every table as `<out_dir>/<name>.parquet`, one row group each."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(table.num_rows, 1))
