"""Seeded input tables for the `battery` workload.

The battery queries read a small TPC-H-like star schema plus `events`,
`documents` and `embeddings` tables. This module writes those ten tables as
parquet with the column names and types the queries and their DuckDB oracles
expect. The same seed always gives the same bytes of data.
"""
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the smallest scale the battery was written against.
SIZES = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
         "lineitem": 6000, "events": 1000, "documents": 500,
         "embeddings": 500}

WORDS = ["fast", "spark", "line", "small", "customer", "group", "row", "the",
         "query", "stream", "key", "agg", "scan", "slow", "table", "part", "a",
         "merge", "window", "order", "column", "join", "vector", "value",
         "hash", "batch", "sort", "data", "big", "filter", "dup"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "cold", "shiny"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "fr", "zh", "de", "es"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in microseconds
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds


def _ts(values):
    return pa.array(values, type=pa.timestamp("us"))


def tables(seed):
    """Return {name: pyarrow.Table} for the battery schema."""
    rng = random.Random(seed)
    n = SIZES
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n["customer"])], pa.int32()),
        "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n["customer"])],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n["customer"])]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array([rng.randrange(25) for _ in range(n["supplier"])], pa.int32()),
        "s_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n["supplier"])]})
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n["part"]), pa.int64()),
        "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(n["part"])],
        "p_brand": [f"Brand#{rng.randrange(1, 26)}" for _ in range(n["part"])],
        "p_type": [rng.choice(PART_TYPES) for _ in range(n["part"])],
        "p_size": pa.array([rng.randrange(1, 51) for _ in range(n["part"])], pa.int32()),
        "p_retailprice": [round(900.0 + (i % 1000) * 0.1, 2) for i in range(n["part"])]})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n["orders"]), pa.int64()),
        "o_custkey": pa.array([rng.randrange(n["customer"]) for _ in range(n["orders"])], pa.int64()),
        "o_orderstatus": [rng.choice("FOP") for _ in range(n["orders"])],
        "o_totalprice": [round(rng.uniform(1000.0, 500000.0), 2) for _ in range(n["orders"])],
        "o_orderdate": _ts([EPOCH_1995 + rng.randrange(2400) * DAY_US for _ in range(n["orders"])]),
        "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(n["orders"])]})
    li = {k: [] for k in ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                          "l_returnflag", "l_linestatus", "l_shipdate"]}
    for _ in range(n["lineitem"]):
        qty = float(rng.randrange(1, 51))
        li["l_orderkey"].append(rng.randrange(n["orders"]))
        li["l_partkey"].append(rng.randrange(n["part"]))
        li["l_suppkey"].append(rng.randrange(n["supplier"]))
        li["l_linenumber"].append(rng.randrange(1, 8))
        li["l_quantity"].append(qty)
        li["l_extendedprice"].append(round(qty * rng.uniform(900.0, 2100.0), 2))
        li["l_discount"].append(rng.randrange(11) / 100.0)
        li["l_tax"].append(rng.randrange(9) / 100.0)
        li["l_returnflag"].append(rng.choice("ANR"))
        li["l_linestatus"].append(rng.choice("FO"))
        li["l_shipdate"].append(EPOCH_1995 + rng.randrange(2500) * DAY_US)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(li["l_orderkey"], pa.int64()),
        "l_partkey": pa.array(li["l_partkey"], pa.int64()),
        "l_suppkey": pa.array(li["l_suppkey"], pa.int64()),
        "l_linenumber": pa.array(li["l_linenumber"], pa.int32()),
        "l_quantity": li["l_quantity"],
        "l_extendedprice": li["l_extendedprice"],
        "l_discount": li["l_discount"],
        "l_tax": li["l_tax"],
        "l_returnflag": li["l_returnflag"],
        "l_linestatus": li["l_linestatus"],
        "l_shipdate": _ts(li["l_shipdate"])})
    # distinct timestamps keep every ORDER BY ts deterministic
    ts = sorted(rng.sample(range(30 * DAY_US), n["events"]))
    out["events"] = pa.table({
        "event_id": pa.array(range(n["events"]), pa.int64()),
        "ts": _ts([EPOCH_2024 + t for t in ts]),
        "user_id": pa.array([rng.randrange(15) for _ in range(n["events"])], pa.int64()),
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(n["events"])],
        "value": [round(rng.uniform(0.01, 490.0), 2) for _ in range(n["events"])],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n["events"])]})
    texts = []
    while len(texts) < n["documents"]:
        t = " ".join(rng.choice(WORDS) for _ in range(rng.randrange(10, 100)))
        if t not in texts:
            texts.append(t)
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n["documents"]), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n["documents"])],
        "source": [f"src{i % 20}" for i in range(n["documents"])],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n["embeddings"]), pa.int64()),
        "embedding": pa.array(
            [[rng.gauss(0.0, 0.12) for _ in range(64)] for _ in range(n["embeddings"])],
            pa.list_(pa.float32())),
        "label": pa.array([rng.randrange(10) for _ in range(n["embeddings"])], pa.int32())})
    return out


def write(seed, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
