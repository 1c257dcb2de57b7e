"""Seeded source tables for the registry workload.

The registered queries read ten parquet tables from one directory
(region nation customer supplier part orders lineitem events documents
embeddings). This writes them from a seed with the column names, types
and value domains the queries and their DuckDB oracles expect, at the
row counts of the 0.01 scale factor the repository's oracle tests use.
The same seed gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500}
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
          "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
          "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
          "the", "value", "vector", "window")
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
_DIM, _LABELS = 64, 10
_DAY = dt.timedelta(days=1)


def _write(out_dir: str, name: str, cols: dict, schema: pa.Schema) -> None:
    pq.write_table(pa.table(cols, schema=schema), os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy")


def _unit(rng: random.Random, center: list[float], spread: float) -> list[float]:
    v = [c + rng.gauss(0.0, spread) for c in center]
    n = math.sqrt(sum(x * x for x in v)) or 1.0
    return [x / n for x in v]


def write_tables(out_dir: str, seed: int) -> None:
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(out_dir, "region", {"r_regionkey": list(range(5)), "r_name": list(_REGIONS)},
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(out_dir, "nation", {"n_nationkey": list(range(25)),
                               "n_name": [f"NATION_{i}" for i in range(25)],
                               "n_regionkey": [i % 5 for i in range(25)]},
           pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))

    n = ROWS["customer"]
    _write(out_dir, "customer", {
        "c_custkey": list(range(n)), "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": [rng.randrange(25) for _ in range(n)],
        "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n)],
        "c_mktsegment": [rng.choice(_SEGMENTS) for _ in range(n)]},
        pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                   ("c_acctbal", f64), ("c_mktsegment", s)]))

    n = ROWS["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": list(range(n)), "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": [rng.randrange(25) for _ in range(n)],
        "s_acctbal": [round(rng.uniform(-999.99, 9999.99), 2) for _ in range(n)]},
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]))

    n = ROWS["part"]
    _write(out_dir, "part", {
        "p_partkey": list(range(n)),
        "p_name": [f"{rng.choice(_PART_ADJ)} {rng.choice(_PART_NOUN)}" for _ in range(n)],
        "p_brand": [f"Brand#{rng.randrange(1, 26)}" for _ in range(n)],
        "p_type": [rng.choice(_PART_TYPES) for _ in range(n)],
        "p_size": [rng.randrange(1, 51) for _ in range(n)],
        "p_retailprice": [round(900 + (i % 1000) / 10, 2) for i in range(n)]},
        pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                   ("p_size", i32), ("p_retailprice", f64)]))

    n_orders, start = ROWS["orders"], dt.datetime(1995, 1, 1)
    odate = [start + rng.randrange(0, 2404) * _DAY for _ in range(n_orders)]
    _write(out_dir, "orders", {
        "o_orderkey": list(range(n_orders)),
        "o_custkey": [rng.randrange(ROWS["customer"]) for _ in range(n_orders)],
        "o_orderstatus": [rng.choice("FOP") for _ in range(n_orders)],
        "o_totalprice": [round(rng.uniform(1000, 500000), 2) for _ in range(n_orders)],
        "o_orderdate": odate,
        "o_orderpriority": [rng.choice(_PRIORITIES) for _ in range(n_orders)]},
        pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                   ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))

    li: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")}
    while len(li["l_orderkey"]) < ROWS["lineitem"]:
        o = rng.randrange(n_orders)
        for line in range(1, rng.randrange(2, 8)):
            qty = float(rng.randrange(1, 51))
            li["l_orderkey"].append(o)
            li["l_partkey"].append(rng.randrange(ROWS["part"]))
            li["l_suppkey"].append(rng.randrange(ROWS["supplier"]))
            li["l_linenumber"].append(line)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(round(qty * rng.uniform(20, 2100), 2))
            li["l_discount"].append(rng.randrange(0, 11) / 100)
            li["l_tax"].append(rng.randrange(0, 9) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(odate[o] + rng.randrange(1, 95) * _DAY)
    li = {k: v[:ROWS["lineitem"]] for k, v in li.items()}
    _write(out_dir, "lineitem", li, pa.schema([
        ("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64), ("l_linenumber", i32),
        ("l_quantity", f64), ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
        ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts)]))

    n, t0 = ROWS["events"], dt.datetime(2024, 1, 1)
    us = sorted(rng.randrange(30 * 86400 * 10**6) for _ in range(n))
    _write(out_dir, "events", {
        "event_id": list(range(n)), "ts": [t0 + dt.timedelta(microseconds=u) for u in us],
        "user_id": [rng.randrange(150) for _ in range(n)],
        "event_type": [rng.choice(_EVENT_TYPES) for _ in range(n)],
        "value": [round(min(490.0, rng.expovariate(1 / 50)) + 0.01, 2) for _ in range(n)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n)]},
        pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                   ("value", f64), ("props", s)]))

    n = ROWS["documents"]
    texts = [" ".join(rng.choice(_WORDS) for _ in range(rng.randrange(10, 100)))
             for _ in range(n)]
    _write(out_dir, "documents", {
        "doc_id": list(range(n)), "text": texts,
        "lang": [rng.choice(_LANGS) for _ in range(n)],
        "source": [f"src{i % 20}" for i in range(n)], "n_chars": [len(t) for t in texts]},
        pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)]))

    n = ROWS["embeddings"]
    centers = [_unit(rng, [0.0] * _DIM, 1.0) for _ in range(_LABELS)]
    labels = [rng.randrange(_LABELS) for _ in range(n)]
    _write(out_dir, "embeddings", {
        "vec_id": list(range(n)), "embedding": [_unit(rng, centers[lab], 0.12) for lab in labels],
        "label": labels},
        pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]))
