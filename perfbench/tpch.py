"""Seeded TPC-H-shaped tables for the declared-query workload.

Writes the ten parquet files that ``__spark_entry__.queries()`` read
(``region`` … ``lineitem``, ``events``, ``documents``, ``embeddings``)
with the schemas, key ranges and value domains of the sf0.001 test
tables: 150 customers, 1,500 orders, about 6,000 line items, 1,000
events over 30 days, 500 documents of which 5% are near-duplicates
(an earlier text plus `` dup``), and 500 unit-norm 64-d embeddings.

Only pyarrow and the stdlib are used, so the inputs exist before Spark
starts. The same seed gives byte-identical values.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS = 150, 10, 200, 1500
N_EVENTS, N_DOCS, N_VECS, DIM = 1000, 500, 500, 64
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
         "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
         "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value",
         "vector", "window")
LANGS = (("en", 0.4), ("de", 0.15), ("es", 0.15), ("fr", 0.15), ("zh", 0.15))
DAY0 = dt.datetime(1995, 1, 1)


def _money(r: random.Random, lo: float, hi: float) -> float:
    return round(r.uniform(lo, hi), 2)


def _day(r: random.Random, first: int, last: int) -> dt.datetime:
    return DAY0 + dt.timedelta(days=r.randint(first, last))


def build(seed: int) -> dict[str, pa.Table]:
    r = random.Random(f"tpch:{seed}")
    i32, i64, f64, s, ts = pa.int32(), pa.int64(), pa.float64(), pa.string(), pa.timestamp("us")

    def table(cols: dict[str, tuple[pa.DataType, list]]) -> pa.Table:
        return pa.table({k: pa.array(v, type=t) for k, (t, v) in cols.items()})

    out = {
        "region": table({"r_regionkey": (i32, list(range(5))), "r_name": (s, list(REGIONS))}),
        "nation": table({
            "n_nationkey": (i32, list(range(25))),
            "n_name": (s, [f"NATION_{i}" for i in range(25)]),
            "n_regionkey": (i32, [i % 5 for i in range(25)]),
        }),
        "customer": table({
            "c_custkey": (i64, list(range(N_CUSTOMER))),
            "c_name": (s, [f"Customer#{i:09d}" for i in range(N_CUSTOMER)]),
            "c_nationkey": (i32, [r.randrange(25) for _ in range(N_CUSTOMER)]),
            "c_acctbal": (f64, [_money(r, -999.99, 9999.99) for _ in range(N_CUSTOMER)]),
            "c_mktsegment": (s, [r.choice(SEGMENTS) for _ in range(N_CUSTOMER)]),
        }),
        "supplier": table({
            "s_suppkey": (i64, list(range(N_SUPPLIER))),
            "s_name": (s, [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)]),
            "s_nationkey": (i32, [r.randrange(25) for _ in range(N_SUPPLIER)]),
            "s_acctbal": (f64, [_money(r, -999.99, 9999.99) for _ in range(N_SUPPLIER)]),
        }),
        "part": table({
            "p_partkey": (i64, list(range(N_PART))),
            "p_name": (s, [f"{r.choice(PART_ADJ)} {r.choice(PART_NOUN)}" for _ in range(N_PART)]),
            "p_brand": (s, [f"Brand#{r.randint(1, 25)}" for _ in range(N_PART)]),
            "p_type": (s, [r.choice(PART_TYPES) for _ in range(N_PART)]),
            "p_size": (i32, [r.randint(1, 50) for _ in range(N_PART)]),
            "p_retailprice": (f64, [round(900 + 0.1 * i, 1) for i in range(N_PART)]),
        }),
        "orders": table({
            "o_orderkey": (i64, list(range(N_ORDERS))),
            "o_custkey": (i64, [r.randrange(N_CUSTOMER) for _ in range(N_ORDERS)]),
            "o_orderstatus": (s, [r.choice("FOP") for _ in range(N_ORDERS)]),
            "o_totalprice": (f64, [_money(r, 1000, 500000) for _ in range(N_ORDERS)]),
            "o_orderdate": (ts, [_day(r, 0, 2403) for _ in range(N_ORDERS)]),
            "o_orderpriority": (s, [r.choice(PRIORITIES) for _ in range(N_ORDERS)]),
        }),
    }

    li: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")}
    for o in range(N_ORDERS):
        for line in range(1, r.choice((0, 1, 2, 2, 3, 3, 4, 4, 4, 5, 5, 6, 7, 8)) + 1):
            qty = float(r.randint(1, 50))
            li["l_orderkey"].append(o)
            li["l_partkey"].append(r.randrange(N_PART))
            li["l_suppkey"].append(r.randrange(N_SUPPLIER))
            li["l_linenumber"].append(line)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(round(qty * r.uniform(900, 2100), 2))
            li["l_discount"].append(r.randint(0, 10) / 100)
            li["l_tax"].append(r.randint(0, 8) / 100)
            li["l_returnflag"].append(r.choice("ANR"))
            li["l_linestatus"].append(r.choice("FO"))
            li["l_shipdate"].append(_day(r, 1, 2499))
    types = {"l_linenumber": i32, "l_returnflag": s, "l_linestatus": s, "l_shipdate": ts}
    types.update({k: i64 for k in ("l_orderkey", "l_partkey", "l_suppkey")})
    out["lineitem"] = table({k: (types.get(k, f64), v) for k, v in li.items()})

    start = dt.datetime(2024, 1, 1)
    stamps = sorted(start + dt.timedelta(microseconds=r.randrange(30 * 86400 * 10**6))
                    for _ in range(N_EVENTS))
    out["events"] = table({
        "event_id": (i64, list(range(N_EVENTS))),
        "ts": (ts, stamps),
        "user_id": (i64, [r.randrange(15) for _ in range(N_EVENTS)]),
        "event_type": (s, [r.choice(EVENT_TYPES) for _ in range(N_EVENTS)]),
        "value": (f64, [_money(r, 0.01, 330) for _ in range(N_EVENTS)]),
        "props": (s, [f'{{"k": {r.randrange(100)}}}' for _ in range(N_EVENTS)]),
    })

    texts: list[str] = []
    for i in range(N_DOCS):
        if i and r.random() < 0.05:
            texts.append(texts[r.randrange(i)] + " dup")
        else:
            texts.append(" ".join(r.choice(WORDS) for _ in range(r.randint(10, 99))))
    langs, weights = zip(*LANGS)
    out["documents"] = table({
        "doc_id": (i64, list(range(N_DOCS))),
        "text": (s, texts),
        "lang": (s, r.choices(langs, weights, k=N_DOCS)),
        "source": (s, [f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": (i64, [len(t) for t in texts]),
    })

    vecs = []
    for _ in range(N_VECS):
        v = [r.gauss(0, 1) for _ in range(DIM)]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
    out["embeddings"] = table({
        "vec_id": (i64, list(range(N_VECS))),
        "embedding": (pa.list_(pa.float32()), vecs),
        "label": (i32, [r.randrange(10) for _ in range(N_VECS)]),
    })
    return out


def write(seed: int, dirpath: str) -> None:
    """One ``<table>.parquet`` file per table under ``dirpath``."""
    os.makedirs(dirpath, exist_ok=True)
    for name, t in build(seed).items():
        pq.write_table(t, os.path.join(dirpath, f"{name}.parquet"))
