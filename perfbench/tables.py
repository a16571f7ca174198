"""Seeded generator for the query suite's input tables.

The suite's queries (``plans.queries``) read a TPC-H-shaped star
(``region nation customer supplier part orders lineitem``) plus an
``events`` stream table, a ``documents`` corpus and an ``embeddings``
table, one parquet file per table, as ``sources.tables.load_table``
loads them. ``write_tables`` writes that layout with the column names,
types and value domains the queries filter on (order priorities,
return flags, market segments, event types, ``{"k": n}`` props,
2024-01 event times, 64-dim float embeddings with a label). Timestamps
are written as naive microsecond timestamps.

Sizes follow the smallest shared test scale: 150 customers, 1,500
orders, ~6,000 line items, 1,000 events, 500 documents (a share of them
exact or near duplicates, so the dedup queries find pairs) and 500
embeddings. Everything comes from ``random.Random(seed)``: the same
seed gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMERS = 150
N_SUPPLIERS = 10
N_PARTS = 200
N_ORDERS = 1500
N_EVENTS = 1000
N_DOCS = 500
N_VECS = 500
DIM = 64
N_LABELS = 10
DUP_SHARE = 0.05  # documents that repeat an earlier text exactly
NEAR_DUP_SHARE = 0.10  # documents that repeat one with a word or two changed

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
         "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
         "the", "value", "vector", "window"]

ORDER_START = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404  # through 2001-08-01
EVENT_START = dt.datetime(2024, 1, 1)
EVENT_SPAN_US = 30 * 86_400 * 1_000_000


def _money(rng: random.Random, lo: float, hi: float) -> float:
    return round(rng.uniform(lo, hi), 2)


def _tables(rng: random.Random) -> dict[str, dict[str, tuple[pa.DataType, list]]]:
    """{table: {column: (type, values)}}, in generation order."""
    out: dict[str, dict[str, tuple[pa.DataType, list]]] = {}
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    out["region"] = {"r_regionkey": (i32, list(range(5))), "r_name": (s, REGIONS)}
    out["nation"] = {
        "n_nationkey": (i32, list(range(25))),
        "n_name": (s, [f"NATION_{k}" for k in range(25)]),
        "n_regionkey": (i32, [k % 5 for k in range(25)]),
    }
    out["customer"] = {
        "c_custkey": (i64, list(range(N_CUSTOMERS))),
        "c_name": (s, [f"Customer#{k:09d}" for k in range(N_CUSTOMERS)]),
        "c_nationkey": (i32, [rng.randrange(25) for _ in range(N_CUSTOMERS)]),
        "c_acctbal": (f64, [_money(rng, -999.99, 9999.99) for _ in range(N_CUSTOMERS)]),
        "c_mktsegment": (s, [rng.choice(SEGMENTS) for _ in range(N_CUSTOMERS)]),
    }
    out["supplier"] = {
        "s_suppkey": (i64, list(range(N_SUPPLIERS))),
        "s_name": (s, [f"Supplier#{k:09d}" for k in range(N_SUPPLIERS)]),
        "s_nationkey": (i32, [rng.randrange(25) for _ in range(N_SUPPLIERS)]),
        "s_acctbal": (f64, [_money(rng, -999.99, 9999.99) for _ in range(N_SUPPLIERS)]),
    }
    prices = [round(900 + k / 10, 2) for k in range(N_PARTS)]
    out["part"] = {
        "p_partkey": (i64, list(range(N_PARTS))),
        "p_name": (s, [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(N_PARTS)]),
        "p_brand": (s, [f"Brand#{rng.randint(1, 25)}" for _ in range(N_PARTS)]),
        "p_type": (s, [rng.choice(PART_TYPES) for _ in range(N_PARTS)]),
        "p_size": (i32, [rng.randint(1, 50) for _ in range(N_PARTS)]),
        "p_retailprice": (f64, prices),
    }

    orders = {c: [] for c in ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                              "o_orderdate", "o_orderpriority")}
    items = {c: [] for c in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                             "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                             "l_returnflag", "l_linestatus", "l_shipdate")}
    for ok in range(N_ORDERS):
        odate = ORDER_START + dt.timedelta(days=rng.randrange(ORDER_DAYS))
        total = 0.0
        for ln in range(1, rng.randint(1, 7) + 1):
            part = rng.randrange(N_PARTS)
            qty = float(rng.randint(1, 50))
            price = round(qty * prices[part], 2)
            ship = odate + dt.timedelta(days=rng.randint(1, 121))
            items["l_orderkey"].append(ok)
            items["l_partkey"].append(part)
            items["l_suppkey"].append(rng.randrange(N_SUPPLIERS))
            items["l_linenumber"].append(ln)
            items["l_quantity"].append(qty)
            items["l_extendedprice"].append(price)
            items["l_discount"].append(rng.randint(0, 10) / 100)
            items["l_tax"].append(rng.randint(0, 8) / 100)
            items["l_returnflag"].append(rng.choice("ANR"))
            items["l_linestatus"].append(rng.choice("FO"))
            items["l_shipdate"].append(ship)
            total += price
        orders["o_orderkey"].append(ok)
        orders["o_custkey"].append(rng.randrange(N_CUSTOMERS))
        orders["o_orderstatus"].append(rng.choice("FOP"))
        orders["o_totalprice"].append(round(total, 2))
        orders["o_orderdate"].append(odate)
        orders["o_orderpriority"].append(rng.choice(PRIORITIES))
    out["orders"] = {c: (ts if c == "o_orderdate" else i64 if c in ("o_orderkey", "o_custkey")
                         else f64 if c == "o_totalprice" else s, v) for c, v in orders.items()}
    itypes = {"l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64, "l_linenumber": i32,
              "l_shipdate": ts, "l_returnflag": s, "l_linestatus": s}
    out["lineitem"] = {c: (itypes.get(c, f64), v) for c, v in items.items()}

    times = sorted(rng.randrange(EVENT_SPAN_US) for _ in range(N_EVENTS))
    out["events"] = {
        "event_id": (i64, list(range(N_EVENTS))),
        "ts": (ts, [EVENT_START + dt.timedelta(microseconds=t) for t in times]),
        "user_id": (i64, [rng.randrange(15) for _ in range(N_EVENTS)]),
        "event_type": (s, [rng.choice(EVENT_TYPES) for _ in range(N_EVENTS)]),
        "value": (f64, [round(rng.expovariate(1 / 50) + 0.01, 2) for _ in range(N_EVENTS)]),
        "props": (s, [json.dumps({"k": rng.randrange(100)}) for _ in range(N_EVENTS)]),
    }

    texts: list[str] = []
    for _ in range(N_DOCS):
        u = rng.random()
        if texts and u < DUP_SHARE:
            texts.append(rng.choice(texts))
        elif texts and u < DUP_SHARE + NEAR_DUP_SHARE:
            words = rng.choice(texts).split(" ")
            for _ in range(rng.randint(1, 2)):
                words[rng.randrange(len(words))] = rng.choice(WORDS)
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choices(WORDS, k=rng.randint(10, 90))))
    out["documents"] = {
        "doc_id": (i64, list(range(N_DOCS))),
        "text": (s, texts),
        "lang": (s, [rng.choice(LANGS) for _ in range(N_DOCS)]),
        "source": (s, [f"src{rng.randrange(20)}" for _ in range(N_DOCS)]),
        "n_chars": (i64, [len(t) for t in texts]),
    }

    centres = [[rng.gauss(0, 1) for _ in range(DIM)] for _ in range(N_LABELS)]
    labels, vecs = [], []
    for _ in range(N_VECS):
        lab = rng.randrange(N_LABELS)
        v = [c + rng.gauss(0, 0.8) for c in centres[lab]]
        norm = math.sqrt(sum(x * x for x in v))
        labels.append(lab)
        vecs.append([x / norm for x in v])
    out["embeddings"] = {
        "vec_id": (i64, list(range(N_VECS))),
        "embedding": (pa.list_(pa.float32()), vecs),
        "label": (i32, labels),
    }
    return out


def write_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write every table as ``<out_dir>/<table>.parquet``; returns
    {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, cols in _tables(random.Random(seed)).items():
        table = pa.table({c: pa.array(v, type=t) for c, (t, v) in cols.items()})
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
