"""Seeded generator of the small tables the registry workload queries.

Pure Python plus pyarrow: the same ``seed`` always produces the same rows.
The tables have the schemas the registry's queries read (a TPC-H-like star
schema plus a ``documents`` table), at about the size of the smallest
scale the registry is tested at: 150 customers, 1,500 orders, ~6,000
line items and 500 documents.

The values are chosen so every headline query the workload runs has a
non-trivial answer: 2% of orders exceed the large-order quantity, part pairs recur
across orders (so the triangle count has edges), and a fifth of the
documents are near-copies of an earlier one (3-gram Jaccard ≥ 0.94, well
above the 0.8 threshold, so MinHash banding surfaces every such pair).
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# The headline queries the registry workload runs, and the tables they read.
QUERIES = [
    "q1_pricing_summary",
    "q18_large_orders",
    "q_minhash_lsh_dedup",
    "q_pagerank_parts",
    "q_triangle_count",
]
TABLES = ["customer", "orders", "lineitem", "documents"]

CUSTOMERS, ORDERS, PARTS, SUPPLIERS, DOCUMENTS = 150, 1500, 200, 10, 500
BULK_SHARE = 0.02  # orders of seven lines of 45-50 units: over the large-order quantity (300)
DOC_WORDS = 40
DUPLICATE_SHARE = 0.2

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_VOCAB = (
    "the a fast slow key order sort table scan merge part window small large "
    "hash join batch stream spark dup row column index page cache file query "
    "plan shuffle task stage node graph edge rank score token word text lake "
    "sink source delta vector model train data clean filter group count sum "
    "max min"
).split()
_EPOCH = dt.datetime(1992, 1, 1)


def _write(root: str, name: str, columns: dict[str, pa.Array]) -> str:
    path = os.path.join(root, f"{name}.parquet")
    pq.write_table(pa.table(columns), path)
    return path


def _customers(rng: random.Random) -> dict[str, pa.Array]:
    keys = range(CUSTOMERS)
    return {
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys], pa.string()),
        "c_nationkey": pa.array([rng.randrange(25) for _ in keys], pa.int32()),
        "c_acctbal": pa.array([rng.randrange(-99999, 999999) / 100 for _ in keys], pa.float64()),
        "c_mktsegment": pa.array([rng.choice(_SEGMENTS) for _ in keys], pa.string()),
    }


def _orders_and_lines(rng: random.Random) -> tuple[dict[str, pa.Array], dict[str, pa.Array]]:
    o: dict[str, list] = {k: [] for k in ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")}
    li: dict[str, list] = {
        k: []
        for k in (
            "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
            "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
        )
    }
    for key in range(ORDERS):
        ordered = _EPOCH + dt.timedelta(days=rng.randrange(2405))
        total = 0
        statuses = set()
        bulk = rng.random() < BULK_SHARE
        for line in range(1, (7 if bulk else rng.randint(1, 7)) + 1):
            qty = rng.randint(45, 50) if bulk else rng.randint(1, 50)
            cents = qty * rng.randrange(90000, 210000)
            shipped = ordered + dt.timedelta(days=rng.randint(1, 121))
            status = "F" if shipped < dt.datetime(1995, 6, 17) else "O"
            statuses.add(status)
            total += cents
            li["l_orderkey"].append(key)
            li["l_partkey"].append(rng.randrange(PARTS))
            li["l_suppkey"].append(rng.randrange(SUPPLIERS))
            li["l_linenumber"].append(line)
            li["l_quantity"].append(float(qty))
            li["l_extendedprice"].append(cents / 100)
            li["l_discount"].append(rng.randint(0, 10) / 100)
            li["l_tax"].append(rng.randint(0, 8) / 100)
            li["l_returnflag"].append(rng.choice("RA") if status == "F" else "N")
            li["l_linestatus"].append(status)
            li["l_shipdate"].append(shipped)
        o["o_orderkey"].append(key)
        o["o_custkey"].append(rng.randrange(CUSTOMERS))
        o["o_orderstatus"].append(statuses.pop() if len(statuses) == 1 else "P")
        o["o_totalprice"].append(total / 100)
        o["o_orderdate"].append(ordered)
        o["o_orderpriority"].append(rng.choice(_PRIORITIES))
    ts = pa.timestamp("us")
    orders = {
        "o_orderkey": pa.array(o["o_orderkey"], pa.int64()),
        "o_custkey": pa.array(o["o_custkey"], pa.int64()),
        "o_orderstatus": pa.array(o["o_orderstatus"], pa.string()),
        "o_totalprice": pa.array(o["o_totalprice"], pa.float64()),
        "o_orderdate": pa.array(o["o_orderdate"], ts),
        "o_orderpriority": pa.array(o["o_orderpriority"], pa.string()),
    }
    types = {
        "l_orderkey": pa.int64(), "l_partkey": pa.int64(), "l_suppkey": pa.int64(),
        "l_linenumber": pa.int32(), "l_quantity": pa.float64(), "l_extendedprice": pa.float64(),
        "l_discount": pa.float64(), "l_tax": pa.float64(), "l_returnflag": pa.string(),
        "l_linestatus": pa.string(), "l_shipdate": ts,
    }
    return orders, {k: pa.array(v, types[k]) for k, v in li.items()}


def _documents(rng: random.Random) -> dict[str, pa.Array]:
    texts: list[str] = []
    originals: list[str] = []
    for _ in range(DOCUMENTS):
        if originals and rng.random() < DUPLICATE_SHARE:
            # A near-copy of an earlier original: its last word replaced
            # (one 3-gram of 38 differs) or one word appended.
            words = rng.choice(originals).split()
            if rng.random() < 0.5:
                words[-1] = rng.choice(_VOCAB)
            else:
                words.append(rng.choice(_VOCAB))
        else:
            words = [rng.choice(_VOCAB) for _ in range(DOC_WORDS)]
            originals.append(" ".join(words))
        texts.append(" ".join(words))
    ids = range(DOCUMENTS)
    return {
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(["en", "es", "de", "fr"]) for _ in ids], pa.string()),
        "source": pa.array([f"src{i % 5}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def write_tables(root: str, seed: int) -> int:
    """Write ``customer``, ``orders``, ``lineitem`` and ``documents`` under
    ``root``; return their total size in bytes."""
    os.makedirs(root, exist_ok=True)
    rng = random.Random(f"perfbench-tables-{seed}")
    orders, lines = _orders_and_lines(rng)
    paths = [
        _write(root, "customer", _customers(rng)),
        _write(root, "orders", orders),
        _write(root, "lineitem", lines),
        _write(root, "documents", _documents(rng)),
    ]
    return sum(os.path.getsize(p) for p in paths)
