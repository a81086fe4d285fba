"""Seeded inputs for the benchmark's workloads.

``star_schema`` writes the ten parquet tables the query registry reads
(``multisql_spark.tables.TABLE_NAMES``), with the column names, types and
value domains of the TPC-H-like test data at scale factor 0.01.  The same
seed always writes the same files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "red", "hot", "old", "large", "small", "cold", "new"]
PART_NOUN = ["anvil", "plate", "widget", "ring", "rod", "gizmo", "bolt", "gear"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

# rows per table at the registry's scale (the test data's sf0.01 counts)
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
EMBED_DIM = 64


def _days(rng, n, start, end):
    lo = (start - dt.date(1970, 1, 1)).days
    hi = (end - dt.date(1970, 1, 1)).days
    day_us = 86_400 * 1_000_000
    return pa.array(rng.integers(lo, hi + 1, n) * day_us, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng):
    n = ROWS["documents"]
    texts = []
    for _ in range(n):
        k = int(rng.integers(8, 90))
        texts.append(" ".join(rng.choice(WORDS, k)))
    # near-duplicates: one word changed, so the dedup and similarity
    # queries have pairs to find
    for i in rng.choice(n, n // 20, replace=False):
        words = texts[int(rng.integers(n))].split()
        words[int(rng.integers(len(words)))] = str(rng.choice(WORDS))
        texts[i] = " ".join(words)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n).tolist(),
            "source": [f"src{i}" for i in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng):
    n = ROWS["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, EMBED_DIM))
    vecs = centers[labels] + 0.5 * rng.normal(size=(n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(
                vecs.astype(np.float32).tolist(), pa.list_(pa.float32())
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )


def star_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    t = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(
                rng.integers(0, 25, n["customer"]), pa.int32()
            ),
            "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"]).tolist(),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(
                rng.integers(0, 25, n["supplier"]), pa.int32()
            ),
            "s_acctbal": _money(rng, n["supplier"], -999.99, 9999.99),
        }
    )
    keys = np.arange(n["part"])
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": [
                f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}"
                for _ in keys
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, len(keys))],
            "p_type": rng.choice(PART_TYPES, len(keys)).tolist(),
            "p_size": pa.array(rng.integers(1, 51, len(keys)), pa.int32()),
            "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
            "o_custkey": pa.array(
                rng.integers(0, n["customer"], n["orders"]), pa.int64()
            ),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]).tolist(),
            "o_totalprice": _money(rng, n["orders"], 1000, 500000),
            "o_orderdate": _days(
                rng, n["orders"], dt.date(1995, 1, 1), dt.date(2001, 8, 1)
            ),
            "o_orderpriority": rng.choice(PRIORITIES, n["orders"]).tolist(),
        }
    )
    m = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(rng, m, 900, 105000),
            "l_discount": rng.integers(0, 11, m) / 100,
            "l_tax": rng.integers(0, 9, m) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], m).tolist(),
            "l_linestatus": rng.choice(["F", "O"], m).tolist(),
            "l_shipdate": _days(rng, m, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }
    )
    e = n["events"]
    start_us = (
        int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
        * 1_000_000
    )
    month_us = 30 * 86_400 * 1_000_000
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(e), pa.int64()),
            "ts": pa.array(
                np.sort(start_us + rng.integers(0, month_us, e)),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, 150, e), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, e).tolist(),
            "value": _money(rng, e, 0.01, 490.0),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    t["documents"] = _documents(rng)
    t["embeddings"] = _embeddings(rng)
    return t


def star_schema(seed: int, out_dir: str) -> int:
    """Write every table as ``<out_dir>/<name>.parquet``; returns the
    total row count."""
    os.makedirs(out_dir, exist_ok=True)
    rows = 0
    for name, table in star_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows += table.num_rows
    return rows
