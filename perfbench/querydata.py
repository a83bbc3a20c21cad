"""Seeded generator for the query workload's tables.

Writes the ten tables ``__spark_entry__.queries()`` reads, one parquet
file each, with the schemas and the sf0.1 row counts of the repo's fixed
test tables (TESTDATA.md, FIXTURES.md §2); ``scale`` multiplies every
row count.  The benchmark runs from a bare checkout, which does not
hold those fixed tables, so it writes its own; the value distributions
here follow FIXTURES.md and are not a copy of the fixed data, so query
times are comparable between runs of this benchmark, not with figures
measured on the fixed tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts of the repo's test tables
ROWS = {
    "lineitem": 600_000, "orders": 150_000, "customer": 15_000,
    "part": 20_000, "supplier": 1_000, "documents": 5_000,
    "events": 100_000, "embeddings": 2_000,
}
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMBED_DIM = 64
DAY_US = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days(rng, first_day: int, n_days: int, n: int) -> pa.Array:
    us = EPOCH_1995 + (first_day + rng.integers(0, n_days, n)) * DAY_US
    return pa.array(us, pa.timestamp("us"))


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i and roll < 0.002:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i and roll < 0.05:  # near-duplicate: an earlier text plus a token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(WORDS, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _events(rng, n: int) -> pa.Table:
    gaps = rng.exponential(25.92e6, n).astype(np.int64) + 1
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(EPOCH_2024 + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n, dtype=np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _embeddings(rng, n: int) -> pa.Table:
    vecs = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMBED_DIM)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n, dtype=np.int32),
    })


def _tpch(rng, n_li: int, n_ord: int, n_cust: int, n_part: int, n_supp: int) -> dict:
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 104999.99, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, 1, 2499, n_li),
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, 0, 2405, n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    pk = np.arange(n_part, dtype=np.int64)
    part = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    supplier = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    nation = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int32) % 5,
    })
    region = pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": REGIONS,
    })
    return {
        "lineitem": lineitem, "orders": orders, "customer": customer,
        "part": part, "supplier": supplier, "nation": nation, "region": region,
    }


def write_tables(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    rng = np.random.default_rng(seed)
    n = {k: max(50, int(v * scale)) for k, v in ROWS.items()}
    tables = _tpch(rng, n["lineitem"], n["orders"], n["customer"], n["part"], n["supplier"])
    tables["documents"] = _documents(rng, n["documents"])
    tables["events"] = _events(rng, n["events"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
