"""Seeded tables for the headline queries, written with pyarrow.

The shapes follow the repository's test data (a TPC-H-like star schema
plus ``events``, ``documents`` and ``embeddings``): the same columns and
types, key ranges scaled by ``sf``, value ranges and categorical
domains of the same kind. Documents draw from a small vocabulary and a
share of them repeat another document's opening or most of its words,
so the exact-dedup and MinHash queries find duplicates. Each table is
one parquet file named ``<table>.parquet``, the layout
``sources/tables.py:load_table`` reads.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "batch window spark order data column agg join small line customer "
    "query value a table fast key scan big part stream group sort merge "
    "filter hash row vector slow the"
).split()
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
EVENT_TYPES = np.array(["signup", "error", "click", "view", "purchase"])
SEGMENTS = np.array(["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
US = 1_000_000
DAY = 86_400 * US
T1995 = 788_918_400 * US  # 1995-01-01
T2024 = 1_704_067_200 * US  # 2024-01-01
TS = pa.timestamp("us")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    docs: list[str] = []
    for i in range(n):
        r = rng.random()
        if i and r < 0.05:  # same opening as an earlier document
            head = docs[rng.integers(i)][:60]
            tail = " ".join(rng.choice(VOCAB, rng.integers(5, 60)))
            docs.append(head + " " + tail)
        elif i and r < 0.10:  # near duplicate: an earlier one, a few words swapped
            words = docs[rng.integers(i)].split()
            for j in rng.integers(len(words), size=max(1, len(words) // 20)):
                words[j] = rng.choice(VOCAB)
            docs.append(" ".join(words))
        else:
            docs.append(" ".join(rng.choice(VOCAB, rng.integers(8, 100))))
    return docs


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table at scale ``sf``; returns row counts by table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    n_ev, n_docs, n_vec = int(1_000_000 * sf), int(50_000 * sf), max(50, int(50_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(25, size=n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(25, size=n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(n_cust, size=n_ord),
        "o_orderstatus": rng.choice(np.array(["O", "F", "P"]), n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 400_000, n_ord), 2),
        "o_orderdate": pa.array(T1995 + rng.integers(2400, size=n_ord) * DAY, TS),
        "o_orderpriority": rng.choice(
            np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n_ord
        ),
    })
    qty = rng.integers(1, 51, size=n_li).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(n_ord, size=n_li),
        "l_partkey": rng.integers(int(200_000 * sf), size=n_li),
        "l_suppkey": rng.integers(n_supp, size=n_li),
        "l_linenumber": rng.integers(1, 8, size=n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, size=n_li) / 100.0,
        "l_tax": rng.integers(0, 9, size=n_li) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_li),
        "l_linestatus": rng.choice(np.array(["O", "F"]), n_li),
        "l_shipdate": pa.array(T1995 + rng.integers(2500, size=n_li) * DAY, TS),
    })
    # events: ids in time order, as the test data has them
    ev_ts = np.sort(T2024 + rng.integers(30 * DAY, size=n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, TS),
        "user_id": rng.integers(n_users, size=n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(100, size=n_ev)],
    })
    texts = _documents(rng, n_docs)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.normal(size=(n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(10, size=n_vec).astype(np.int32),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "orders": n_ord,
        "lineitem": n_li, "events": n_ev, "documents": n_docs,
        "embeddings": n_vec,
    }
