"""Seeded generator for the catalog-query tables.

Writes ``region nation customer supplier part orders lineitem events
documents embeddings`` as one Parquet file each, with the schemas and
value distributions the query catalog (``citibike_deep_dive_spark.plans``)
is written against: a TPC-H-shaped star schema scaled by ``sf``, a
30-day event stream, short bag-of-words documents (5 % near-duplicates,
a few exact duplicates) and unit-norm 64-d embeddings. Types, row counts
and value distributions follow the reference tables that ``bench.py`` and
the test suite read; ``tablecheck.py`` compares the two.

Single process, numpy ``default_rng(seed)``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "small", "hot", "cold", "red", "blue", "old", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, n, lo: str, hi: str) -> np.ndarray:
    start = np.datetime64(lo, "D")
    span = int((np.datetime64(hi, "D") - start) / np.timedelta64(1, "D"))
    return (start + rng.integers(0, span + 1, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n: int) -> dict:
    lengths = rng.integers(10, 101, n)
    vocab = np.array(WORDS)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    # 5 % of the documents become another one plus " dup"; two that copy
    # the same document are the table's exact duplicates
    for i, j in zip(rng.choice(n, n // 20, replace=False), rng.integers(0, n, n // 20)):
        texts[i] = texts[j] + " dup"
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table for scale factor ``sf``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(int(150_000 * sf), 10), max(int(10_000 * sf), 5)
    n_part, n_ord = max(int(200_000 * sf), 20), max(int(1_500_000 * sf), 100)
    n_line, n_ev = max(int(6_000_000 * sf), 400), max(int(1_000_000 * sf), 100)
    n_doc, n_emb = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)
    n_users = max(int(15_000 * sf), 10)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99)),
    })
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    keys = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pa.array(keys),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) * 0.1, 2)),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500000.0)),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, n_line, 900.0, 105000.0)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": pa.array(_days(rng, n_line, "1995-01-02", "2001-11-04")),
    })
    ts = np.sort(
        np.datetime64("2024-01-01", "us")
        + rng.integers(0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]")
    )
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    _write(out_dir, "documents", _documents(rng, n_doc))
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_line, "events": n_ev, "documents": n_doc, "embeddings": n_emb,
    }
