"""Seeded input tables for the catalog workload.

The benchmark reads and writes only inside its checkout, so it writes
its own tables rather than reading shared test data. They copy the
column names and parquet types of the catalog's TPC-H-style test
schema, so every catalog query and its DuckDB oracle run on them
unchanged. ``lineitem`` is about a quarter of the schema's sf0.1 table,
which the relational family's scans, quantiles and aggregates read; the
other tables sit between sf0.001 and sf0.01, so that a run, with its
verified warm-up pass, stays within about a minute on four cores.
Every value comes from ``numpy.random`` seeded with the given seed, so
one seed always gives the same files.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_PART = 400
N_ORDERS = 6000
N_LINEITEM = 150000
N_EVENTS = 4000
N_DOCUMENTS = 300
N_EMBEDDINGS = 500
EMB_DIM = 64

_WORDS = (
    "a the data row column table key value join merge sort order group "
    "agg filter scan hash window batch stream spark query line part "
    "customer vector small big fast slow"
).split()


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def part(rng) -> pa.Table:
    keys = np.arange(N_PART, dtype=np.int64)
    adj = np.array("cold small large blue old new red shiny".split())
    noun = np.array("widget bolt rod anvil ring gizmo plate gear".split())
    types = np.array("ECONOMY PROMO LARGE MEDIUM STANDARD SMALL".split())
    names = [f"{a} {b}" for a, b in zip(rng.choice(adj, N_PART), rng.choice(noun, N_PART))]
    return pa.table({
        "p_partkey": keys,
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(types, N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 200) * 0.1, 2),
    })


def orders(rng) -> pa.Table:
    return pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_ORDERS // 10, N_ORDERS, dtype=np.int64),
        "o_orderstatus": rng.choice(np.array(["O", "F", "P"]), N_ORDERS),
        "o_totalprice": _money(rng, N_ORDERS, 1000.0, 500000.0),
        "o_orderdate": _days(rng, N_ORDERS, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(
            np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]),
            N_ORDERS,
        ),
    })


def lineitem(rng) -> pa.Table:
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    return pa.table({
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM, dtype=np.int64),
        "l_partkey": rng.integers(0, N_PART, N_LINEITEM, dtype=np.int64),
        "l_suppkey": rng.integers(0, 10, N_LINEITEM, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, N_LINEITEM), 2),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": rng.choice(np.array(["N", "A", "R"]), N_LINEITEM),
        "l_linestatus": rng.choice(np.array(["O", "F"]), N_LINEITEM),
        "l_shipdate": _days(rng, N_LINEITEM, "1995-01-01", "2001-11-30"),
    })


def events(rng) -> pa.Table:
    base = np.datetime64(datetime(2024, 1, 1), "us")
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, N_EVENTS))
    return pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": base + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 40, N_EVENTS, dtype=np.int64),
        "event_type": rng.choice(
            np.array(["view", "click", "purchase", "signup", "error"]), N_EVENTS
        ),
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })


def documents(rng) -> pa.Table:
    """Random word documents; about a quarter are near copies of an
    earlier one (a few words replaced), so the dedup operators find
    clusters of real size."""
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        if i > 10 and rng.random() < 0.25:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
            words.append("dup")
        else:
            words = list(rng.choice(_WORDS, int(rng.integers(20, 90))))
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(np.array(["en", "fr", "es", "zh", "de"]), N_DOCUMENTS),
        "source": [f"src{s}" for s in rng.integers(0, 20, N_DOCUMENTS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng) -> pa.Table:
    labels = rng.integers(0, 10, N_EMBEDDINGS)
    centers = rng.normal(0.0, 1.0, (10, EMB_DIM))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (N_EMBEDDINGS, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


TABLES = {
    "part": part,
    "orders": orders,
    "lineitem": lineitem,
    "events": events,
    "documents": documents,
    "embeddings": embeddings,
}


def write_tables(seed: int, out_dir: str) -> None:
    """Write every table as ``{out_dir}/{name}.parquet`` (one row group
    each, like the schema's test files)."""
    os.makedirs(out_dir, exist_ok=True)
    for i, (name, make) in enumerate(TABLES.items()):
        rng = np.random.default_rng([seed, i])
        pq.write_table(make(rng), os.path.join(out_dir, f"{name}.parquet"))
