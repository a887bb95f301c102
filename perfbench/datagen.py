"""Seeded input generators for the benchmark.

Two kinds of input:

- ``write_corpus``: the ten analytics tables the query corpus reads
  (TPC-H-like star schema plus ``events``, ``documents`` and
  ``embeddings``), written as one parquet file each. Schemas and value
  distributions follow the engine's synthetic test tables. The corpus is
  generated from a fixed seed, so its query results (and the expected
  results frozen in ``expected_results.json``) never change between runs.
- ``event_day``: one file's worth of the append-only change log that the
  export job and the stream fold consume. User keys are Zipf-skewed and
  timestamps are sorted within a file, so each file carries tight
  min/max statistics and a watermark predicate can skip old files.

Everything is numpy/pyarrow; nothing here touches Spark.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42

# Rows per table. Between the engine's sf0.01 and sf0.1 test scales: big
# enough that executor work dominates the executor-bound queries, small
# enough that one pass of a query slice fits one benchmark run.
CORPUS_ROWS = {
    "customer": 4_000,
    "supplier": 250,
    "part": 5_000,
    "orders": 40_000,
    "lineitem": 150_000,
    "events": 25_000,
    "documents": 1_500,
    "embeddings": 800,
}
EVENT_USERS = 400
EMBED_DIM = 64
EMBED_CLUSTERS = 10

VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
P_TYPES = np.array(["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"])
P_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "green"]
P_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "wire", "valve"]

_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
_DAY_US = 86_400_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    return _EPOCH_1995 + rng.integers(lo, hi, n) * np.timedelta64(_DAY_US, "us")


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def write_corpus(out_dir: str) -> dict[str, int]:
    """Write the ten corpus tables under ``out_dir`` as ``<table>.parquet``.

    Returns rows per table.
    """
    rng = np.random.default_rng(CORPUS_SEED)
    n = CORPUS_ROWS
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": SEGMENTS[rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": [
                f"{P_ADJ[a]} {P_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": P_TYPES[rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + rng.integers(0, 1000, npart) * 0.1, 1),
        }
    )
    no = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(rng, no, 0, 2405),
            "o_orderpriority": PRIORITIES[rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
            "l_shipdate": _days(rng, nl, 1, 2499),
        }
    )
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * _DAY_US, ne))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": start + offs.astype("timedelta64[us]"),
            "user_id": pa.array(rng.integers(0, EVENT_USERS, ne), pa.int64()),
            "event_type": EVENT_TYPES[rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])

    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _documents(rng: np.random.Generator, nd: int) -> pa.Table:
    """Random-word documents over a 30-word vocabulary, with about 5%
    planted near-duplicates (an earlier document's text plus " dup")."""
    texts = [_text(rng, int(k)) for k in rng.integers(10, 101, nd)]
    for i in np.flatnonzero(rng.random(nd) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(nd), pa.int64()),
            "text": texts,
            "lang": LANGS[rng.choice(5, nd, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(nd)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, nv: int) -> pa.Table:
    """Unit vectors drawn around weak cluster centres, labelled by cluster."""
    centres = rng.normal(0.0, 0.01, (EMBED_CLUSTERS, EMBED_DIM))
    labels = rng.integers(0, EMBED_CLUSTERS, nv)
    x = centres[labels] + rng.normal(0.0, 0.125, (nv, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), EMBED_DIM).cast(
        pa.list_(pa.float32())
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(nv), pa.int64()),
            "embedding": emb,
            "label": pa.array(labels, pa.int32()),
        }
    )


# --- change-log files -------------------------------------------------------

LOG_START = dt.datetime(2024, 1, 1)
ZIPF_A = 1.2  # Zipf exponent of user-key popularity


def zipf_keys(rng: np.random.Generator, n: int, users: int) -> np.ndarray:
    """``n`` user keys in ``[0, users)`` with a Zipf-skewed popularity and a
    seeded key permutation, so hot keys are not simply the small ids."""
    ranks = rng.zipf(ZIPF_A, n * 2)
    ranks = ranks[ranks <= users][:n]
    while len(ranks) < n:  # tail draws beyond ``users`` were discarded
        more = rng.zipf(ZIPF_A, n)
        ranks = np.concatenate([ranks, more[more <= users]])[:n]
    perm = rng.permutation(users)
    return perm[ranks - 1]


def event_day(
    seed: int,
    index: int,
    rows: int,
    users: int,
    span: dt.timedelta,
) -> pa.Table:
    """The ``index``-th file of a seeded change log: ``rows`` events with
    timestamps sorted inside ``[LOG_START + index*span, + span)`` and
    globally unique ``event_id``s. Same (seed, index) -> same table."""
    rng = np.random.default_rng([seed, index])
    span_us = int(span / dt.timedelta(microseconds=1))
    start = np.datetime64(LOG_START, "us") + np.timedelta64(index * span_us, "us")
    offs = np.sort(rng.integers(0, span_us, rows))
    return pa.table(
        {
            "event_id": pa.array(index * rows + np.arange(rows), pa.int64()),
            "ts": start + offs.astype("timedelta64[us]"),
            "user_id": pa.array(zipf_keys(rng, rows, users), pa.int64()),
            "event_type": EVENT_TYPES[rng.integers(0, 5, rows)],
            "value": np.round(rng.exponential(50.0, rows), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)],
        }
    )
