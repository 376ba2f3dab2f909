"""Seeded fixture generator for the benchmark.

Writes the four tables the three workloads read -- ``events``,
``customer``, ``documents`` and ``embeddings`` -- as single-row-group
parquet files with the schema, row counts and value ranges of the
repository's sf0.1 fixture. Sizes never depend on the seed, so every
seed gives the same amount of work; only the values move.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_EVENTS = 100_000
N_DAYS = 30
N_USERS = 1_500
N_CUSTOMERS = 15_000
N_TEAMS = 25
N_DOCS = 5_000
N_VECS = 2_000
DIM = 64
EPOCH_S = 1_704_067_200  # 2024-01-01T00:00:00Z, day 0 of the event stream

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
NEAR_DUP_SHARE = 0.05  # docs rewritten as a lightly edited copy of an earlier doc
EXACT_DUP_SHARE = 0.002  # docs that repeat an earlier doc verbatim


def _events(rng: np.random.Generator) -> pa.Table:
    span_us = N_DAYS * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, N_EVENTS)) + EPOCH_S * 1_000_000
    return pa.table(
        {
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            # naive micros: the form Spark surfaces as TIMESTAMP_NTZ
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": rng.integers(0, N_USERS, N_EVENTS),
            "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
            "value": np.round(np.minimum(rng.exponential(50.0, N_EVENTS), 560.0), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )


def _customer(rng: np.random.Generator) -> pa.Table:
    keys = np.arange(N_CUSTOMERS, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": [f"Customer#{k:09d}" for k in keys],
            "c_nationkey": rng.integers(0, N_TEAMS, N_CUSTOMERS).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMERS), 2),
            "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMERS),
        }
    )


def _documents(rng: np.random.Generator) -> pa.Table:
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(N_DOCS):
        roll = rng.random()
        if i > 0 and roll < EXACT_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 0 and roll < NEAR_DUP_SHARE:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(toks + ["dup"]))
            continue
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    return pa.table(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, N_DOCS, p=LANG_P),
            "source": [f"src{s}" for s in rng.integers(0, 20, N_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator) -> pa.Table:
    labels = rng.integers(0, 10, N_VECS)
    centroids = rng.normal(0.0, 1.0, (10, DIM))
    v = centroids[labels] + rng.normal(0.0, 0.8, (N_VECS, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(N_VECS, dtype=np.int64),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )


TABLES = {
    "events": _events,
    "customer": _customer,
    "documents": _documents,
    "embeddings": _embeddings,
}


def write_fixture(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table.
    Each table draws from its own child stream of ``seed``, so one
    table's shape never shifts another's values."""
    os.makedirs(out_dir, exist_ok=True)
    streams = np.random.SeedSequence(seed).spawn(len(TABLES))
    rows = {}
    for (name, make), ss in zip(TABLES.items(), streams):
        table = make(np.random.default_rng(ss))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
