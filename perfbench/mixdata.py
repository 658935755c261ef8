"""Seeded input tables for the operator_mix workload.

The mix queries read three tables: ``documents`` (text dedup, set
similarity joins, ROUGE), ``embeddings`` (PCA, nearest-neighbour
search, semantic dedup) and ``events`` (the similarity graph that
PageRank and Katz run on). This module writes them in the layout
``grafink_spark.sources.tables.load_table`` reads and with the shapes
of the engine's test tables: a 31-word vocabulary, 10-99 words per
document, 64-dimensional embeddings around ten class centres, five
event types. One document in ten is a light edit of an earlier one, so
the dedup and similarity-join queries have near duplicates to find.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the data row column table key value join scan sort hash merge "
    "group filter window batch stream query index page block cache log "
    "disk node edge graph vector shard plan"
).split()
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
DIM = 64
CLASSES = 10


@dataclass(frozen=True)
class MixSpec:
    documents: int = 300
    embeddings: int = 300
    events: int = 3000
    users: int = 100


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(["en"] * n),
            "source": pa.array([f"src{int(k)}" for k in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centres = rng.normal(0.0, 1.0, (CLASSES, DIM))
    labels = rng.integers(0, CLASSES, n).astype(np.int32)
    vecs = centres[labels] + rng.normal(0.0, 0.8, (n, DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32)), flat),
            "label": pa.array(labels),
        }
    )


def _events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    start_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    ts = start_us + np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
            "event_type": pa.array([EVENT_TYPES[k] for k in rng.integers(0, len(EVENT_TYPES), n)]),
            "value": pa.array(np.round(rng.uniform(0.01, 490.0, n), 2)),
            "props": pa.array([f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def generate(seed: int, spec: MixSpec) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    return {
        "documents": _documents(rng, spec.documents),
        "embeddings": _embeddings(rng, spec.embeddings),
        "events": _events(rng, spec.events, spec.users),
    }


def write(out_dir: str, tables: dict[str, pa.Table]) -> str:
    """``{out_dir}/{name}.parquet``, one file per table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
