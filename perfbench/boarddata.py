"""Seeded generator for the operator board's input tables.

The board queries read ``documents``, ``embeddings`` and ``events`` as
parquet files from one directory.  This module writes those three tables
with the same schemas and value shapes as the repository's synthetic
testdata (a 30-word vocabulary, five languages, 20 sources, a few exact
duplicate texts, 64-dim unit-norm embeddings with ten labels, a month of
timestamp-ordered events), so the same seed always yields the same files
and a new seed yields new data for the same queries.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_WEIGHTS = [0.41, 0.15, 0.14, 0.15, 0.15]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
N_SOURCES = 20
EMB_DIM = 64
N_LABELS = 10

# Row counts: 60 % of the 0.01-scale testdata, so that one cold pass over
# every query and its DuckDB oracle fits a run of about a minute.
SIZES = {"documents": 300, "embeddings": 300, "events": 6000}


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.004:
            # exact duplicate of an earlier text, tagged like the testdata
            j = int(rng.integers(0, i))
            if not texts[j].endswith(" dup"):
                texts[j] += " dup"
            texts.append(texts[j])
            continue
        words = rng.choice(VOCAB, size=int(rng.integers(10, 101)))
        texts.append(" ".join(words))
    langs = rng.choice(LANGS, size=n, p=LANG_WEIGHTS)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    vecs = rng.normal(0.0, 1.0, size=(n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32)), flat
        ),
        "label": pa.array(rng.integers(0, N_LABELS, size=n).astype(np.int32)),
    })


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 10**6
    offsets = np.sort(rng.integers(0, span_us, size=n))
    n_users = max(1, n * 15 // 1000)
    values = np.round(rng.exponential(50.0, size=n), 2)
    props = [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, size=n)]
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(start + offsets.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, size=n).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, size=n).tolist(), pa.string()),
        "value": pa.array(values),
        "props": pa.array(props, pa.string()),
    })


def write_tables(out_dir: str, seed: int, sizes: dict[str, int] = SIZES) -> dict[str, int]:
    """Write the three board tables for ``seed`` under ``out_dir``;
    returns their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    makers = {"documents": _documents, "embeddings": _embeddings, "events": _events}
    counts = {}
    for offset, (name, make) in enumerate(makers.items()):
        rng = np.random.default_rng([seed, offset])
        table = make(rng, sizes[name])
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
