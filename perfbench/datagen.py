"""Inputs for the ``llm_dedup`` workload.

Writes ``documents.parquet`` and ``embeddings.parquet`` with the schema
the engine's table registry reads (``sources/registry.py``), shaped like
the sf0.01 corpus: 500 documents over a 30-word vocabulary, 64-dim
unit-norm embeddings in 10 labelled clusters.

The corpus is fixed (``CORPUS_SEED``): like the sf0.01 tables it stands
in for, it is the same for every run, and the benchmark's ``--seed``
only orders the ops. Every 20th document is a near-duplicate of an
earlier original (its text plus " dup") and every 97th is an exact copy
of one. Parents are always originals, so near-dup chains have length 1.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 500
N_VECS = 500
DIM = 64
N_LABELS = 10
NEAR_DUP_EVERY = 20
EXACT_DUP_EVERY = 97
CORPUS_SEED = 20240101

VOCAB = (
    "a the data spark query table row column key value join hash sort "
    "group agg scan filter window merge batch stream vector line part "
    "customer order small big fast slow"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def _documents(rng: np.random.Generator) -> pa.Table:
    texts: list[str] = []
    originals: list[int] = []
    for i in range(N_DOCS):
        if i and i % EXACT_DUP_EVERY == 0:
            texts.append(texts[originals[rng.integers(len(originals))]])
        elif i and i % NEAR_DUP_EVERY == 0:
            texts.append(texts[originals[rng.integers(len(originals))]] + " dup")
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(len(VOCAB), size=n_words)))
            originals.append(i)
    return pa.table(
        {
            "doc_id": pa.array(range(N_DOCS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[j] for j in rng.integers(len(LANGS), size=N_DOCS)]),
            "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator) -> pa.Table:
    centroids = rng.standard_normal((N_LABELS, DIM))
    labels = rng.integers(N_LABELS, size=N_VECS)
    vecs = rng.standard_normal((N_VECS, DIM)) + 0.15 * centroids[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(range(N_VECS), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_corpus(out_dir: str) -> list[str]:
    """Write the tables under ``out_dir``; return the table names."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(CORPUS_SEED)
    tables = {"documents": _documents(rng), "embeddings": _embeddings(rng)}
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return list(tables)
