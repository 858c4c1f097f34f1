"""Deterministic parquet fixtures for the batch workload.

The tables follow the schemas of the registry's test tables (FIXTURES.md)
and the value distributions of their sf0.1 files: a 31-word vocabulary with
5% near-duplicate documents and 64-dim unit embeddings with ten labels. They are written once per checkout with a fixed seed
and reused by every run, so that a run's seed only changes the query order.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42

# Rows per table, as in the sf0.001 and sf0.01 tables of TESTDATA.md.
SIZES = {"documents": 500, "embeddings": 500}

VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch"
).split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, size=int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{int(s)}" for s in rng.integers(0, 20, n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.standard_normal((10, dim))
    v = rng.standard_normal((n, dim)) + 0.6 * centers[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


_MAKERS = {"documents": _documents, "embeddings": _embeddings}


def ensure_fixtures(out_dir: str) -> str:
    """Write the fixture tables under ``out_dir`` unless a complete set is
    already there; returns the directory. Each table is written to a
    temporary name and renamed, so an interrupted run leaves no partial
    table behind."""
    os.makedirs(out_dir, exist_ok=True)
    for i, (name, n) in enumerate(SIZES.items()):
        path = os.path.join(out_dir, f"{name}.parquet")
        if os.path.exists(path):
            continue
        rng = np.random.default_rng([FIXTURE_SEED, i])
        tmp = path + ".tmp"
        pq.write_table(_MAKERS[name](rng, n), tmp)
        os.replace(tmp, path)
    return out_dir
