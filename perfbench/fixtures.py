"""Seeded fixture tables and request streams for the benchmark.

The engine reads its fixture tables as parquet files named
``<table>.parquet`` under one directory (``tables.table``). These
generators write the three tables the benchmark's workloads read, with
the same schemas and value distributions as the repository's driver
testdata at sf0.1 (``events``: 1,500 keys over 30 days of uniformly
spread events; ``documents``: 30-word-vocabulary texts with 5% near
duplicates; ``embeddings``: unit-norm 64-d vectors in ten labelled
clusters). Everything derives from one ``numpy`` generator seeded by
the caller, so the same seed gives byte-identical inputs.

The read workloads use one fixed fixture (seed ``FIXTURE_SEED``, as
the driver testdata is fixed) and take their request stream from the
run's seed. A fixture and its oracle results are built once per
checkout and cached under ``.perfbench_work/cache``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
N_KEYS = 1500
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EPOCH = dt.datetime(2024, 1, 1)
SPAN_US = 30 * 86_400 * 1_000_000

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "es", "fr", "de", "zh")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
N_SOURCES = 20
EMB_DIM = 64
EMB_LABELS = 10


def write_events(out_dir: str, rng: np.random.Generator, n_rows: int = 100_000) -> None:
    """``events`` in the market-table role: user_id -> item key,
    ts -> poll time, value -> price (exponential, mean 50, 2 dp)."""
    ts_us = np.sort(rng.integers(0, SPAN_US, n_rows))
    epoch_us = int((EPOCH - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n_rows, dtype=np.int64)),
            "ts": pa.array(ts_us + epoch_us, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_KEYS, n_rows, dtype=np.int64)),
            "event_type": pa.array(
                [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), n_rows)]
            ),
            "value": pa.array(np.round(rng.exponential(50.0, n_rows), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_rows)]),
        }
    )
    pq.write_table(table, os.path.join(out_dir, "events.parquet"))


def write_documents(out_dir: str, rng: np.random.Generator, n_docs: int) -> None:
    """Texts of 10-100 vocabulary words; 5% are an earlier text plus a
    trailing " dup" (near duplicates), 0.2% are exact copies."""
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[i] for i in rng.choice(len(LANGS), n_docs, p=LANG_P)]),
            "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))


def write_embeddings(out_dir: str, rng: np.random.Generator, n_vecs: int) -> None:
    """Unit-norm vectors: a label centroid plus isotropic noise."""
    centroids = rng.standard_normal((EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, n_vecs)
    vecs = centroids[labels] + 1.5 * rng.standard_normal((n_vecs, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32)),
        }
    )
    pq.write_table(table, os.path.join(out_dir, "embeddings.parquet"))


class Zipf:
    """Keys drawn Zipf(s) over the N_KEYS keys; which key holds which
    popularity rank is itself drawn from the generator."""

    def __init__(self, rng: np.random.Generator, s: float = 1.1):
        self.rng = rng
        weights = 1.0 / np.arange(1, N_KEYS + 1) ** s
        self.p = weights / weights.sum()
        self.keys = rng.permutation(N_KEYS)

    def draw(self) -> int:
        return int(self.keys[self.rng.choice(N_KEYS, p=self.p)])


def cached(cache_root: str, name: str, key: list[str], build) -> tuple[str, dict]:
    """Directory and oracle results of a fixture, building them with
    ``build(dir) -> dict`` (JSON-able) unless a copy for the same
    ``key`` (generator code, sizes, oracle SQL) is already cached."""
    digest = hashlib.sha256()
    with open(__file__, "rb") as fh:
        digest.update(fh.read())
    for part in key:
        digest.update(part.encode())
    path = os.path.join(cache_root, f"{name}-{digest.hexdigest()[:16]}")
    if not os.path.isdir(path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        with open(os.path.join(tmp, "oracle.json"), "w") as fh:
            json.dump(build(tmp), fh)
        os.rename(tmp, path)
    with open(os.path.join(path, "oracle.json")) as fh:
        return path, json.load(fh)
