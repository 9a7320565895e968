"""Seeded input generators for the benchmark workloads.

Every table is a pure function of (seed, size) built with numpy and
written with pyarrow, so the program under test receives only parquet
files — never the seed. Schemas follow the repository's fixtures:

- ``sequences``: the tokenized-sequence table (doc_id, tokens, n_tok,
  source, ts) with the geometric source skew of
  ``traval_spark.sources.synth`` (source_00 holds ~50% of rows) and
  n_tok uniform in [1, 256], so a 250 token cap flags ~2.3% of rows.
- ``events`` / ``documents`` / ``embeddings``: the shapes of the
  ``__spark_entry__`` test tables (events: exponential values, 5 event
  types; documents: 30-word vocabulary with 5% near-duplicates;
  embeddings: unit float32 vectors with 10 labels).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 1, 1)
N_SOURCES = 8
MAX_TOK = 256
VOCAB = 50_257

SEQUENCE_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("tokens", pa.list_(pa.int32())),
    ("n_tok", pa.int32()),
    ("source", pa.string()),
    ("ts", pa.timestamp("us")),
])


def sequences(seed: int, n: int, day0: int, days: int,
              prefix: str = "doc") -> pa.Table:
    """``n`` sequences with event times uniform over ``days`` days
    starting ``day0`` days after 2024-01-01, sorted by time."""
    rng = np.random.default_rng(seed)
    # geometric skew: source k holds 2^-(k+1) of the rows, the last
    # source the remainder
    u = rng.random(n)
    k = np.minimum(np.floor(-np.log2(1.0 - u)).astype(np.int64),
                   N_SOURCES - 1)
    n_tok = rng.integers(1, MAX_TOK + 1, n).astype(np.int32)
    off_us = np.sort(rng.integers(0, days * 86_400_000_000, n))
    ts = (np.datetime64(EPOCH, "us") + np.timedelta64(day0, "D")
          + off_us.astype("timedelta64[us]"))
    offsets = np.concatenate(([0], np.cumsum(n_tok))).astype(np.int32)
    flat = rng.integers(0, VOCAB, int(offsets[-1])).astype(np.int32)
    tokens = pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat))
    names = np.array([f"source_{i:02d}" for i in range(N_SOURCES)])
    return pa.table({
        "doc_id": [f"{prefix}-{seed}-{i:09d}" for i in range(n)],
        "tokens": tokens,
        "n_tok": n_tok,
        "source": names[k],
        "ts": ts,
    }, schema=SEQUENCE_SCHEMA)


WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])


def events(seed: int, n: int, days: int, n_users: int) -> pa.Table:
    rng = np.random.default_rng(seed)
    off_us = np.sort(rng.integers(0, days * 86_400_000_000, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64(EPOCH, "us") + off_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def documents(seed: int, n: int, n_sources: int = 20) -> pa.Table:
    rng = np.random.default_rng(seed)
    vocab = np.array(WORDS)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
             for _ in range(n)]
    # 5% near-duplicates: a copy of another document with one word
    # dropped and the marker word "dup" appended
    for i in rng.choice(n, n // 20, replace=False):
        words = texts[int(rng.integers(0, n))].split()
        del words[int(rng.integers(0, len(words)))]
        texts[i] = " ".join(words + ["dup"])
    p_lang = np.array([0.41, 0.15, 0.14, 0.15, 0.15])
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), n, p=p_lang)],
        "source": [f"src{i % n_sources}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(seed: int, n: int, dim: int = 64) -> pa.Table:
    rng = np.random.default_rng(seed)
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    offsets = np.arange(0, n * dim + 1, dim, dtype=np.int32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(pa.array(offsets),
                                              pa.array(x.ravel())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path
