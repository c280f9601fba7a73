"""Deterministic input tables for the catalog workloads.

The tables have the schemas, row counts and value distributions of the
catalog's sf0.1 input tables (``TESTDATA.md``), as measured from those
files:

- ``documents``: 5,000 rows. Each text is 10 to 99 words drawn uniformly
  from a 30-word vocabulary. Exactly 5% of the rows are then replaced by
  a copy of another row's text with the token ``dup`` appended, in row
  order, so copies of copies occur (sf0.1 has 250 such rows, 4 of them
  chained, and 4,992 distinct texts). ``lang`` is ``en`` 40% and
  ``fr``/``es``/``zh``/``de`` 15% each; ``source`` is ``src0`` to
  ``src19`` round robin; ``n_chars`` is the text's length.
- ``embeddings``: 2,000 unit-length 64-dimensional vectors with no class
  structure (mean cosine 0.0 within a label and between labels) and a
  label drawn uniformly from 0 to 9.
- ``events``: 100,000 rows in time order over 30 days, 1,500 users, five
  event types drawn uniformly, ``value`` exponential with mean 50 to the
  cent, ``props`` ``{"k": 0..99}``.
- ``customer`` (15,000 rows) and ``part`` (20,000 rows: 8 adjectives by
  8 nouns, 6 types, 25 brands, list price 900.0 to 999.9).

They are written once per checkout from a fixed seed, and rewritten only
when a file is missing, so the DuckDB oracle cache (keyed on file sizes
and modification times) stays valid from run to run.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 20240101
TABLES = ("events", "documents", "embeddings", "customer", "part")

ROWS = {"events": 100_000, "documents": 5_000, "embeddings": 2_000,
        "customer": 15_000, "part": 20_000}
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
VOCAB = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n * 15 // 1000, n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))) for _ in range(n)]
    for i in sorted(rng.choice(n, n // 20, replace=False)):
        # a near-duplicate: another row's text with a marker token appended
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    x = rng.normal(0.0, 1.0, (n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def _customer(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n)),
    })


def _part(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": pa.array([f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}"
                            for _ in range(n)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n)),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + np.arange(n) % 1000 * 0.1, 2)),
    })


_MAKERS = {"events": _events, "documents": _documents, "embeddings": _embeddings,
           "customer": _customer, "part": _part}


def build_table(name: str, seed: int = TABLE_SEED) -> pa.Table:
    return _MAKERS[name](np.random.default_rng([seed, TABLES.index(name)]), ROWS[name])


def ensure_tables(data_dir: str) -> list[str]:
    """Write every missing table as ``<data_dir>/<name>.parquet``;
    return the names written."""
    os.makedirs(data_dir, exist_ok=True)
    written = []
    for name in TABLES:
        path = os.path.join(data_dir, f"{name}.parquet")
        if not os.path.exists(path):
            pq.write_table(build_table(name), path + ".tmp")
            os.rename(path + ".tmp", path)
            written.append(name)
    return written
