"""Seeded synthetic inputs shaped like the sf0.1 fixture tables.

Every generator takes a ``numpy.random.Generator`` so the same seed
gives the same rows.  Shapes follow the fixture schemas the library's
operators and oracles expect (``events``, ``documents``,
``embeddings``); value distributions imitate the sf0.1 files: 30 days
of events over 1,500 users and five event types, 10-100 word documents
over a 31-word vocabulary with planted exact and near duplicates, and
unit-norm 64-dim embeddings with ten labels.  ``events`` has the sf0.1
row count; the corpus is half the sf0.1 size, which keeps a corpus_ops
run near one minute.
"""

from __future__ import annotations

from datetime import date, datetime, timedelta

import numpy as np
import pyarrow as pa

EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
EVENTS_START = date(2024, 1, 1)
EVENTS_DAYS = 30
EVENTS_ROWS = 100_000

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
DOCUMENTS_ROWS = 2_500
EMBEDDINGS_ROWS = 1_000
EMBEDDING_DIM = 64


def events(rng: np.random.Generator, rows: int = EVENTS_ROWS) -> pa.Table:
    """The upstream asset: ``day`` is the daily partition column."""
    secs = np.sort(rng.integers(0, EVENTS_DAYS * 86_400 * 1_000_000, rows))
    start = np.datetime64(datetime(2024, 1, 1), "us")
    ts = start + secs.astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(rows, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "day": pa.array(ts.astype("datetime64[D]"), pa.date32()),
        "user_id": rng.integers(0, 1_500, rows),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, rows)]),
        "value": np.round(rng.random(rows) * 200.0, 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)]),
    })


def event_days() -> list[date]:
    return [EVENTS_START + timedelta(days=i) for i in range(EVENTS_DAYS)]


def documents(rng: np.random.Generator, rows: int = DOCUMENTS_ROWS) -> pa.Table:
    """Random word sequences; 5% are near duplicates (an earlier text
    plus ' dup') and a handful are exact copies, as in the fixture."""
    lengths = rng.integers(10, 101, rows)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(words), n)]) for n in lengths]
    near = rng.choice(np.arange(rows // 2, rows), rows // 20, replace=False)
    for i in near:
        texts[i] = texts[int(rng.integers(0, rows // 2))] + " dup"
    exact = rng.choice(np.setdiff1d(np.arange(rows // 2, rows), near), 8, replace=False)
    for i in exact:
        texts[i] = texts[int(rng.integers(0, rows // 2))]
    return pa.table({
        "doc_id": np.arange(rows, dtype=np.int64),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), rows)]),
        "source": [f"src{k}" for k in rng.integers(0, 20, rows)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng: np.random.Generator, rows: int = EMBEDDINGS_ROWS) -> pa.Table:
    vecs = rng.standard_normal((rows, EMBEDDING_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(rows, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), EMBEDDING_DIM).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, rows).astype(np.int32),
    })


def shard(table: pa.Table, rng: np.random.Generator, share: float = 0.9) -> pa.Table:
    """A seeded ``share`` of the rows, in their original order."""
    return table.filter(pa.array(rng.random(table.num_rows) < share))
