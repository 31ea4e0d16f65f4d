"""One session cache for derived corpus state in the operators layer.

Loaded table frames, shingle streams, MinHash/SimHash signatures, LSH
bucket tables, IVF/PQ/PCA indexes, BPE merge tables and the bigram LM
are all built once per (session, corpus, fingerprint, params) and
reused by every query after it: train once, score many.  They share
this one dict, one lock and one entry point, :func:`get`.

Key: ``(applicationId, abspath(sf_dir), table, fingerprint, *params)``.
The application id is unique per SparkContext (``id(spark)`` can be
reused after GC), and the fingerprint (:func:`corpus_fingerprint`) makes
an in-session rewrite of the corpus table miss instead of serving stale
checkpoints.

Eviction runs on insert:

- entries of other application ids go (a process that stops and starts
  Spark sessions must not pin unreachable checkpoint RDDs);
- entries for the same (app, dir, table) under another fingerprint go
  (a rewritten corpus must not pin its superseded checkpoints);
- then least-recently-used entries go down to ``MAX_ENTRIES``, so a
  long-lived session that visits many corpus directories stays bounded.

Builds run outside the lock with single flight per key: concurrent
misses on one key wait for one build.  A build that raises leaves no
entry and wakes its waiters, one of which then builds again.
"""

from __future__ import annotations

import glob
import hashlib
import os
import threading
from collections import OrderedDict
from typing import Any, Callable

MAX_ENTRIES = 256

_lock = threading.Lock()
#: key -> value, or the threading.Event its waiters block on while its
#: build runs; least recently used first
_entries: OrderedDict = OrderedDict()


def corpus_fingerprint(sf_dir: str, table: str) -> str:
    """Cheap change-detection key for a corpus table: relative path +
    size + mtime_ns of every data file.  Persisted indexes (IVF
    centroids, PQ codebooks, PCA basis) record it in their commit
    metadata, so a changed corpus retrains as a new table version."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    # NB: glob('<file>/**') yields ['<file>/'] (trailing slash, fails
    # isfile), so a plain-file table must bypass the glob or it hashes
    # to the empty fingerprint
    if os.path.isfile(path):
        files = [path]
    else:
        files = sorted(glob.glob(os.path.join(path, "**"), recursive=True))
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(
                f"{os.path.relpath(f, sf_dir)}:{st.st_size}:"
                f"{st.st_mtime_ns};".encode()
            )
    return h.hexdigest()[:16]


def get(spark, sf_dir: str, table: str, params: tuple,
        build: Callable[[str], Any]) -> Any:
    """The cached value for ``(sf_dir, table, params)`` in this session;
    on a miss ``build(fingerprint)`` makes it, with the fingerprint the
    key was built from (so persisted indexes record that one)."""
    fingerprint = corpus_fingerprint(sf_dir, table)
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir),
           table, fingerprint, *params)
    while True:
        with _lock:
            if key not in _entries:
                pending = _entries[key] = threading.Event()
                break
            value = _entries[key]
            if not isinstance(value, threading.Event):
                _entries.move_to_end(key)
                return value
        value.wait()
    try:
        value = build(fingerprint)
    except BaseException:
        with _lock:
            if _entries.get(key) is pending:
                del _entries[key]
        pending.set()
        raise
    with _lock:
        _insert(key, value)
    pending.set()
    return value


def _insert(key: tuple, value: Any) -> None:
    app, root, table, fingerprint = key[:4]
    for k in [k for k, v in _entries.items()
              if not isinstance(v, threading.Event)
              and (k[0] != app
                   or (k[1:3] == (root, table) and k[3] != fingerprint))]:
        del _entries[k]
    _entries[key] = value
    _entries.move_to_end(key)
    for k in [k for k, v in _entries.items()
              if not isinstance(v, threading.Event)
              ][:max(0, len(_entries) - MAX_ENTRIES)]:
        del _entries[k]


def clear() -> None:
    """Drop every entry (in-flight builds still finish and insert)."""
    with _lock:
        _entries.clear()
