"""The operators' one session cache: single-flight builds, failed
builds, the entry bound, and several queries sharing it from threads
of one SparkSession."""

import random
import sys
import threading
import time
from types import SimpleNamespace

import pytest

from dagster_delta_spark.operators import session_cache


def _session(app: str = "app-1"):
    """Stands in for a SparkSession: the cache reads only the app id."""
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))


@pytest.fixture(autouse=True)
def _empty_cache():
    session_cache.clear()
    yield
    session_cache.clear()


def test_concurrent_misses_build_once(tmp_path):
    spark, calls = _session(), []
    start = threading.Barrier(8)
    results = [None] * 8

    def build(fingerprint):
        calls.append(fingerprint)
        time.sleep(0.3)  # every thread misses while this build runs
        return object()

    def worker(i):
        start.wait()
        results[i] = session_cache.get(spark, str(tmp_path), "t", ("p",),
                                       build)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
        assert not t.is_alive()
    assert len(calls) == 1
    assert all(r is results[0] for r in results)
    assert calls[0] == session_cache.corpus_fingerprint(str(tmp_path), "t")


def test_failed_build_leaves_no_entry_and_wakes_waiters(tmp_path):
    spark, sf = _session(), str(tmp_path)
    building, release, calls = threading.Event(), threading.Event(), []

    def failing(_fp):
        calls.append("fail")
        building.set()
        assert release.wait(timeout=30)
        raise RuntimeError("build failed")

    def working(_fp):
        calls.append("ok")
        return "value"

    errors, got = [], []

    def first():
        try:
            session_cache.get(spark, sf, "t", (), failing)
        except RuntimeError as exc:
            errors.append(exc)

    t1 = threading.Thread(target=first)
    t1.start()
    assert building.wait(timeout=30)
    # a second miss on the same key waits for the running build
    t2 = threading.Thread(
        target=lambda: got.append(session_cache.get(spark, sf, "t", (),
                                                    working)))
    t2.start()
    time.sleep(0.2)
    assert calls == ["fail"]
    release.set()
    for t in (t1, t2):
        t.join(timeout=30)
        assert not t.is_alive()
    assert len(errors) == 1
    # the waiter woke and built the value itself
    assert got == ["value"] and calls == ["fail", "ok"]

    # a failed build with no waiter leaves no entry: the next get builds
    session_cache.clear()
    with pytest.raises(ZeroDivisionError):
        session_cache.get(spark, sf, "t", (), lambda _fp: 1 / 0)
    assert not session_cache._entries
    assert session_cache.get(spark, sf, "t", (), working) == "value"
    assert calls[-1] == "ok" and len(calls) == 3


def test_entry_bound_drops_least_recently_used(tmp_path):
    spark = _session()
    dirs = [str(tmp_path / f"d{i}") for i in range(session_cache.MAX_ENTRIES + 1)]
    for d in dirs[:-1]:
        session_cache.get(spark, d, "t", (), lambda _fp, d=d: d)
    assert session_cache.get(spark, dirs[0], "t", (), None) == dirs[0]  # hit
    session_cache.get(spark, dirs[-1], "t", (), lambda _fp: dirs[-1])
    assert len(session_cache._entries) == session_cache.MAX_ENTRIES
    cached = {k[1] for k in session_cache._entries}
    assert dirs[1] not in cached  # least recently used
    assert dirs[0] in cached and dirs[-1] in cached


def test_insert_drops_other_sessions_and_superseded_fingerprints(tmp_path):
    sf = str(tmp_path)
    session_cache.get(_session("old"), sf, "t", (), lambda _fp: 1)
    session_cache.get(_session("new"), sf, "other", (), lambda _fp: 2)
    assert {k[0] for k in session_cache._entries} == {"new"}

    (tmp_path / "t.parquet").write_bytes(b"v1")
    session_cache.get(_session("new"), sf, "t", ("a",), lambda _fp: 3)
    (tmp_path / "t.parquet").write_bytes(b"v2 longer")
    session_cache.get(_session("new"), sf, "t", ("b",), lambda _fp: 4)
    same_table = [k for k in session_cache._entries if k[2] == "t"]
    assert [k[4:] for k in same_table] == [("b",)]
    # the entry for another table of the same dir stays
    assert any(k[2] == "other" for k in session_cache._entries)


def test_threads_churning_past_the_bound(tmp_path):
    """More threads than cores hit 300 directories (past the bound, so
    inserts evict while others read) with a short switch interval:
    every get returns its own key's value and the bound holds."""
    spark = _session()
    dirs = [str(tmp_path / f"d{i}") for i in range(300)]
    errors = []

    def worker(seed):
        order = dirs[:]
        random.Random(seed).shuffle(order)
        try:
            for d in order:
                got = session_cache.get(spark, d, "t", (),
                                        lambda _fp, d=d: d)
                assert got == d
        except Exception as exc:  # reported below, not lost in the thread
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,))
                   for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(old)
    assert errors == []
    assert len(session_cache._entries) <= session_cache.MAX_ENTRIES


#: queries() entries whose corpus-side state the session cache shares
#: (shingle stream, signatures, LSH buckets, IVF/PQ/PCA indexes, the
#: bigram LM, BPE merges, loaded frames)
_SHARED = (
    "minhash_lsh_near_dups", "minhash_cluster_keep", "simhash_near_dups",
    "ann_lsh_topk", "ann_ivf_topk", "ann_ivf_quantized_topk",
    "ann_ivf_pq_topk", "bigram_perplexity", "ccnet_perplexity_buckets",
    "bpe_token_stats", "embedding_pca_project",
)


def test_concurrent_queries_share_the_cache(spark, monkeypatch, tmp_path):
    """Entries that share cached state, run from four threads of one
    session on a cold cache, each match their DuckDB oracle.
    ``bpe_token_stats`` has no oracle (its merge loop is not
    SQL-expressible); it is compared with a serial run on a cold
    cache instead."""
    import importlib.util
    import os
    from concurrent.futures import ThreadPoolExecutor

    import duckdb

    import __spark_entry__ as entry

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_oracles", os.path.join(root, "tools", "check_oracles.py"))
    gate = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gate)

    monkeypatch.setenv("DDS_INDEX_DIR", str(tmp_path))
    sf = "/root/testdata/sf0.001"
    qs, oracles = entry.queries(), entry.oracle_sql()
    conf = {k: spark.conf.get(k) for k in
            ("spark.sql.shuffle.partitions", "spark.sql.session.timeZone")}

    def run(name):
        df = qs[name](spark, sf)
        return df.columns, [tuple(r) for r in df.collect()]

    with ThreadPoolExecutor(4) as pool:
        got = dict(zip(_SHARED, pool.map(run, _SHARED)))
    assert {k: spark.conf.get(k) for k in conf} == conf

    def by_name(cols, rows):
        idx = sorted(range(len(cols)), key=lambda i: cols[i])
        return gate.canon([tuple(r[i] for i in idx) for r in rows])

    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    session_cache.clear()
    mismatched = []
    for name, (cols, rows) in got.items():
        if name in oracles:
            res = con.sql(oracles[name])
            want_cols, want_rows = res.columns, res.fetchall()
        else:
            want_cols, want_rows = run(name)
        a, b = by_name(cols, rows), by_name(want_cols, want_rows)
        if (sorted(cols) != sorted(want_cols) or len(a) != len(b)
                or (a != b and not gate._rows_close(a, b))):
            mismatched.append(name)
    assert mismatched == []
