"""The optimistic transaction every table-layer commit goes through
(table.py ``Transaction``): bounded retries with ``attempts`` and
``executionTimeMs`` in ``operationMetrics``, and each declared
conflict check fired by a commit that loses its version to a rival."""

import json
import time

import pytest

from dagster_delta_spark import DeltaSparkTable, WriteMode
from dagster_delta_spark import tablelog
from dagster_delta_spark.config import MergeConfig, MergeType
from dagster_delta_spark.table import _COMMIT_RETRIES, TableExistsError
from dagster_delta_spark.tablelog import (
    ConcurrentAppendError,
    ConcurrentDeleteError,
    VersionConflictError,
)

SCHEMA = "k long, p string, v double"


def _rows(spark, *keys):
    return spark.createDataFrame(
        [(k, "a" if k % 2 else "b", float(k)) for k in keys], SCHEMA)


def _fail_commits(monkeypatch, n):
    """The next ``n`` commits lose their version; backoff never sleeps."""
    real = tablelog.commit
    left = {"n": n}

    def flaky(uri, version, actions, snapshot):
        if left["n"] > 0:
            left["n"] -= 1
            raise VersionConflictError("injected")
        return real(uri, version, actions, snapshot)

    monkeypatch.setattr(tablelog, "commit", flaky)
    monkeypatch.setattr(time, "sleep", lambda s: None)


def _race(monkeypatch, rival):
    """The first commit loses its version to ``rival()``, which
    commits for real before the loser retries."""
    real = tablelog.commit
    state = {"armed": True}

    def racing(uri, version, actions, snapshot):
        if state["armed"]:
            state["armed"] = False
            rival()
            raise VersionConflictError("injected race")
        return real(uri, version, actions, snapshot)

    monkeypatch.setattr(tablelog, "commit", racing)


OPS = {
    "append": lambda t, df: t.write(df, WriteMode.append),
    "overwrite": lambda t, df: t.write(df, WriteMode.overwrite),
    "partition_overwrite": lambda t, df: t.write(
        df.where("p = 'a'"), WriteMode.overwrite,
        partition_dnf=[("p", "=", "a")]),
    "merge": lambda t, df: t.merge(
        df, MergeConfig(MergeType.upsert, predicate="s.k = t.k")),
    "create_or_replace": lambda t, df: t.write(
        df, WriteMode.create_or_replace),
    "idempotent_append": lambda t, df: t.idempotent_append(df, "app", 0),
    "delete": lambda t, df: t.delete("k = 1"),
}


@pytest.mark.parametrize("op", sorted(OPS))
def test_retries_are_bounded_and_recorded(spark, tmp_path, monkeypatch, op):
    t = DeltaSparkTable(spark, str(tmp_path / "t"))
    t.write(_rows(spark, 1, 2, 3), WriteMode.error, partition_columns=["p"])
    df = _rows(spark, 1, 4)

    _fail_commits(monkeypatch, _COMMIT_RETRIES + 1)
    with pytest.raises(VersionConflictError):
        OPS[op](t, df)
    assert t.version() == 0  # nothing published

    _fail_commits(monkeypatch, 2)
    OPS[op](t, df)
    assert t.version() == 1
    metrics = t.history(1)[0]["operationMetrics"]
    assert metrics["attempts"] == 3
    assert metrics["executionTimeMs"] >= 0


def test_commits_record_added_and_removed_bytes(spark, tmp_path):
    """``num_added_bytes``/``num_removed_bytes`` in ``operationMetrics``
    are the summed sizes of the files each commit adds and removes."""
    t = DeltaSparkTable(spark, str(tmp_path / "t"))
    # one file per partition, so the delete rewrites one
    t.write(_rows(spark, *range(8)).coalesce(1), WriteMode.error,
            partition_columns=["p"])
    t.merge(_rows(spark, 1, 3, 20),
            MergeConfig(MergeType.upsert, predicate="s.k = t.k"))
    t.delete("k = 2")
    sizes = [{a.log_key: a.size for a in t.snapshot(v).files}
             for v in range(3)]
    before: dict = {}
    for entry in reversed(t.history()):
        after = sizes[entry["version"]]
        metrics = entry["operationMetrics"]
        assert metrics["num_added_bytes"] == sum(
            after[k] for k in after.keys() - before.keys()) > 0
        assert metrics["num_removed_bytes"] == sum(
            before[k] for k in before.keys() - after.keys())
        before = after
    assert t.history(1)[0]["operationMetrics"]["num_removed_bytes"] > 0


def test_append_refuses_a_table_created_partitioned_meanwhile(
    spark, tmp_path, monkeypatch
):
    """Staged unpartitioned, the append must not replace the winner's
    partition columns (the winner's rows would read ``p = None``)."""
    uri = str(tmp_path / "t")
    _race(monkeypatch, lambda: DeltaSparkTable(spark, uri).write(
        _rows(spark, 1), WriteMode.error, partition_columns=["p"]))
    with pytest.raises(ConcurrentAppendError, match="partition columns"):
        DeltaSparkTable(spark, uri).write(_rows(spark, 2), WriteMode.append)
    t = DeltaSparkTable(spark, uri)
    assert t.snapshot().partition_columns == ["p"]
    assert [(r["k"], r["p"]) for r in t.read().collect()] == [(1, "a")]


def test_idempotent_append_refuses_a_table_created_partitioned_meanwhile(
    spark, tmp_path, monkeypatch
):
    """An unpartitioned file committed under partitioned metadata
    vanishes from reads; the batch must refuse instead."""
    uri = str(tmp_path / "t")
    _race(monkeypatch, lambda: DeltaSparkTable(spark, uri).write(
        _rows(spark, 1), WriteMode.error, partition_columns=["p"]))
    with pytest.raises(ConcurrentAppendError, match="partition columns"):
        DeltaSparkTable(spark, uri).idempotent_append(
            _rows(spark, 2), "app", 0)
    t = DeltaSparkTable(spark, uri)
    assert [r["k"] for r in t.read().collect()] == [1]
    assert t.last_txn_version("app") is None


def test_idempotent_append_refuses_a_concurrent_schema_change(
    spark, tmp_path, monkeypatch
):
    uri = str(tmp_path / "t")
    t = DeltaSparkTable(spark, uri)
    t.write(_rows(spark, 1), WriteMode.error)
    _race(monkeypatch, lambda: DeltaSparkTable(spark, uri).add_columns(
        {"extra": "string"}))
    with pytest.raises(ConcurrentAppendError, match="schema"):
        t.idempotent_append(_rows(spark, 2), "app", 0)
    assert t.read().count() == 1


def test_merge_refuses_a_concurrent_repartition(spark, tmp_path, monkeypatch):
    """An insert-only merge removes no files and the rival's keys are
    disjoint, so only the layout check stands between the staged
    ``p``-partitioned files and a table now partitioned by ``v``."""
    uri = str(tmp_path / "t")
    t = DeltaSparkTable(spark, uri)
    t.write(_rows(spark, 1, 2), WriteMode.error, partition_columns=["p"])
    _race(monkeypatch, lambda: DeltaSparkTable(spark, uri).write(
        _rows(spark, 100), WriteMode.overwrite, partition_columns=["v"]))
    with pytest.raises(ConcurrentAppendError, match="partition columns"):
        t.merge(_rows(spark, 50), MergeConfig(
            MergeType.deduplicate_insert, predicate="s.k = t.k"))
    assert [r["k"] for r in t.read().collect()] == [100]


@pytest.mark.parametrize("mode", [WriteMode.error, WriteMode.ignore])
def test_create_modes_lose_to_a_concurrent_create(
    spark, tmp_path, monkeypatch, mode
):
    uri = str(tmp_path / "t")
    _race(monkeypatch, lambda: DeltaSparkTable(spark, uri).write(
        _rows(spark, 1), WriteMode.error))
    t = DeltaSparkTable(spark, uri)
    if mode == WriteMode.error:
        with pytest.raises(TableExistsError):
            t.write(_rows(spark, 2), mode)
    else:
        res = t.write(_rows(spark, 2), mode)
        assert res == {"mode": "ignore", "version": 0, "skipped": True}
    assert [r["k"] for r in t.read().collect()] == [1]


def test_replayed_batch_racing_its_twin_lands_once(
    spark, tmp_path, monkeypatch
):
    uri = str(tmp_path / "t")
    t = DeltaSparkTable(spark, uri)
    t.write(_rows(spark, 1), WriteMode.error)
    _race(monkeypatch, lambda: DeltaSparkTable(spark, uri).idempotent_append(
        _rows(spark, 2), "app", 0))
    res = t.idempotent_append(_rows(spark, 2), "app", 0)
    assert res == {"version": 1, "skipped": True, "num_output_rows": 0}
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2]


def test_idempotent_append_refuses_a_concurrent_identity_allocation(
    spark, tmp_path, monkeypatch
):
    uri = str(tmp_path / "t")
    cfg = {"dds.identityColumns": json.dumps({"rid": {}})}
    df = spark.createDataFrame([(1,)], "k long")
    t = DeltaSparkTable(spark, uri)
    t.write(df, WriteMode.error, table_configuration=cfg)
    _race(monkeypatch, lambda: DeltaSparkTable(spark, uri).write(
        df, WriteMode.append))
    with pytest.raises(ConcurrentAppendError, match="identity mark"):
        t.idempotent_append(df, "app", 0)
    assert sorted(r["rid"] for r in t.read().collect()) == [1, 2]


@pytest.mark.parametrize("op", ["merge", "create_or_replace"])
def test_freeze_racing_commit_refuses(spark, tmp_path, monkeypatch, op):
    uri = str(tmp_path / "t")
    t = DeltaSparkTable(spark, uri)
    t.write(_rows(spark, 1, 2), WriteMode.error, partition_columns=["p"])
    _race(monkeypatch, lambda: DeltaSparkTable(spark, uri).set_properties(
        {"dds.appendOnly": "true"}))
    with pytest.raises(ValueError, match="append-only"):
        OPS[op](t, _rows(spark, 1, 4))
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2]


def test_rewrite_refuses_files_removed_concurrently(
    spark, tmp_path, monkeypatch
):
    uri = str(tmp_path / "t")
    t = DeltaSparkTable(spark, uri)
    t.write(_rows(spark, 1, 2).coalesce(1), WriteMode.error)
    _race(monkeypatch, lambda: DeltaSparkTable(spark, uri).write(
        _rows(spark, 7), WriteMode.overwrite))
    with pytest.raises(ConcurrentDeleteError):
        t.delete("k = 1")  # a partial file: copy-rewrite
    assert [r["k"] for r in t.read().collect()] == [7]
