"""Merge-on-read deletion vectors (table.py delete(use_dv=True))."""

import os

import pytest
from pyspark.sql import functions as F

from dagster_delta_spark import DeltaSparkTable, WriteMode
from dagster_delta_spark import tablelog


def _t(spark, tmp_path, name="t", rows=20, partition_columns=None):
    t = DeltaSparkTable(spark, str(tmp_path / name))
    df = spark.range(rows).select(
        F.col("id"),
        (F.col("id") % 4).cast("string").alias("grp"),
        (F.col("id") * 10).alias("v"),
    ).repartition(2)  # few, multi-row files: deletes match PARTIALLY
    t.write(df, WriteMode.error, partition_columns=partition_columns)
    return t


def _ids(t, **kw):
    return sorted(r["id"] for r in t.read(**kw).select("id").collect())


def test_dv_delete_masks_without_rewrite(spark, tmp_path):
    t = _t(spark, tmp_path)
    before = {a.path for a in t.snapshot().files}
    res = t.delete("id >= 15", use_dv=True)
    assert res["num_deleted_rows"] == 5
    assert res.get("num_deletion_vectors", 0) >= 1
    assert _ids(t) == list(range(15))
    snap = t.snapshot()
    assert {a.path for a in snap.files} == before  # same physical files
    dv = [a for a in snap.files if a.dv_path]
    assert dv and all(a.num_records > a.live_records for a in dv)
    # the sidecar actually exists under _dv/
    for a in dv:
        assert os.path.exists(os.path.join(t.table_uri, a.dv_path))


def test_dv_matches_rewrite_delete(spark, tmp_path):
    a = _t(spark, tmp_path, "a")
    b = _t(spark, tmp_path, "b")
    a.delete("id % 3 = 0", use_dv=True)
    b.delete("id % 3 = 0")
    assert _ids(a) == _ids(b)


def test_successive_dvs_union_and_full_drop(spark, tmp_path):
    t = _t(spark, tmp_path, rows=10)
    t.delete("id < 3", use_dv=True)
    t.delete("id >= 7", use_dv=True)  # unions into a fresh sidecar
    assert _ids(t) == [3, 4, 5, 6]
    assert sum(a.dv_count for a in t.snapshot().files) == 6
    # deleting every remaining live row drops the file as metadata
    res = t.delete("id >= 0", use_dv=True)
    assert res["num_deleted_rows"] == 4
    assert t.snapshot().files == [] and _ids(t) == []


def test_time_travel_and_restore_across_dv(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.delete("id < 5", use_dv=True)  # v1
    assert _ids(t, version=0) == list(range(20))
    assert _ids(t) == list(range(5, 20))
    t.restore(0)  # value-aware diff must re-publish the no-DV entry
    assert _ids(t) == list(range(20))
    t.restore(1)  # and forward again onto the DV'd entry
    assert _ids(t) == list(range(5, 20))


def test_dv_on_partitioned_table(spark, tmp_path):
    """Path identity must survive hive partition directories."""
    t = _t(spark, tmp_path, partition_columns=["grp"])
    t.delete("id = 6 OR id = 13", use_dv=True)
    assert _ids(t) == [i for i in range(20) if i not in (6, 13)]
    assert _ids(t, dnf=[("grp", "=", "2")]) == [2, 10, 14, 18]


def test_update_and_merge_see_only_live_rows(spark, tmp_path):
    from dagster_delta_spark import MergeConfig, MergeType

    t = _t(spark, tmp_path, rows=10)
    t.delete("id >= 8", use_dv=True)
    t.update({"v": "v + 1"}, "id >= 0")  # full-scope update
    rows = {r["id"]: r["v"] for r in t.read().collect()}
    assert rows == {i: i * 10 + 1 for i in range(8)}  # 8,9 not resurrected
    src = spark.range(8, 12).select(
        "id", F.lit("x").alias("grp"), F.lit(0).cast("long").alias("v"))
    t.merge(src, MergeConfig(MergeType.upsert, predicate="s.id = t.id"))
    assert sorted(r["id"] for r in t.read().collect()) == list(range(12))
    # 8..11 are inserts (not updates of masked rows)
    inserted = {r["id"]: r["grp"] for r in t.read().where("id >= 8").collect()}
    assert set(inserted.values()) == {"x"}


def test_optimize_compacts_dv_away(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.delete("id % 2 = 0", use_dv=True)
    t.optimize()
    snap = t.snapshot()
    assert all(a.dv_path is None for a in snap.files)
    assert _ids(t) == [i for i in range(20) if i % 2]


def test_dv_survives_checkpoint(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tablelog, "CHECKPOINT_INTERVAL", 2)
    t = _t(spark, tmp_path)
    t.delete("id < 4", use_dv=True)               # v1
    t.write(spark.range(20, 25).select(
        "id", (F.col("id") % 4).cast("string").alias("grp"),
        (F.col("id") * 10).alias("v")), WriteMode.append)  # v2 -> checkpoint
    tablelog._SNAPSHOT_CACHE.clear()
    assert _ids(t) == list(range(4, 25))
    assert any(a.dv_path for a in t.snapshot().files)


def test_cdc_and_streaming_treat_dv_delete_as_rewrite(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.delete("id < 5", use_dv=True)
    with pytest.raises(ValueError, match="rewrite"):
        t.read_changes(0)
    # file-level feed emits only LIVE rows of the re-added file
    rows = sorted(r["id"] for r in t.read_changes(
        0, allow_rewrites=True).collect())
    assert rows == list(range(5, 20))


def test_clone_carries_and_localizes_dvs(spark, tmp_path):
    src = _t(spark, tmp_path, "src")
    src.delete("id >= 18", use_dv=True)
    clone = src.clone(str(tmp_path / "clone"))
    assert _ids(clone) == list(range(18))
    # clone-local DV on top of the source's: source must not change
    clone.delete("id < 2", use_dv=True)
    assert _ids(clone) == list(range(2, 18))
    assert _ids(src) == list(range(18))
    dv = [a for a in clone.snapshot().files if a.dv_path]
    assert dv and all(a.dv_base is None for a in dv)  # localized sidecar
    assert all(a.base is not None for a in dv)        # foreign data


def test_vacuum_reclaims_superseded_dvs(spark, tmp_path):
    """A second DV delete supersedes the first sidecar; vacuum(0) must
    reclaim it, keep the live one, and a restore across the vacuumed
    DV must raise loudly."""
    t = _t(spark, tmp_path)
    t.delete("id < 3", use_dv=True)   # v1: sidecar A
    t.delete("id < 6", use_dv=True)   # v2: sidecar B (folds A in)
    live = {a.dv_path for a in t.snapshot().files if a.dv_path}
    gone = t.vacuum(retention_ms=0)
    assert any(d.startswith("_dv") for d in gone)
    for rel in live:
        assert os.path.exists(os.path.join(t.table_uri, rel))
    assert _ids(t) == list(range(6, 20))  # live mask intact
    with pytest.raises(FileNotFoundError, match="no longer on disk"):
        t.restore(1)  # its sidecar was vacuumed
    t.restore(0)  # no-DV version restores fine
    assert _ids(t) == list(range(20))


def test_dv_update_masks_and_appends(spark, tmp_path):
    """Merge-on-read UPDATE: matched rows masked via DV, updated
    copies appended; result equals the rewrite-flavored update."""
    a = _t(spark, tmp_path, "a")
    b = _t(spark, tmp_path, "b")
    before = {x.path for x in a.snapshot().files}
    res = a.update({"v": "v + 1"}, "id % 5 = 0", use_dv=True)
    b.update({"v": "v + 1"}, "id % 5 = 0")
    got = sorted((r["id"], r["v"]) for r in a.read().collect())
    want = sorted((r["id"], r["v"]) for r in b.read().collect())
    assert got == want and res["num_updated_rows"] == 4
    snap = a.snapshot()
    assert before <= {x.path for x in snap.files}  # originals kept
    assert any(x.dv_path for x in snap.files)      # masked, not copied
    assert res.get("num_deletion_vectors", 0) >= 1
    # stacking: DV delete on a DV-updated table stays consistent
    a.delete("v >= 150", use_dv=True)
    assert sorted(r["id"] for r in a.read().collect()) == [
        i for i in range(20)
        if (i * 10 + (1 if i % 5 == 0 else 0)) < 150]


def test_stats_report_live_records(spark, tmp_path):
    t = _t(spark, tmp_path)
    t.delete("id < 10", use_dv=True)
    assert t.describe_detail()["numRecords"] == 10


def test_dv_dml_single_scan(spark, tmp_path, monkeypatch):
    """Scan and job traffic of every DML flavour, pinned.  A DV
    flavour reads the candidate files exactly ONCE: discovery
    positions, hit counts, the sidecar and UPDATE's new rows all
    derive from one checkpointed scan.  A copy flavour reads them
    twice: one counting discovery, one rewrite read of the touched
    files.  Spark jobs are counted in the operation's own job group
    and may only go down."""
    calls = []
    orig = DeltaSparkTable._read_files

    def spy(self, snap, files, *a, **kw):
        calls.append(len(list(files)))
        return orig(self, snap, files, *a, **kw)

    monkeypatch.setattr(DeltaSparkTable, "_read_files", spy)
    sc = spark.sparkContext

    def src(ids):
        return spark.createDataFrame(
            [(i, str(i % 4), -i) for i in ids], "id long, grp string, v long")

    flavours = {
        "delete": lambda t, dv: t.delete("id % 5 = 1", use_dv=dv),
        "update": lambda t, dv: t.update(
            {"v": "v + 1"}, "id % 5 = 1", use_dv=dv),
        "replace_where": lambda t, dv: t.replace_where(
            src([1, 6, 11, 16]), "id % 5 = 1", use_dv=dv),
    }
    # (_read_files calls, at most this many Spark jobs)
    want = {("delete", False): (2, 3), ("delete", True): (1, 5),
            ("update", False): (2, 3), ("update", True): (1, 6),
            ("replace_where", False): (2, 8),
            ("replace_where", True): (1, 10)}
    for name, run in flavours.items():
        for dv in (False, True):
            t = _t(spark, tmp_path, f"{name}-{dv}")
            group = f"dml-pin-{name}-{dv}"
            calls.clear()
            sc.setJobGroup(group, group)
            try:
                run(t, dv)
            finally:
                for key in ("spark.jobGroup.id", "spark.job.description",
                            "spark.job.interruptOnCancel"):
                    sc.setLocalProperty(key, None)
            jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            reads, max_jobs = want[(name, dv)]
            assert len(calls) == reads, (name, dv, calls)
            assert jobs <= max_jobs, (name, dv, jobs)
            rows = {r["id"]: r["v"] for r in t.read().collect()}
            hit = {1, 6, 11, 16}
            if name == "delete":
                assert rows == {i: i * 10 for i in range(20) if i not in hit}
            elif name == "update":
                assert rows == {i: i * 10 + (i in hit) for i in range(20)}
            else:
                assert rows == {i: -i if i in hit else i * 10
                                for i in range(20)}
