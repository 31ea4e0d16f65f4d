"""read_delta_changes: decoding a REAL Delta table's Change Data Feed
(`delta.enableChangeDataFeed`, cdc actions + _change_data files — the
public spec) into the native row-level CDC shape (_change_type /
_commit_version), so a foreign table's history is consumable through
the same contract as read_changes(row_level=True)."""

import json
import os

import pytest

import __spark_entry__ as _entry
from dagster_delta_spark import read_delta_changes


def _stage(spark, df, root, rel):
    return _entry._stage_landing_file(df, root, rel)


def _log(root, commits):
    for v, actions in enumerate(commits):
        _entry._write_delta_commit(root, v, actions)


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "id AS a", "CAST(id AS STRING) AS s")


def _cdc_action(root, rel, n):
    full = os.path.join(root, rel)
    return {"cdc": {"path": rel, "partitionValues": {},
                    "size": os.path.getsize(full),
                    "dataChange": False}}


def test_cdf_basic_semantics(spark, tmp_path):
    root = str(tmp_path / "d")
    os.makedirs(root)
    # v0: create with f1 (derived inserts)
    _stage(spark, _df(spark, 0, 4), root, "f1.parquet")
    # v1: UPDATE via cdc files (complete change description — the
    # add/remove in the commit must NOT also contribute)
    upd = spark.sql(
        "SELECT id AS a, CAST(id AS STRING) AS s, "
        "CASE WHEN part = 0 THEN 'update_preimage' "
        "ELSE 'update_postimage' END AS _change_type "
        "FROM (SELECT id, explode(array(0, 1)) AS part "
        "      FROM range(0, 2))")
    _stage(spark, upd, root, "_change_data/cdc-1.parquet")
    _stage(spark, _df(spark, 0, 4), root, "f2.parquet")
    # v2: plain append (derived inserts)
    _stage(spark, _df(spark, 10, 13), root, "f3.parquet")
    # v3: metadata delete of f3 (derived deletes from the file bytes)
    meta = _entry._delta_meta_action(
        _df(spark, 0, 1).schema.json(),
        cfg={"delta.enableChangeDataFeed": "true"})
    _log(root, [
        [_entry._delta_protocol_action(), meta,
         _entry._delta_add_action(root, "f1.parquet", 4)],
        [_cdc_action(root, "_change_data/cdc-1.parquet", 4),
         {"remove": {"path": "f1.parquet", "deletionTimestamp": 1,
                     "dataChange": True}},
         _entry._delta_add_action(root, "f2.parquet", 4)],
        [_entry._delta_add_action(root, "f3.parquet", 3)],
        [{"remove": {"path": "f3.parquet", "deletionTimestamp": 2,
                     "dataChange": True}}],
    ])
    feed = read_delta_changes(spark, root)
    rows = sorted((r["_commit_version"], r["_change_type"], r["a"])
                  for r in feed.collect())
    assert rows == (
        [(0, "insert", i) for i in range(4)]
        + [(1, "update_postimage", i) for i in range(2)]
        + [(1, "update_preimage", i) for i in range(2)]
        + [(2, "insert", i) for i in range(10, 13)]
        + [(3, "delete", i) for i in range(10, 13)])
    # windowing: (1, 2] sees only the v2 inserts
    w = read_delta_changes(spark, root, 1, 2)
    assert sorted(r["a"] for r in w.collect()) == [10, 11, 12]
    # column order matches the native feed contract
    assert feed.columns == ["a", "s", "_change_type",
                            "_commit_version"]


def test_cdf_partitioned_and_compaction(spark, tmp_path):
    root = str(tmp_path / "d")
    os.makedirs(root)
    pdf = spark.range(0, 4).selectExpr("id AS a")
    _stage(spark, pdf.where("a < 2"), root, "p=x/f1.parquet")
    _stage(spark, pdf.where("a >= 2"), root, "p=y/f2.parquet")
    # compacted rewrite of f1 (dataChange=false both sides) must
    # contribute NOTHING
    _stage(spark, pdf.where("a < 2"), root, "p=x/f3.parquet")
    full = pdf.selectExpr("a", "'x' AS p").limit(0)
    meta = _entry._delta_meta_action(full.schema.json(), pcols=["p"])
    add_nc = _entry._delta_add_action(root, "p=x/f3.parquet", 2,
                                      pv={"p": "x"})
    add_nc["add"]["dataChange"] = False
    _log(root, [
        [_entry._delta_protocol_action(), meta,
         _entry._delta_add_action(root, "p=x/f1.parquet", 2,
                                  pv={"p": "x"}),
         _entry._delta_add_action(root, "p=y/f2.parquet", 2,
                                  pv={"p": "y"})],
        [add_nc,
         {"remove": {"path": "p=x/f1.parquet", "deletionTimestamp": 1,
                     "dataChange": False}}],
    ])
    feed = read_delta_changes(spark, root)
    rows = sorted((r["_commit_version"], r["_change_type"], r["a"],
                   r["p"]) for r in feed.collect())
    assert rows == [(0, "insert", 0, "x"), (0, "insert", 1, "x"),
                    (0, "insert", 2, "y"), (0, "insert", 3, "y")]


def test_cdf_refusals(spark, tmp_path):
    # DV-carrying commit without cdc files refuses
    root = str(tmp_path / "dv")
    os.makedirs(root)
    _stage(spark, _df(spark, 0, 4), root, "f1.parquet")
    from dagster_delta_spark import delta_interop

    dv = delta_interop.inline_dv_descriptor([0, 1])
    meta = _entry._delta_meta_action(_df(spark, 0, 1).schema.json())
    _log(root, [
        [{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                       "readerFeatures": ["deletionVectors"],
                       "writerFeatures": ["deletionVectors"]}},
         meta, _entry._delta_add_action(root, "f1.parquet", 4)],
        [_entry._delta_add_action(root, "f1.parquet", 4,
                                  deletionVector=dv)],
    ])
    with pytest.raises(ValueError, match="cdc"):
        read_delta_changes(spark, root)
    # windows BEFORE the DV commit still decode
    assert read_delta_changes(spark, root, -1, 0).count() == 4

    # mid-window schema change refuses; pre-change window decodes
    r2 = str(tmp_path / "ev")
    os.makedirs(r2)
    _stage(spark, _df(spark, 0, 2), r2, "f1.parquet")
    wide = spark.sql("SELECT id AS a, CAST(id AS STRING) AS s, "
                     "id * 2 AS b FROM range(2, 4)")
    _stage(spark, wide, r2, "f2.parquet")
    _log(r2, [
        [_entry._delta_protocol_action(), meta,
         _entry._delta_add_action(r2, "f1.parquet", 2)],
        [_entry._delta_meta_action(wide.schema.json()),
         _entry._delta_add_action(r2, "f2.parquet", 2)],
    ])
    with pytest.raises(ValueError, match="schema"):
        read_delta_changes(spark, r2)
    assert read_delta_changes(spark, r2, -1, 0).count() == 2
    # resuming AFTER the change uses the new schema
    post = read_delta_changes(spark, r2, 0, 1)
    assert "b" in post.columns and post.count() == 2

    # vacuumed change file is a pointed error
    r3 = str(tmp_path / "vac")
    os.makedirs(r3)
    _stage(spark, _df(spark, 0, 2), r3, "f1.parquet")
    _log(r3, [[_entry._delta_protocol_action(), meta,
               _entry._delta_add_action(r3, "f1.parquet", 2)],
              [{"remove": {"path": "gone.parquet",
                           "deletionTimestamp": 1,
                           "dataChange": True}}]])
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        read_delta_changes(spark, r3).collect()

    # mode='id' colmap refuses (mode=name decodes, see
    # test_cdf_column_mapping)
    r4 = str(tmp_path / "cm")
    os.makedirs(r4)
    _stage(spark, _df(spark, 0, 2), r4, "f1.parquet")
    _log(r4, [[_entry._delta_protocol_action(mrv=2, mwv=5),
               _entry._delta_meta_action(
                   _df(spark, 0, 1).schema.json(),
                   cfg={"delta.columnMapping.mode": "id"}),
               _entry._delta_add_action(r4, "f1.parquet", 2)]])
    with pytest.raises(ValueError, match="id"):
        read_delta_changes(spark, r4)


def test_cdf_column_mapping(spark, tmp_path):
    """r15: mode=name column-mapped change feeds decode — physical
    file columns (data AND cdc files) alias back to the logical
    names, and the empty window keeps the logical schema."""
    from pyspark.sql.types import LongType, StringType, StructField, \
        StructType

    root = str(tmp_path / "d")
    os.makedirs(root)
    pdf = spark.range(0, 4).selectExpr(
        "id AS `col-aaaa`", "CAST(id AS STRING) AS `col-bbbb`")
    _stage(spark, pdf, root, "f1.parquet")
    cdc = pdf.where("`col-aaaa` < 2").selectExpr(
        "*", "'delete' AS _change_type")
    _stage(spark, cdc, root, "_change_data/cdc-1.parquet")
    sch = StructType([
        StructField("a", LongType(), True, {
            "delta.columnMapping.id": 1,
            "delta.columnMapping.physicalName": "col-aaaa"}),
        StructField("s", StringType(), True, {
            "delta.columnMapping.id": 2,
            "delta.columnMapping.physicalName": "col-bbbb"}),
    ])
    meta = _entry._delta_meta_action(
        sch.json(), cfg={"delta.columnMapping.mode": "name",
                         "delta.columnMapping.maxColumnId": "2"})
    _log(root, [
        [_entry._delta_protocol_action(mrv=2, mwv=5), meta,
         _entry._delta_add_action(root, "f1.parquet", 4)],
        [{"cdc": {"path": "_change_data/cdc-1.parquet",
                  "partitionValues": {}, "size": 1,
                  "dataChange": False}}],
    ])
    feed = read_delta_changes(spark, root)
    assert feed.columns == ["a", "s", "_change_type",
                            "_commit_version"]
    rows = sorted((r["_commit_version"], r["_change_type"], r["a"],
                   r["s"]) for r in feed.collect())
    assert rows == [(0, "insert", 0, "0"), (0, "insert", 1, "1"),
                    (0, "insert", 2, "2"), (0, "insert", 3, "3"),
                    (1, "delete", 0, "0"), (1, "delete", 1, "1")]
    # an empty window still presents the LOGICAL schema
    empty = read_delta_changes(spark, root, 1, 1)
    assert empty.columns == ["a", "s", "_change_type",
                             "_commit_version"]
    assert empty.count() == 0


def test_cdf_refuses_checkpoint_ahead_of_json_tail(spark, tmp_path):
    """JSON 0..2 plus a checkpoint pointer claiming version 5 (a
    partially-copied log): the JSON understates the head, so the feed
    refuses instead of silently ending at version 2."""
    root = str(tmp_path / "d")
    os.makedirs(root)
    _stage(spark, _df(spark, 0, 2), root, "f1.parquet")
    meta = _entry._delta_meta_action(_df(spark, 0, 1).schema.json())
    _log(root, [[_entry._delta_protocol_action(), meta,
                 _entry._delta_add_action(root, "f1.parquet", 2)],
                [], []])
    with open(os.path.join(root, "_delta_log", "_last_checkpoint"),
              "w") as fh:
        json.dump({"version": 5, "size": 3}, fh)
    with pytest.raises(ValueError, match="ahead of its JSON tail"):
        read_delta_changes(spark, root)


def test_cdf_refuses_unknown_column_mapping_mode(spark, tmp_path):
    """An unknown delta.columnMapping.mode refuses even when no field
    carries a physical name, as convert_from_delta does."""
    root = str(tmp_path / "d")
    os.makedirs(root)
    _stage(spark, _df(spark, 0, 2), root, "f1.parquet")
    _log(root, [[_entry._delta_protocol_action(mrv=2, mwv=5),
                 _entry._delta_meta_action(
                     _df(spark, 0, 1).schema.json(),
                     cfg={"delta.columnMapping.mode": "bogus"}),
                 _entry._delta_add_action(root, "f1.parquet", 2)]])
    with pytest.raises(ValueError, match="columnMapping.mode='bogus'"):
        read_delta_changes(spark, root)
