"""Arbitrary-predicate replaceWhere (table.py:replace_where) — the
Databricks Delta replaceWhere that accepts any column: atomic
delete-matching + insert in one commit, with write conformance."""

import json

import pytest
from pyspark.sql import functions as F

from dagster_delta_spark import DeltaSparkTable, WriteMode
from dagster_delta_spark import tablelog


def _base(spark, tmp_table, rows=None):
    t = DeltaSparkTable(spark, tmp_table)
    df = spark.createDataFrame(
        rows or [(i, i % 10, float(i)) for i in range(100)],
        "k bigint, g bigint, v double")
    t.write(df.repartition(4), WriteMode.error)
    return t


def test_replace_where_atomic_slice_swap(spark, tmp_table):
    t = _base(spark, tmp_table)
    repl = spark.createDataFrame(
        [(1000 + i, i, -1.0) for i in range(3)],
        "k bigint, g bigint, v double")
    res = t.replace_where(repl, "g < 3")
    assert res["num_deleted_rows"] == 30  # 100 rows, g in {0,1,2}
    assert res["num_inserted_rows"] == 3
    assert t.version() == 1  # ONE commit — the atomicity claim
    assert tablelog.history(t.table_uri, 1)[0]["operation"] \
        == "REPLACE WHERE"
    out = t.read()
    assert out.where(F.col("g") < 3).count() == 3
    assert set(r["k"] for r in out.where(F.col("g") < 3).collect()) \
        == {1000, 1001, 1002}
    assert out.where(F.col("g") >= 3).count() == 70  # untouched slice
    # time travel still shows the pre-swap slice
    assert t.read(version=0).where(F.col("g") < 3).count() == 30


def test_replace_where_conformance_refuses_stray_rows(spark, tmp_table):
    t = _base(spark, tmp_table)
    stray = spark.createDataFrame([(1, 7, 0.0)], "k bigint, g bigint, v double")
    with pytest.raises(ValueError, match="must all match"):
        t.replace_where(stray, "g < 3")
    assert t.version() == 0  # nothing committed, nothing staged live


def test_replace_where_null_predicate_rows(spark, tmp_table):
    """NULL predicate results: non-matching on both sides — an
    incoming NULL row refuses, an existing NULL row survives."""
    t = DeltaSparkTable(spark, tmp_table)
    t.write(spark.createDataFrame(
        [(1, 1.0), (2, None), (3, 9.0)], "k bigint, v double"),
        WriteMode.error)
    with pytest.raises(ValueError, match="must all match"):
        t.replace_where(
            spark.createDataFrame([(9, None)], "k bigint, v double"),
            "v < 5")
    t.replace_where(
        spark.createDataFrame([(10, 2.0)], "k bigint, v double"), "v < 5")
    out = {r["k"]: r["v"] for r in t.read().collect()}
    assert out == {2: None, 3: 9.0, 10: 2.0}  # NULL row kept, k=1 replaced


def test_replace_where_fully_matched_files_drop_as_metadata(spark, tmp_table):
    """Clustered layout: files fully inside the predicate drop without
    copying a single row."""
    t = DeltaSparkTable(spark, tmp_table)
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "k bigint, v double")
    t.write(df, WriteMode.error, cluster_by=["k"], cluster_files=10)
    repl = spark.createDataFrame(
        [(5, -5.0)], "k bigint, v double")
    res = t.replace_where(repl, "k < 10")  # exactly file 1 of 10
    assert res["num_deleted_rows"] == 10
    assert res["num_copied_rows"] == 0  # no partial file -> pure metadata
    assert t.read().count() == 91


def test_replace_where_dv_flavor(spark, tmp_table):
    t = _base(spark, tmp_table)
    repl = spark.createDataFrame(
        [(2000, 0, 42.0)], "k bigint, g bigint, v double")
    res = t.replace_where(repl, "g = 0", use_dv=True)
    assert res["num_copied_rows"] == 0  # masks instead of copies
    out = t.read()
    assert out.where(F.col("g") == 0).count() == 1
    assert out.count() == 91
    snap = t.snapshot()
    assert any(a.dv_path for a in snap.files)


def test_replace_where_is_a_rewrite_for_feeds(spark, tmp_table):
    t = _base(spark, tmp_table)
    t.replace_where(
        spark.createDataFrame([(1, 0, 0.0)], "k bigint, g bigint, v double"),
        "g = 0")
    with pytest.raises(ValueError, match="rewrite|REPLACE"):
        t.read_changes(0).count()
    # file-level CDC with explicit opt-in still works
    assert t.read_changes(0, allow_rewrites=True).count() > 0


def test_replace_where_identity_refuses_and_empty_predicate(spark, tmp_table):
    cfg = {"dds.identityColumns": json.dumps({"rid": {}})}
    t = DeltaSparkTable(spark, tmp_table)
    t.write(spark.createDataFrame([(1,)], "k bigint"),
            WriteMode.error, table_configuration=cfg)
    with pytest.raises(ValueError, match="identity"):
        t.replace_where(spark.createDataFrame([(2,)], "k bigint"), "k = 1")
    with pytest.raises(ValueError, match="non-empty predicate"):
        t.replace_where(spark.createDataFrame([(2,)], "k bigint"), "  ")


def test_replace_where_generated_columns(spark, tmp_table):
    cfg = {"dds.generatedColumns": json.dumps({"d": "k * 2"})}
    t = DeltaSparkTable(spark, tmp_table)
    t.write(spark.createDataFrame([(1,), (2,)], "k bigint"),
            WriteMode.error, table_configuration=cfg)
    t.replace_where(spark.createDataFrame([(10,)], "k bigint"), "k >= 2")
    out = {r["k"]: r["d"] for r in t.read().collect()}
    assert out == {1: 2, 10: 20}  # absent generated col computed on insert
    from dagster_delta_spark.table import GeneratedColumnViolationError
    with pytest.raises(GeneratedColumnViolationError, match="generated"):
        t.replace_where(
            spark.createDataFrame([(5, 11)], "k bigint, d bigint"), "k >= 2")


def test_replace_where_noop_commits_nothing(spark, tmp_table):
    """Zero matches + empty replacement: no commit — an empty REWRITE
    version would force every incremental consumer to rebuild for a
    no-op (review finding r10; delete() guards the same way)."""
    t = _base(spark, tmp_table)
    empty = spark.createDataFrame([], "k bigint, g bigint, v double")
    res = t.replace_where(empty, "g = 99")
    assert t.version() == 0 and res["num_deleted_rows"] == 0
    # feeds keep working — no rewrite was published
    assert t.read_changes(-1).count() == 100


def test_replace_where_dry_run_reports_without_committing(spark,
                                                          tmp_table):
    t = _base(spark, tmp_table)
    repl = spark.createDataFrame(
        [(1000 + i, i, -1.0) for i in range(3)],
        "k bigint, g bigint, v double")
    res = t.replace_where(repl, "g < 3", dry_run=True)
    assert res["dry_run"] is True
    assert res["num_deleted_rows"] == 30
    assert res["num_inserted_rows"] == 3
    # g = k % 10 is scattered across all 4 files: every file is a
    # partial rewrite carrying its 70 keep-rows, none drops whole
    assert res["num_copied_rows"] == 70
    assert res["full_file_drops"] == 0
    assert res["partial_rewrites"] == 4
    assert res["full_file_drops"] + res["partial_rewrites"] \
        == res["num_removed_files"]
    assert res["mode"] == "copy"
    # NOTHING moved: same version, same contents
    assert t.version() == 0
    assert t.read().count() == 100
    # dv flavor reports its mode
    res = t.replace_where(repl, "g < 3", dry_run=True, use_dv=True)
    assert res["mode"] == "deletion_vector"
    assert t.version() == 0
    # the real run then matches the dry report
    real = t.replace_where(repl, "g < 3")
    assert real["num_deleted_rows"] == 30
    assert real["num_inserted_rows"] == 3


def test_replace_where_dry_run_still_validates(spark, tmp_table):
    t = _base(spark, tmp_table)
    stray = spark.createDataFrame([(1, 7, 0.0)],
                                  "k bigint, g bigint, v double")
    with pytest.raises(ValueError, match="must all match"):
        t.replace_where(stray, "g < 3", dry_run=True)
    # no-op dry run reports and commits nothing
    empty = spark.createDataFrame([], "k bigint, g bigint, v double")
    res = t.replace_where(empty, "g = 999", dry_run=True)
    assert res.get("dry_run") is True
    assert res["num_deleted_rows"] == 0
    assert t.version() == 0


def test_replace_where_refuses_mistyped_input(spark, tmp_table):
    """An input column whose type differs from the table's refuses,
    in both modes, before anything is staged: ``int`` keys would
    otherwise land as int32 files inside the ``bigint`` table."""
    from dagster_delta_spark.table import SchemaMismatchError

    t = _base(spark, tmp_table)
    narrow = spark.createDataFrame([(1000, 1, -1.0)],
                                   "k int, g bigint, v double")
    for use_dv in (False, True):
        with pytest.raises(SchemaMismatchError, match="k"):
            t.replace_where(narrow, "g < 3", use_dv=use_dv)
    with pytest.raises(SchemaMismatchError):
        t.replace_where(spark.createDataFrame(
            [(1000, "1")], "k bigint, g string"), "g < 3")
    assert t.version() == 0
    # matching types (and an omitted column, null-filled) still commit
    t.replace_where(spark.createDataFrame([(1000, 1)], "k bigint, g bigint"),
                    "g < 3")
    assert t.version() == 1
