"""Write-mode contracts (reference fixture A1/A2: dd tests
test_type_handler.py:49-66, ddp test_type_handler_save_modes.py)."""

import pytest

from dagster_delta_spark import (
    DeltaSparkTable,
    SchemaMode,
    SchemaMismatchError,
    TableExistsError,
    WriteMode,
)


def two_col(spark):
    return spark.createDataFrame([(1, 4), (2, 5), (3, 6)], "a bigint, b bigint")


def test_write_read_roundtrip(spark, tmp_table):
    """Reference test_type_handler.py:49-66: a_df -> read -> goldens."""
    t = DeltaSparkTable(spark, tmp_table)
    t.write(two_col(spark), WriteMode.overwrite)
    out = t.read()
    assert sorted(r["a"] for r in out.collect()) == [1, 2, 3]
    assert sorted(r["b"] for r in out.collect()) == [4, 5, 6]


def test_downstream_transform(spark, tmp_table):
    """Downstream asset writes a+1 -> [2,3,4] (test_type_handler.py:38-47)."""
    from pyspark.sql import functions as F

    t = DeltaSparkTable(spark, tmp_table)
    t.write(two_col(spark), WriteMode.overwrite)
    t2 = DeltaSparkTable(spark, tmp_table + "_b")
    t2.write(t.read().select((F.col("a") + 1).alias("a")), WriteMode.overwrite)
    assert sorted(r["a"] for r in t2.read().collect()) == [2, 3, 4]


def test_overwrite_rerun_idempotent(spark, tmp_table):
    """Re-materialization keeps goldens (test_type_handler.py:49-66)."""
    t = DeltaSparkTable(spark, tmp_table)
    for _ in range(3):
        t.write(two_col(spark), WriteMode.overwrite)
    assert t.read().count() == 3
    assert sorted(r["a"] for r in t.read().collect()) == [1, 2, 3]


def test_append_doubles_rows(spark, tmp_table):
    """Append doubles rows per run (save_modes.py:64-81)."""
    t = DeltaSparkTable(spark, tmp_table)
    t.write(two_col(spark), WriteMode.append)
    t.write(two_col(spark), WriteMode.append)
    assert t.read().count() == 6


def test_ignore_keeps_version_zero(spark, tmp_table):
    """Ignore: version stays 0 after 5 runs (save_modes.py:84-100)."""
    t = DeltaSparkTable(spark, tmp_table)
    t.write(two_col(spark), WriteMode.ignore)
    for _ in range(4):
        t.write(two_col(spark), WriteMode.ignore)
    assert t.version() == 0
    assert t.read().count() == 3


def test_error_mode_raises(spark, tmp_table):
    t = DeltaSparkTable(spark, tmp_table)
    t.write(two_col(spark), WriteMode.error)
    with pytest.raises(TableExistsError):
        t.write(two_col(spark), WriteMode.error)


def test_create_or_replace_schema_only(spark, tmp_table):
    """W5 writes schema, no data (reference handler.py:226-235)."""
    t = DeltaSparkTable(spark, tmp_table)
    t.write(two_col(spark), WriteMode.overwrite)
    new_schema_df = spark.createDataFrame([], "x string, y double")
    t.write(new_schema_df, WriteMode.create_or_replace)
    assert t.read().count() == 0
    assert t.read().schema.simpleString() == "struct<x:string,y:double>"


def test_schema_mismatch_raises_without_mode(spark, tmp_table):
    t = DeltaSparkTable(spark, tmp_table)
    t.write(two_col(spark), WriteMode.overwrite)
    other = spark.createDataFrame([(1, "x")], "a bigint, c string")
    with pytest.raises(SchemaMismatchError):
        t.write(other, WriteMode.append)


def test_merge_schema_evolution(spark, tmp_table):
    """schema_mode=append == Spark mergeSchema: new col, old rows null."""
    t = DeltaSparkTable(spark, tmp_table)
    t.write(two_col(spark), WriteMode.overwrite)
    other = spark.createDataFrame([(9, "x")], "a bigint, c string")
    t.write(other, WriteMode.append, schema_mode=SchemaMode.append)
    out = t.read()
    assert set(out.columns) == {"a", "b", "c"}
    assert out.where("c IS NULL").count() == 3
    assert out.where("b IS NULL").count() == 1


def test_overwrite_schema(spark, tmp_table):
    """schema_mode=overwrite == Spark overwriteSchema."""
    t = DeltaSparkTable(spark, tmp_table)
    t.write(two_col(spark), WriteMode.overwrite)
    other = spark.createDataFrame([("x", 1.5)], "s string, d double")
    t.write(other, WriteMode.overwrite, schema_mode=SchemaMode.overwrite)
    assert t.read().schema.simpleString() == "struct<s:string,d:double>"
    assert t.read().count() == 1


def test_time_travel_versions(spark, tmp_table):
    """A2 contract: version=0 returns pre-append contents."""
    t = DeltaSparkTable(spark, tmp_table)
    t.write(two_col(spark), WriteMode.overwrite)
    t.write(two_col(spark), WriteMode.append)
    assert t.read(version=0).count() == 3
    assert t.read(version=1).count() == 6
    assert t.read().count() == 6


def test_overwrite_dnf_non_partition_column_raises(spark, tmp_table):
    """A scoped overwrite whose predicate references a non-partition
    column must raise — stats-based file matching would silently delete
    rows that don't satisfy the predicate."""
    import pytest

    from pyspark.sql import functions as F

    t = DeltaSparkTable(spark, tmp_table)
    df = spark.range(10).select(
        F.col("id"), (F.col("id") % 2).alias("bucket")
    )
    t.write(df, WriteMode.error, partition_columns=["bucket"])
    with pytest.raises(ValueError, match="non-partition"):
        t.write(
            df.where("bucket = 0"),
            WriteMode.overwrite,
            partition_dnf=[("id", "<", 5)],
        )


def test_overwrite_dnf_string_literal_on_int_partition(spark, tmp_table):
    """A string-typed DNF literal against a bigint partition column
    must cast and match (SQL implicit-cast semantics).  Regression:
    ``1 == "1"`` is False in Python, so the driver-side pruning
    silently matched NO files and the partition overwrite became a
    duplicate-creating append."""
    from pyspark.sql import functions as F

    t = DeltaSparkTable(spark, tmp_table)
    df = spark.range(90).select(
        F.col("id"), (F.col("id") % 3).alias("bucket")
    )
    t.write(df, WriteMode.error, partition_columns=["bucket"])
    res = t.write(
        df.where("bucket = 1").withColumn("id", F.col("id") + 1000),
        WriteMode.overwrite,
        partition_dnf=[("bucket", "=", "1")],  # str literal, int column
    )
    assert res["num_removed_files"] > 0
    out = t.read()
    assert out.count() == 90
    assert out.where("bucket = 1 AND id < 1000").count() == 0

    # unparseable literal is a loud error, not an empty match
    import pytest

    with pytest.raises(ValueError, match="castable"):
        t.write(
            df.where("bucket = 2"),
            WriteMode.overwrite,
            partition_dnf=[("bucket", "=", "two")],
        )


def test_many_file_write_stats_from_driver_footers(spark, tmp_table):
    """A 40-file commit harvests its AddFile stats (numRecords,
    min/max) from the footers on the driver: the write's job group
    holds only the staging write's jobs, no harvest job, and the table
    reads back exactly."""
    import os

    from dagster_delta_spark.table import _footer_stats

    n_files = 40
    df = spark.range(4000).repartition(n_files)
    sc = spark.sparkContext

    def jobs_of(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    staging_jobs = jobs_of("stage-only", lambda: df.write.mode(
        "overwrite").parquet(tmp_table + "_plain"))
    t = DeltaSparkTable(spark, tmp_table)
    assert jobs_of("table-write", lambda: t.write(
        df, WriteMode.error)) == staging_jobs

    snap = t.snapshot()
    assert len(snap.files) == n_files
    total = 0
    for a in snap.files:
        num_rows, stats = _footer_stats(os.path.join(tmp_table, a.path))
        assert a.num_records == num_rows
        assert a.stats["minValues"] == stats["minValues"]
        assert a.stats["maxValues"] == stats["maxValues"]
        total += num_rows
    assert total == 4000
    assert t.read().count() == 4000


# -- incremental reads (read_changes) ---------------------------------------


def test_read_changes_appends_only_new_rows(spark, tmp_table):
    t = DeltaSparkTable(spark, tmp_table)
    t.write(two_col(spark), WriteMode.error)                          # v0
    t.write(spark.createDataFrame([(7, 8)], "a bigint, b bigint"),
            WriteMode.append)                                          # v1
    t.write(spark.createDataFrame([(9, 10)], "a bigint, b bigint"),
            WriteMode.append)                                          # v2
    got = {(r["a"], r["_commit_version"])
           for r in t.read_changes(0).collect()}
    assert got == {(7, 1), (9, 2)}
    # inclusive-from-the-beginning feed picks up the initial create
    assert {r["a"] for r in t.read_changes(-1).collect()} == {1, 2, 3, 7, 9}
    # bounded range
    assert {r["a"] for r in t.read_changes(0, 1).collect()} == {7}
    # empty range -> empty frame, schema carries the version column
    empty = t.read_changes(2)
    assert empty.count() == 0 and "_commit_version" in empty.columns


def test_read_changes_rejects_rewrites_unless_opted_in(spark, tmp_table):
    t = DeltaSparkTable(spark, tmp_table)
    t.write(two_col(spark), WriteMode.error)                          # v0
    t.write(spark.createDataFrame([(7, 8)], "a bigint, b bigint"),
            WriteMode.overwrite)                                       # v1
    with pytest.raises(ValueError, match="rewrite"):
        t.read_changes(0)
    # file-level feed on request: the overwrite's added file comes out
    assert {r["a"] for r in t.read_changes(0, allow_rewrites=True)
            .collect()} == {7}


def test_read_changes_skips_compaction_commits(spark, tmp_table):
    t = DeltaSparkTable(spark, tmp_table)
    t.write(two_col(spark), WriteMode.error)                          # v0
    for i in range(3):                                                # v1-v3
        t.write(spark.createDataFrame([(10 + i, 0)], "a bigint, b bigint"),
                WriteMode.append)
    t.optimize()                                                      # v4
    t.write(spark.createDataFrame([(99, 0)], "a bigint, b bigint"),
            WriteMode.append)                                         # v5
    got = {(r["a"], r["_commit_version"]) for r in t.read_changes(3).collect()}
    assert got == {(99, 5)}, "compaction rows must not re-emit"


def test_read_changes_partitioned_appends(spark, tmp_table):
    """Partition columns (hive-encoded in paths) survive the
    incremental read of added files."""
    t = DeltaSparkTable(spark, tmp_table)
    df0 = spark.createDataFrame([(1, "x"), (2, "y")], "a bigint, p string")
    t.write(df0, WriteMode.error, partition_columns=["p"])             # v0
    t.write(spark.createDataFrame([(3, "x")], "a bigint, p string"),
            WriteMode.append)                                          # v1
    got = {(r["a"], r["p"], r["_commit_version"])
           for r in t.read_changes(0).collect()}
    assert got == {(3, "x", 1)}
    full = {(r["a"], r["p"]) for r in t.read_changes(-1).collect()}
    assert full == {(1, "x"), (2, "y"), (3, "x")}


def test_decimal_column_write_harvest(spark, tmp_path):
    """Regression (r15): pyarrow 16.x raises ArrowNotImplementedError
    extracting min/max statistics for DECIMAL columns even with
    has_min_max=True — the stats harvest must degrade to no min/max
    for the column (costs skipping, never the write).  Surfaced by
    the typeWidening drive; the synthetic testdata stores money as
    DOUBLE, so no suite fixture had ever staged a real decimal."""
    from dagster_delta_spark import DeltaSparkTable, WriteMode

    t = DeltaSparkTable(spark, str(tmp_path / "t"))
    df = spark.sql(
        "SELECT CAST(id AS BIGINT) AS a, "
        "CAST(id + 0.25 AS DECIMAL(12,2)) AS m FROM range(0, 5)")
    t.write(df.coalesce(1), WriteMode.overwrite)
    assert t.read().count() == 5
    f = t.snapshot().files[0]
    # numRecords + the bigint column's stats survive; the decimal
    # column simply has no min/max entry
    assert f.num_records == 5
    assert "a" in f.stats.get("minValues", {})
    assert "m" not in f.stats.get("minValues", {})
    # appends + reads + DML all work over the decimal column
    t.write(df.where("a < 2"), WriteMode.append)
    assert t.read().where("m > 3").count() == 2
    t.delete("a = 0")
    assert t.read().count() == 5
