"""CONVERT TO DELTA analogue (table.py:convert_to_table): register an
existing parquet directory as a transactional table IN PLACE — data
files untouched, one version-0 commit of harvested metadata."""

import os

import pytest
from pyspark.sql import functions as F

from dagster_delta_spark import (
    DeltaSparkTable,
    TableExistsError,
    WriteMode,
    convert_to_table,
)


def _plain_dir(spark, d, partitioned=False, rows=100):
    df = spark.range(rows).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("string").alias("g"),
        (F.col("id") * 1.5).alias("v"))
    w = df.repartition(3).write.mode("overwrite")
    if partitioned:
        w = w.partitionBy("g")
    w.parquet(d)
    # drop Spark's _SUCCESS marker noise? leave it — conversion must
    # skip _/.-prefixed files on its own
    return df


def test_convert_flat_directory(spark, tmp_path):
    d = str(tmp_path / "plain")
    _plain_dir(spark, d)
    before = {
        f: os.stat(os.path.join(d, f)).st_mtime_ns
        for f in os.listdir(d) if f.endswith(".parquet")
    }
    convert_to_table(spark, d)
    t = DeltaSparkTable(spark, d)
    # in place: version 0, same files, untouched mtimes
    assert t.version() == 0
    assert t.read().count() == 100
    after = {
        f: os.stat(os.path.join(d, f)).st_mtime_ns
        for f in os.listdir(d) if f.endswith(".parquet")
    }
    assert after == before
    # it is a full table now: append + time travel + delete work
    t.write(spark.range(100, 110).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("string").alias("g"),
        (F.col("id") * 1.5).alias("v")), WriteMode.append)
    assert t.read().count() == 110 and t.read(version=0).count() == 100
    t.delete("k >= 105")
    assert t.read().count() == 105


def test_convert_partitioned_directory_prunes(spark, tmp_path):
    d = str(tmp_path / "part")
    _plain_dir(spark, d, partitioned=True)
    convert_to_table(spark, d)
    t = DeltaSparkTable(spark, d)
    snap = t.snapshot()
    assert list(snap.partition_columns) == ["g"]
    # hive values decoded; pruning touches only the matching slice
    pruned = t.pruned_files(snap, [("g", "=", "1")])
    assert 0 < len(pruned) < len(snap.files)
    assert all(f.partition_values["g"] == "1" for f in pruned)
    assert t.read(dnf=[("g", "=", "1")]).count() == 25
    # partition-scoped overwrite behaves like a born-transactional one
    repl = spark.range(1000, 1003).select(
        F.col("id").alias("k"), F.lit("1").alias("g"),
        F.lit(0.0).alias("v"))
    t.write(repl, WriteMode.overwrite, partition_dnf=[("g", "=", "1")])
    assert t.read().count() == 78
    assert t.read(version=0).count() == 100


def test_convert_explicit_partition_columns_validated(spark, tmp_path):
    d = str(tmp_path / "part2")
    _plain_dir(spark, d, partitioned=True)
    with pytest.raises(ValueError, match="do not match"):
        convert_to_table(spark, d, partition_columns=["k"])
    convert_to_table(spark, d, partition_columns=["g"])
    t = DeltaSparkTable(spark, d)
    assert t.read().count() == 100


def test_convert_refusals_and_dry_run(spark, tmp_path):
    d = str(tmp_path / "r")
    _plain_dir(spark, d)
    res = convert_to_table(spark, d, dry_run=True)
    assert res["dry_run"] and res["num_rows"] == 100
    assert res["partition_columns"] == []
    assert not DeltaSparkTable(spark, d).exists()
    convert_to_table(spark, d)
    t = DeltaSparkTable(spark, d)
    with pytest.raises(TableExistsError, match="transaction log"):
        convert_to_table(spark, d)
    with pytest.raises(FileNotFoundError):
        convert_to_table(spark, str(tmp_path / "nope"))
    e = str(tmp_path / "empty")
    os.makedirs(e)
    with pytest.raises(ValueError, match="no parquet files"):
        convert_to_table(spark, e)


def test_convert_ragged_layout_refuses(spark, tmp_path):
    d = str(tmp_path / "ragged")
    _plain_dir(spark, d, partitioned=True)
    # drop a stray flat file at the root: mixed depths must refuse
    stray = spark.range(3).select(
        F.col("id").alias("k"), F.lit("9").alias("g"),
        F.lit(0.0).alias("v"))
    import __spark_entry__ as entry
    entry._stage_landing_file(stray, d, "stray.parquet")
    with pytest.raises(ValueError, match="ragged|non-hive"):
        convert_to_table(spark, d)


def test_convert_stats_enable_skipping(spark, tmp_path):
    d = str(tmp_path / "stats")
    # three files with disjoint k ranges
    for i in range(3):
        df = spark.range(i * 100, (i + 1) * 100).select(
            F.col("id").alias("k"))
        import __spark_entry__ as entry
        entry._stage_landing_file(df, d, f"f{i}.parquet")
    convert_to_table(spark, d)
    t = DeltaSparkTable(spark, d)
    pruned = t.pruned_files(t.snapshot(), [("k", "=", 250)])
    assert len(pruned) == 1
    # and a point delete's discovery uses the harvested stats too
    t.delete("k = 250")
    assert t.read().count() == 299


def test_convert_partition_schema_types(spark, tmp_path):
    d = str(tmp_path / "typed")
    df = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("year"))
    df.write.mode("overwrite").partitionBy("year").parquet(d)
    convert_to_table(spark, d, partition_schema={"year": "bigint"})
    t = DeltaSparkTable(spark, d)
    sch = dict(t.read().dtypes)
    assert sch["year"] == "bigint"
    assert t.read(dnf=[("year", "=", 1)]).count() == 10
    # naming a non-partition column refuses
    d2 = str(tmp_path / "typed2")
    df.write.mode("overwrite").partitionBy("year").parquet(d2)
    with pytest.raises(ValueError, match="non-partition"):
        convert_to_table(spark, d2, partition_schema={"k": "int"})


def test_convert_feeds_cdc_and_streaming_consumers(spark, tmp_path):
    """A converted table's version-0 CONVERT commit classifies as an
    append (like a created table's WRITE error), so incremental
    consumers see the onboarded rows as inserts and later appends
    flow normally."""
    from dagster_delta_spark import tablelog

    d = str(tmp_path / "cdc")
    _plain_dir(spark, d, rows=40)
    convert_to_table(spark, d)
    t = DeltaSparkTable(spark, d)
    assert tablelog.classify_commit("CONVERT") == "append"
    first = t.read_changes(-1, 0)
    assert first.count() == 40
    assert set(r["_commit_version"] for r in
               first.select("_commit_version").distinct().collect()) \
        == {0}
    t.write(spark.range(100, 105).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("string").alias("g"),
        (F.col("id") * 1.5).alias("v")), WriteMode.append)
    assert t.read_changes(0, 1).count() == 5
    # row-level CDC decodes the converted history too
    rl = t.read_changes(0, 1, row_level=True)
    assert set(r["_change_type"] for r in
               rl.select("_change_type").distinct().collect()) \
        == {"insert"}


def test_convert_then_deletion_vectors_and_optimize(spark, tmp_path):
    """Merge-on-read DVs, OPTIMIZE and vacuum all work on a converted
    table — the onboarded files are ordinary table-local AddFiles."""
    d = str(tmp_path / "dv")
    _plain_dir(spark, d, rows=60)
    convert_to_table(spark, d)
    t = DeltaSparkTable(spark, d)
    t.delete("k >= 50", use_dv=True)
    assert t.read().count() == 50
    assert any(f.dv_path for f in t.snapshot().files)
    t.optimize(target_file_size=1 << 20)  # compacts the DV away
    assert t.read().count() == 50
    assert not any(f.dv_path for f in t.snapshot().files)
    t.vacuum(retention_ms=0)
    assert t.read().count() == 50


def test_convert_validation_surface(spark, tmp_path):
    """Review-hardened validation: machinery config keys refuse (row
    semantics were never checked), schema drift refuses, dup partition
    columns refuse, bloom spec validates on dry_run too."""
    import __spark_entry__ as entry

    d = str(tmp_path / "val")
    _plain_dir(spark, d, rows=10)
    # machinery keys can't ride a conversion
    for bad in ({"dds.identityColumns": '{"id": {}}'},
                {"dds.constraints.c1": "k > 0"},
                {"dds.notNullColumns": '["k"]'},
                {"dds.columnMapping": "{}"}):
        with pytest.raises(ValueError, match="convert time"):
            convert_to_table(spark, d, table_configuration=bad)
    # malformed operational knobs fail at convert time, not later
    with pytest.raises(ValueError):
        convert_to_table(spark, d, table_configuration={
            "dds.autoCompact": "true",
            "dds.autoCompact.minFiles": "soon"})
    with pytest.raises(ValueError, match="non-negative"):
        convert_to_table(spark, d, table_configuration={
            "dds.cdcRetainVersions": "-3"})
    # bloom spec on a missing column refuses even on dry_run
    with pytest.raises(ValueError):
        convert_to_table(spark, d, dry_run=True, table_configuration={
            "dds.bloomFilterColumns": '{"nope": {}}'})
    assert not DeltaSparkTable(spark, d).exists()

    # cross-file schema drift refuses
    d2 = str(tmp_path / "drift")
    entry._stage_landing_file(
        spark.range(5).select(F.col("id").alias("k")), d2, "a.parquet")
    entry._stage_landing_file(
        spark.range(5).select(F.col("id").alias("k"),
                              F.lit(1.0).alias("w")), d2, "b.parquet")
    with pytest.raises(ValueError, match="different schemas"):
        convert_to_table(spark, d2)

    # a partition column that ALSO lives inside the files refuses
    d3 = str(tmp_path / "collide")
    os.makedirs(os.path.join(d3, "g=1"))
    entry._stage_landing_file(
        spark.range(5).select(F.col("id").alias("k"),
                              F.lit("1").alias("g")),
        os.path.join(d3, "g=1"), "a.parquet")
    with pytest.raises(ValueError, match="also exist INSIDE"):
        convert_to_table(spark, d3)

    # a valid bloom spec DOES convert and probes
    d4 = str(tmp_path / "bloomed")
    _plain_dir(spark, d4, rows=30)
    convert_to_table(spark, d4, table_configuration={
        "dds.bloomFilterColumns": '{"k": {}}'})
    t = DeltaSparkTable(spark, d4)
    assert t.read(dnf=[("k", "=", 7)]).count() == 1


def test_convert_hidden_dir_rule_matches_spark(spark, tmp_path):
    """Conversion's directory walk mirrors Spark's EXACT hidden-dir
    rule (r12): dot-prefixed dirs skip even with '=' in the name
    ('.tmp=1' — a stray hidden dir must neither refuse as ragged nor
    ingest files Spark never reads), but '_col=...' hive dirs are
    REAL partition directories Spark does read — skipping them would
    silently drop a '_'-named partition column's data."""
    d = str(tmp_path / "part")
    _plain_dir(spark, d, partitioned=True)
    expected = spark.read.parquet(d).count()
    hd = os.path.join(d, ".tmp=1")
    os.makedirs(hd)
    spark.range(5).select(
        F.col("id").alias("zz")).coalesce(1).write.mode(
        "overwrite").parquet(os.path.join(hd, "inner"))
    convert_to_table(spark, d)
    t = DeltaSparkTable(spark, d)
    assert t.read().count() == expected == 100
    assert list(t.snapshot().partition_columns) == ["g"]
    assert not any(f.path.startswith(("_", "."))
                   for f in t.snapshot().files)

    # underscore partition column: Spark reads it, so convert must too
    d2 = str(tmp_path / "upart")
    df = spark.range(40).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("_g"))
    df.write.partitionBy("_g").parquet(d2)
    assert spark.read.parquet(d2).count() == 40  # Spark's own rule
    convert_to_table(spark, d2)
    t2 = DeltaSparkTable(spark, d2)
    assert t2.read().count() == 40
    assert list(t2.snapshot().partition_columns) == ["_g"]


def test_convert_many_files_harvests_on_the_driver(spark, tmp_path):
    """A 40-file directory converts with per-file numRecords and
    min/max from each footer (one bloom-indexed column too), and one
    drifted file among 40 refuses the conversion."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "many")
    os.makedirs(d)
    for i in range(40):  # file i holds k in [100 i, 100 i + i]
        pq.write_table(pa.table({
            "k": pa.array(range(100 * i, 100 * i + i + 1), pa.int64()),
            "s": [f"s{i}"] * (i + 1)}), os.path.join(d, f"f{i:02d}.parquet"))
    drift = str(tmp_path / "drift")
    os.makedirs(drift)
    for name in os.listdir(d):
        os.link(os.path.join(d, name), os.path.join(drift, name))
    convert_to_table(spark, d, table_configuration={
        "dds.bloomFilterColumns": '{"s": {}}'})
    t = DeltaSparkTable(spark, d)
    files = {a.path: a for a in t.snapshot().files}
    assert len(files) == 40
    for i in range(40):
        a = files[f"f{i:02d}.parquet"]
        assert a.num_records == i + 1
        assert a.stats["minValues"] == {"k": 100 * i, "s": f"s{i}"}
        assert a.stats["maxValues"] == {"k": 100 * i + i, "s": f"s{i}"}
        assert a.stats["nullCount"] == {"k": 0, "s": 0}
        assert set(a.stats["bloom"]) == {"s"}
    assert t.read().count() == sum(range(1, 41))
    assert t.read(dnf=[("s", "=", "s7")]).count() == 8
    assert len(t.pruned_files(t.snapshot(), [("k", "=", 3905)])) == 1

    pq.write_table(pa.table({"k": pa.array([1], pa.int32()), "s": ["x"]}),
                   os.path.join(drift, "f40.parquet"))
    with pytest.raises(ValueError, match="2 different schemas"):
        convert_to_table(spark, drift)
    assert not DeltaSparkTable(spark, drift).exists()
