"""MERGE contracts (reference: dd tests test_type_handler_merge.py,
handler.py:70-120)."""

from pyspark.sql import functions as F

from dagster_delta_spark import (
    DeltaSparkTable,
    MergeConfig,
    MergeType,
    WriteMode,
)


def two_col(spark):
    return spark.createDataFrame([(1, 4), (2, 5), (3, 6)], "a bigint, b bigint")


def test_upsert_idempotent(spark, tmp_table):
    """Merge upsert on 's.a = t.a' is idempotent across reruns
    (test_type_handler_merge.py:36-66)."""
    t = DeltaSparkTable(spark, tmp_table)
    cfg = MergeConfig(MergeType.upsert, predicate="s.a = t.a")
    for _ in range(3):
        t.merge(two_col(spark), cfg)
    rows = sorted((r["a"], r["b"]) for r in t.read().collect())
    assert rows == [(1, 4), (2, 5), (3, 6)]


def test_dedup_insert_idempotent(spark, tmp_table):
    t = DeltaSparkTable(spark, tmp_table)
    cfg = MergeConfig(MergeType.deduplicate_insert, predicate="s.a = t.a")
    for _ in range(3):
        t.merge(two_col(spark), cfg)
    assert t.read().count() == 3


def test_update_only_no_inserts(spark, tmp_table):
    t = DeltaSparkTable(spark, tmp_table)
    t.write(two_col(spark), WriteMode.overwrite)
    src = spark.createDataFrame([(2, 50), (9, 90)], "a bigint, b bigint")
    t.merge(src, MergeConfig(MergeType.update_only, predicate="s.a = t.a"))
    rows = dict((r["a"], r["b"]) for r in t.read().collect())
    assert rows == {1: 4, 2: 50, 3: 6}  # 9 not inserted


def test_upsert_updates_and_inserts(spark, tmp_table):
    t = DeltaSparkTable(spark, tmp_table)
    t.write(two_col(spark), WriteMode.overwrite)
    src = spark.createDataFrame([(2, 50), (9, 90)], "a bigint, b bigint")
    t.merge(src, MergeConfig(MergeType.upsert, predicate="s.a = t.a"))
    rows = dict((r["a"], r["b"]) for r in t.read().collect())
    assert rows == {1: 4, 2: 50, 3: 6, 9: 90}


def test_replace_delete_unmatched(spark, tmp_table):
    """M4: matched rows updated, unmatched target rows deleted."""
    t = DeltaSparkTable(spark, tmp_table)
    t.write(two_col(spark), WriteMode.overwrite)
    src = spark.createDataFrame([(2, 50)], "a bigint, b bigint")
    t.merge(src, MergeConfig(MergeType.replace_delete_unmatched,
                             predicate="s.a = t.a"))
    rows = [(r["a"], r["b"]) for r in t.read().collect()]
    assert rows == [(2, 50)]


def test_merge_auto_creates_target(spark, tmp_table):
    """W6 auto-create of missing target (handler.py:241-252)."""
    t = DeltaSparkTable(spark, tmp_table)
    assert not t.exists()
    t.merge(two_col(spark), MergeConfig(MergeType.upsert, predicate="s.a = t.a"))
    assert t.exists()
    assert t.read().count() == 3


def test_merge_partition_narrowing(spark, tmp_table):
    """M5: partition predicate ANDed into the merge condition — rows in
    other partitions are untouched by upsert."""
    t = DeltaSparkTable(spark, tmp_table)
    df = spark.createDataFrame(
        [("red", 1, 10), ("blue", 2, 20)], "color string, k bigint, v bigint"
    )
    t.write(df, WriteMode.overwrite, partition_columns=["color"])
    src = spark.createDataFrame([("red", 1, 99)], "color string, k bigint, v bigint")
    t.merge(
        src,
        MergeConfig(MergeType.upsert, predicate="s.k = t.k"),
        partition_dnf=[("color", "=", "red")],
    )
    rows = dict((r["k"], r["v"]) for r in t.read().collect())
    assert rows == {1: 99, 2: 20}


def test_merge_custom_aliases(spark, tmp_table):
    t = DeltaSparkTable(spark, tmp_table)
    t.write(two_col(spark), WriteMode.overwrite)
    src = spark.createDataFrame([(1, 100)], "a bigint, b bigint")
    t.merge(src, MergeConfig(
        MergeType.update_only, predicate="src.a = tgt.a",
        source_alias="src", target_alias="tgt",
    ))
    rows = dict((r["a"], r["b"]) for r in t.read().collect())
    assert rows[1] == 100


def test_merge_rewrites_only_touched_files(spark, tmp_table):
    """Scale contract: files without matching keys are carried over,
    not rewritten."""
    t = DeltaSparkTable(spark, tmp_table)
    df = spark.createDataFrame([(i, i) for i in range(100)], "a bigint, b bigint")
    t.write(df.repartition(8), WriteMode.overwrite)
    before = {a.path for a in t.snapshot().files}
    src = spark.createDataFrame([(1, 999)], "a bigint, b bigint")
    t.merge(src, MergeConfig(MergeType.upsert, predicate="s.a = t.a"))
    after = {a.path for a in t.snapshot().files}
    assert len(before & after) >= len(before) - 2  # most files untouched
    assert t.read().where("a = 1").collect()[0]["b"] == 999


def test_merge_metrics_in_history(spark, tmp_table):
    t = DeltaSparkTable(spark, tmp_table)
    t.write(two_col(spark), WriteMode.overwrite)
    src = spark.createDataFrame([(2, 50), (9, 90)], "a bigint, b bigint")
    t.merge(src, MergeConfig(MergeType.upsert, predicate="s.a = t.a"))
    h = t.history(1)[0]
    assert h["operation"] == "MERGE"
    assert h["operationMetrics"]["num_output_rows"] >= 2


def test_merge_multiple_source_matches_raises(spark, tmp_table):
    """A target row matched by >1 source row raises the delta-rs
    cardinality violation instead of silently duplicating it."""
    import pytest

    from dagster_delta_spark import MergeMultipleMatchesError

    t = DeltaSparkTable(spark, tmp_table)
    t.write(two_col(spark), WriteMode.error)
    dup_source = spark.createDataFrame(
        [(1, 40), (1, 41)], "a bigint, b bigint"
    )
    with pytest.raises(MergeMultipleMatchesError):
        t.merge(dup_source, MergeConfig(MergeType.upsert, predicate="s.a = t.a"))


def test_merge_type_values_match_reference_enum():
    """String values round-trip reference metadata (config.py:190-216),
    and the legacy shorthand is still accepted."""
    assert MergeType("replace_and_delete_unmatched") is MergeType.replace_delete_unmatched
    assert MergeType("replace_delete_unmatched") is MergeType.replace_delete_unmatched
    assert MergeType("upsert") is MergeType.upsert


def test_merge_on_partitioned_target_with_colliding_basenames(spark, tmp_table):
    """Partitioned writes name files identically across partition dirs;
    merge must key discovery on full paths or it mis-scopes the rewrite
    and false-triggers the cardinality error."""
    from pyspark.sql import functions as F

    t = DeltaSparkTable(spark, tmp_table)
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "a", 30), (4, "b", 40)],
        "k bigint, p string, v bigint",
    ).coalesce(1)  # one task -> same basename in both partition dirs
    t.write(df, WriteMode.error, partition_columns=["p"])
    names = {p.split("/")[-1] for p in (a.path for a in t.snapshot().files)}
    assert len(names) < len(t.snapshot().files), "fixture should collide"

    src = spark.createDataFrame(
        [(1, "a", 100), (2, "b", 200)], "k bigint, p string, v bigint"
    )
    t.merge(src, MergeConfig(MergeType.upsert, predicate="s.k = t.k"))
    out = sorted((r.k, r.p, r.v) for r in t.read().collect())
    assert out == [(1, "a", 100), (2, "b", 200), (3, "a", 30), (4, "b", 40)]


def test_merge_clustered_source_prunes_files(spark, tmp_table):
    """Discovery-join file pruning pays off when the source is
    clustered to the table's layout: an upsert whose keys span ~5% of
    the key range must rewrite only the files covering that range, not
    the whole table (rewrite cost ∝ touched fraction — docs/SCALE.md).
    Contrast: a key-uniform source of the same size touches every
    file."""
    t = DeltaSparkTable(spark, tmp_table)
    n, files = 100_000, 20
    base = spark.range(n).selectExpr("id AS k", "id * 2 AS v")
    t.write(base, WriteMode.error, cluster_by=["k"], cluster_files=files)
    n_files = len(t.snapshot().files)
    assert n_files >= files - 2  # range-clustered layout materialized

    # clustered source: 5000 consecutive keys (~1/20 of the range).
    # Instrument _read_files: stats pruning must shrink the DISCOVERY
    # scan itself (first _read_files call), not just the rewrite set.
    scanned = []
    orig_read = DeltaSparkTable._read_files

    def counting_read(self, snap, files, **kw):
        scanned.append(len(files))
        return orig_read(self, snap, files, **kw)

    clustered = spark.range(5_000).selectExpr("id AS k", "id + 7 AS v")
    try:
        DeltaSparkTable._read_files = counting_read
        res = t.merge(clustered,
                      MergeConfig(MergeType.upsert, predicate="s.k = t.k"))
    finally:
        DeltaSparkTable._read_files = orig_read
    touched_frac = res["num_removed_files"] / n_files
    assert touched_frac <= 0.25, (res["num_removed_files"], n_files)
    assert scanned[0] <= n_files * 0.25, (scanned, n_files)
    assert t.read().count() == n

    # uniform source of the same size: every file has matches
    uniform = spark.range(5_000).selectExpr(
        f"id * {n // 5_000} AS k", "id AS v"
    )
    res2 = t.merge(uniform, MergeConfig(MergeType.upsert, predicate="s.k = t.k"))
    assert res2["num_removed_files"] >= n_files - 2


def test_merge_not_predicate_disables_pruning(spark, tmp_table):
    """An equality under NOT means out-of-range rows DO match; key
    extraction must bail so no candidate file is mis-pruned (the
    skip-no-op-updates predicate shape)."""
    from dagster_delta_spark.table import _merge_equi_keys

    assert _merge_equi_keys(
        "t.k = s.k AND NOT (t.x = s.x AND t.y = s.y)", "t", "s"
    ) == []

    t = DeltaSparkTable(spark, tmp_table)
    n, files = 20_000, 10
    t.write(spark.range(n).selectExpr("id AS k", "id AS x", "id AS y"),
            WriteMode.error, cluster_by=["k"], cluster_files=files)
    # source matches ALL keys; NOT(...) is true wherever x/y changed —
    # here y is shifted for keys outside the source's own y range, the
    # exact rows a naive y-bounds prune would drop
    src = spark.range(n).selectExpr(
        "id AS k", "id AS x", "id + 1000000 AS y")
    t.merge(src, MergeConfig(
        MergeType.upsert,
        predicate="t.k = s.k AND NOT (t.x = s.x AND t.y = s.y)"))
    out = t.read()
    assert out.count() == n
    assert out.where("y < 1000000").count() == 0  # every row updated


def test_merge_backslash_partition_value_updates_in_place(spark, tmp_table):
    """A partition-scoped upsert into a partition whose value holds a
    backslash (or a quote after one) updates the existing row: the
    scope's SQL literal must escape Spark's escape character, or the
    narrowed condition matches nothing and the row is duplicated."""
    t = DeltaSparkTable(spark, tmp_table)
    parts = ["C:\\data", "a\\'b"]
    t.write(spark.createDataFrame([(p, 1, 10) for p in parts],
                                  "p string, k bigint, v bigint"),
            WriteMode.overwrite, partition_columns=["p"])
    cfg = MergeConfig(MergeType.upsert, predicate="s.k = t.k")
    for p in parts:
        src = spark.createDataFrame([(p, 1, 20)], "p string, k bigint, v bigint")
        t.merge(src, cfg, partition_dnf=[("p", "=", p)])
    assert sorted((r.p, r.k, r.v) for r in t.read().collect()) == \
        sorted((p, 1, 20) for p in parts)
    assert [r.v for r in t.read(dnf=[("p", "=", "C:\\data")]).collect()] == [20]


def test_merge_spark_work_is_pinned(spark, tmp_table, monkeypatch):
    """A partition-scoped matched-update merge runs at most 6 Spark
    jobs, and its discovery plan shuffles once (on the file path)."""
    import re

    t = DeltaSparkTable(spark, tmp_table)
    df = spark.createDataFrame(
        [(p, k, k) for p in ("x", "y") for k in range(20)],
        "p string, k bigint, v bigint")
    t.write(df.repartition(2), WriteMode.overwrite, partition_columns=["p"])
    src = spark.createDataFrame([("x", k, -k) for k in range(0, 20, 3)],
                                "p string, k bigint, v bigint")
    shuffles: list[int] = []
    discovery = DeltaSparkTable._merge_discovery

    def spy(matches, ta, needs_update):
        out = discovery(matches, ta, needs_update)
        # the plan before execution; BroadcastExchange is not a shuffle
        plan = out._jdf.queryExecution().executedPlan().toString()
        shuffles.append(len(re.findall(r"(?<![A-Za-z])Exchange ", plan)))
        return out

    monkeypatch.setattr(DeltaSparkTable, "_merge_discovery", staticmethod(spy))
    sc = spark.sparkContext
    sc.setJobGroup("merge-pin", "partition-scoped matched-update merge")
    try:
        t.merge(src, MergeConfig(MergeType.upsert, predicate="s.k = t.k"),
                partition_dnf=[("p", "=", "x")])
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    jobs = sc.statusTracker().getJobIdsForGroup("merge-pin")
    assert len(jobs) <= 6, sorted(jobs)
    assert shuffles == [1]
    got = {(r.p, r.k): r.v for r in t.read().collect()}
    assert got == {(p, k): (-k if p == "x" and k % 3 == 0 else k)
                   for p in ("x", "y") for k in range(20)}


def test_merge_multi_match_keyed_by_file_and_row(spark, tmp_table):
    """The cardinality check counts matches per (file, row_index):
    rows at the same row_index of two files in one partition, each
    matched once, merge cleanly; one row matched twice still raises."""
    import pytest

    from dagster_delta_spark import MergeMultipleMatchesError

    t = DeltaSparkTable(spark, tmp_table)
    schema = "p string, k bigint, v bigint"
    for k in (1, 2):  # two one-row files: both rows at row_index 0
        t.write(spark.createDataFrame([("a", k, 0)], schema),
                WriteMode.append, partition_columns=["p"])
    assert len(t.snapshot().files) == 2
    cfg = MergeConfig(MergeType.upsert, predicate="s.k = t.k")
    scope = [("p", "=", "a")]
    t.merge(spark.createDataFrame([("a", 1, 10), ("a", 2, 20)], schema),
            cfg, partition_dnf=scope)
    assert sorted((r.k, r.v) for r in t.read().collect()) == [(1, 10), (2, 20)]
    with pytest.raises(MergeMultipleMatchesError):
        t.merge(spark.createDataFrame([("a", 1, 11), ("a", 1, 12)], schema),
                cfg, partition_dnf=scope)
