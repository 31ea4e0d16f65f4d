"""Point-predicate DML file skipping (VERDICT r10 item 3) and
autoCompact-after-DML (item 4).

``delete``/``update``/``replace_where`` extract equality/IN/range
conjuncts from their row-level predicate and feed the SAME driver-side
pruner the read path uses (partition values + min/max stats + blooms)
BEFORE the discovery scan — a point delete on a bloom-indexed or
stats-tight column touches only the files that might hold the key.

Soundness is the whole game: the extractor
(``table._predicate_prune_dnf``) must return [] or a SUPERSET-safe
conjunct list for every adversarial predicate — quoted ANDs, escape
ambiguity, negation, OR, expressions — because a wrong prune silently
deletes too little."""

import json

import pytest
from pyspark.sql import functions as F

from dagster_delta_spark import DeltaSparkTable, WriteMode
from dagster_delta_spark.table import (
    _BLOOM_KEY,
    _predicate_prune_dnf,
)
from pyspark.sql.types import (
    DateType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

SCHEMA = StructType([
    StructField("k", LongType()),
    StructField("name", StringType()),
    StructField("d", DateType()),
    StructField("small", IntegerType()),
])


# ---------------------------------------------------------------- extractor

@pytest.mark.parametrize("pred,expected", [
    ("k = 5", [("k", "=", 5)]),
    ("k=5", [("k", "=", 5)]),
    ("5 = k", []),                      # reversed orientation: skipped
    ("k >= 3 and k < 9", [("k", ">=", 3), ("k", "<", 9)]),
    ("k in (1, 2, 3)", [("k", "in", [1, 2, 3])]),
    ("k IN(1,2)", [("k", "in", [1, 2])]),
    ("name = 'alice'", [("name", "=", "alice")]),
    ("name = 'it''s'", [("name", "=", "it's")]),
    ("d >= date '1995-01-01'", [("d", ">=", "1995-01-01")]),
    ("k = 5 and name = 'x'", [("k", "=", 5), ("name", "=", "x")]),
    ("(k = 5) and (name = 'x')", [("k", "=", 5), ("name", "=", "x")]),
    # unknown / unresolvable names are dropped at extraction (no
    # pruning on that conjunct, still sound)
    ("zzz = 5", []),
    # non-literal right sides are ignored, other conjuncts survive
    ("k = small and name = 'x'", [("name", "=", "x")]),
    ("length(name) = 3 and k = 5", [("k", "=", 5)]),
    ("k = 5 and small + 1 = 2", [("k", "=", 5)]),
    # quoted AND: the quote-aware splitter keeps the literal whole —
    # naive splitting would hallucinate a bogus "k = 5" conjunct
    ("name = 'x and k = 5 and y'",
     [("name", "=", "x and k = 5 and y")]),
])
def test_extractor_positive_and_partial(pred, expected):
    assert _predicate_prune_dnf(pred, SCHEMA) == expected


@pytest.mark.parametrize("pred", [
    "k = 5 or name = 'x'",              # OR: any conjunct may be escaped
    "not (k = 5)",
    "k != 5",
    "k <> 5",
    "k <=> 5",                          # null-safe eq: rest fails to parse
    "name is not null and k = 5",       # NOT disables extraction
    # backslash escape ambiguity: bail entirely
    "name = 'a\\' and k = 5 and b\\''",
    "",
])
def test_extractor_unsound_cases_yield_nothing_or_safe(pred):
    got = _predicate_prune_dnf(pred, SCHEMA)
    # for the <=> case the fragment fails literal-parse; for all others
    # extraction must disable outright
    assert got == []


def test_extractor_uncastable_literal_skipped():
    # ANSI errors row-side on the cast; pruning must not pre-empt it
    assert _predicate_prune_dnf("k = 'abc'", SCHEMA) == []
    assert _predicate_prune_dnf("k in (1, 'abc')", SCHEMA) == []


def test_extractor_is_null_conjunct_ignored_but_rest_kept():
    assert _predicate_prune_dnf("name is null and k = 5", SCHEMA) == \
        [("k", "=", 5)]


# ---------------------------------------------------------- integration

BLOOM_CFG = {_BLOOM_KEY: json.dumps({"v": {}})}


def _scattered(spark, n=8000, files=8):
    """High-cardinality keys scattered so every file's min/max spans
    the whole range — only the bloom can prune a point predicate."""
    return spark.range(0, n).select(
        (F.col("id") * 7919 % n).alias("v"),
        (F.col("id") % 97).alias("payload"),
    ).repartition(files)


def _spy_candidates(monkeypatch, t):
    """Record the candidate list every DML discovery scan sees, copy
    and DV flavours alike: all go through ``_discover_matches``."""
    seen = []
    orig = DeltaSparkTable._discover_matches

    def spy(self, snap, candidates, *a, **kw):
        seen.append(list(candidates))
        return orig(self, snap, candidates, *a, **kw)

    monkeypatch.setattr(DeltaSparkTable, "_discover_matches", spy)
    return seen


def test_point_delete_scans_only_bloom_survivors(spark, tmp_table,
                                                 monkeypatch):
    t = DeltaSparkTable(spark, tmp_table)
    t.write(_scattered(spark), WriteMode.error,
            table_configuration=BLOOM_CFG)
    snap = t.snapshot()
    total = len(snap.files)
    assert total == 8
    survivors = t.pruned_files(snap, [("v", "=", 4242)])
    assert len(survivors) < total  # the bloom prunes scattered keys

    seen = _spy_candidates(monkeypatch, t)
    res = t.delete("v = 4242")
    assert res["num_deleted_rows"] == 1
    assert len(seen) == 1
    assert {a.path for a in seen[0]} == {a.path for a in survivors}
    assert t.read().where(F.col("v") == 4242).count() == 0
    assert t.read().count() == 8000 - 1


def test_range_delete_prunes_by_minmax_stats(spark, tmp_table,
                                             monkeypatch):
    t = DeltaSparkTable(spark, tmp_table)
    # contiguous key ranges per file: min/max stats are tight
    for lo in range(0, 8000, 1000):
        df = spark.range(lo, lo + 1000).select(F.col("id").alias("v"))
        t.write(df.coalesce(1),
                WriteMode.error if lo == 0 else WriteMode.append)
    assert len(t.snapshot().files) == 8
    seen = _spy_candidates(monkeypatch, t)
    res = t.delete("v >= 6500 and v < 7200")
    assert res["num_deleted_rows"] == 700
    assert len(seen) == 1 and len(seen[0]) == 2  # files [6000,7000),[7000,8000)
    assert t.read().count() == 8000 - 700


def test_update_and_replace_where_prune_too(spark, tmp_table, monkeypatch):
    t = DeltaSparkTable(spark, tmp_table)
    for lo in range(0, 4000, 1000):
        df = spark.range(lo, lo + 1000).select(
            F.col("id").alias("v"), F.lit(0).alias("flag"))
        t.write(df.coalesce(1),
                WriteMode.error if lo == 0 else WriteMode.append)
    seen = _spy_candidates(monkeypatch, t)
    res = t.update({"flag": "1"}, "v = 2500")
    assert res["num_updated_rows"] == 1
    assert len(seen[-1]) == 1

    src = spark.range(3100, 3200).select(
        F.col("id").alias("v"), F.lit(9).alias("flag"))
    res = t.replace_where(src, "v >= 3100 and v < 3200")
    assert res["num_deleted_rows"] == 100
    assert res["num_inserted_rows"] == 100
    assert len(seen[-1]) == 1  # only the [3000,4000) file scanned
    assert t.read().where("flag = 9").count() == 100
    assert t.read().count() == 4000


def test_unextractable_predicate_keeps_full_scan_and_counts(spark,
                                                            tmp_table,
                                                            monkeypatch):
    t = DeltaSparkTable(spark, tmp_table)
    for lo in range(0, 3000, 1000):
        df = spark.range(lo, lo + 1000).select(F.col("id").alias("v"))
        t.write(df.coalesce(1),
                WriteMode.error if lo == 0 else WriteMode.append)
    seen = _spy_candidates(monkeypatch, t)
    res = t.delete("v = 100 or v = 2100")
    assert res["num_deleted_rows"] == 2
    assert len(seen[0]) == 3  # OR disables extraction: all files scanned
    assert t.read().count() == 2998


def test_dv_delete_discovery_is_pruned_and_masks_right_rows(spark,
                                                            tmp_table,
                                                            monkeypatch):
    t = DeltaSparkTable(spark, tmp_table)
    for lo in range(0, 3000, 1000):
        df = spark.range(lo, lo + 1000).select(F.col("id").alias("v"))
        t.write(df.coalesce(1),
                WriteMode.error if lo == 0 else WriteMode.append)
    seen = _spy_candidates(monkeypatch, t)
    res = t.delete("v in (1500, 1501)", use_dv=True)
    assert res["num_deleted_rows"] == 2
    assert res["num_deletion_vectors"] == 1
    assert len(seen[0]) == 1
    assert t.read().count() == 2998
    assert t.read().where("v in (1500, 1501)").count() == 0


# ------------------------------------------------- autoCompact after DML

AC_CFG = {
    "dds.autoCompact": "true",
    "dds.autoCompact.minFiles": "6",
    "dds.autoCompact.targetFileSize": str(1 << 20),
}


def _fragmented(spark, tmp_table, cols=1):
    """8 small contiguous-range files, autoCompact enabled AFTER the
    fragmentation (via SET) so the next DML commit — not a write — is
    what triggers the follow-up compaction.  A point DML touches one
    file and leaves the other 7 small ones in place, past minFiles."""
    t = DeltaSparkTable(spark, tmp_table)
    for lo in range(0, 8000, 1000):
        df = spark.range(lo, lo + 1000).select(F.col("id").alias("v"))
        if cols > 1:
            df = df.withColumn("flag", F.lit(0))
        t.write(df.coalesce(1),
                WriteMode.error if lo == 0 else WriteMode.append)
    assert len(t.snapshot().files) == 8
    t.set_properties(AC_CFG)
    return t


def test_auto_compact_fires_after_point_delete(spark, tmp_table):
    t = _fragmented(spark, tmp_table)
    res = t.delete("v >= 7000 and v < 7010")
    assert res["num_deleted_rows"] == 10
    assert res["auto_compacted_files"] > 0
    assert res["auto_compact_version"] == res["version"] + 1
    assert len(t.snapshot().files) < 8
    assert t.read().count() == 8000 - 10
    assert t.read().agg(F.sum("v")).head()[0] == \
        sum(range(8000)) - sum(range(7000, 7010))


def test_auto_compact_fires_after_update_and_replace_where(spark,
                                                           tmp_table):
    t = _fragmented(spark, tmp_table + "_u", cols=2)
    res = t.update({"flag": "1"}, "v = 1500")
    assert res["num_updated_rows"] == 1
    assert "auto_compact_version" in res
    assert t.read().where("flag = 1").count() == 1
    assert t.read().count() == 8000

    t2 = _fragmented(spark, tmp_table + "_rw")
    src = spark.range(3000, 3100).select(F.col("id").alias("v"))
    res = t2.replace_where(src, "v >= 3000 and v < 3100")
    assert res["num_deleted_rows"] == 100
    assert res["num_inserted_rows"] == 100
    assert "auto_compact_version" in res
    assert t2.read().count() == 8000


def test_numeric_literal_on_string_column_never_prunes(spark, tmp_table):
    """r11 review finding: SQL evaluates `string_col = 5` by casting
    the STRING side numerically, but stats/bloom pruning would compare
    str(5) lexicographically — a file whose only value is '05' would
    be pruned as a definite miss and the row would silently survive
    the DELETE.  Type-class-mismatched literals must not prune."""
    from pyspark.sql import functions as F

    from dagster_delta_spark import DeltaSparkTable, WriteMode
    from dagster_delta_spark.table import _predicate_prune_dnf

    t = DeltaSparkTable(spark, tmp_table)
    df = spark.createDataFrame(
        [("05", 1), ("99", 2)], "name string, v bigint")
    t.write(df.repartition(2, "name"), WriteMode.error)
    # extraction refuses the mismatched conjunct entirely
    schema = t.schema()
    assert _predicate_prune_dnf("name = 5", schema) == []
    assert _predicate_prune_dnf("name IN (1, 2)", schema) == []
    assert _predicate_prune_dnf("v = 1", schema) == [("v", "=", 1)]
    # the string literal still prunes (same type class)
    assert _predicate_prune_dnf("name = '05'", schema) \
        == [("name", "=", "05")]
    # end-to-end: the numeric-literal delete matches through the cast
    t.delete("name = 5")
    assert [r["name"] for r in t.read().collect()] == ["99"]


def test_bool_literal_only_prunes_boolean_columns(spark, tmp_table):
    from dagster_delta_spark import DeltaSparkTable, WriteMode
    from dagster_delta_spark.table import _predicate_prune_dnf

    t = DeltaSparkTable(spark, tmp_table)
    df = spark.createDataFrame(
        [(True, "x"), (False, "y")], "flag boolean, s string")
    t.write(df, WriteMode.error)
    schema = t.schema()
    assert _predicate_prune_dnf("flag = true", schema) \
        == [("flag", "=", True)]
    # boolean literal against a string column: no pruning
    assert _predicate_prune_dnf("s = true", schema) == []


def test_native_timestamp_stats_prune(spark, tmp_path):
    """r14: staging pins outputTimestampType=TIMESTAMP_MICROS (INT64)
    — Spark's legacy INT96 default carries NO footer statistics, so
    native tables never file-skipped on timestamp predicates before.
    Pin: harvested ts min/max exist, render naive-UTC, and a
    time-range read prunes to one file."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    t = DeltaSparkTable(spark, str(tmp_path / "t"))
    df = spark.sql(
        "SELECT CAST(id AS BIGINT) AS a, TIMESTAMP'2024-01-01 05:00:00'"
        " + make_interval(0,0,0,0,CAST(id AS INT),0,0) AS ts "
        "FROM range(0, 6)")
    t.write(df.where("a < 3").coalesce(1), WriteMode.overwrite)
    t.write(df.where("a >= 3").coalesce(1), WriteMode.append)
    snap = t.snapshot()
    stats = {f.stats["minValues"]["ts"] for f in snap.files}
    assert stats == {"2024-01-01 05:00:00", "2024-01-01 08:00:00"}
    kept = t.pruned_files(snap, [("ts", "<", "2024-01-01 06:30:00")])
    assert len(kept) == 1
    assert t.read(dnf=[("ts", "<", "2024-01-01 06:30:00")]).count() == 2
    # and DML discovery prunes on the same stats
    res = t.delete("ts >= TIMESTAMP'2024-01-01 08:00:00'")
    assert t.read().count() == 3
