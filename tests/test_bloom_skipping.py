"""Per-file BLOOM FILTER indexes (``dds.bloomFilterColumns``) — the
Delta/Databricks bloom-filter-index analogue: point (= / in)
predicates skip files whose min/max range cannot prune.

The invariant under test everywhere: a bloom may only ever say
"definitely absent" — saturation, missing bitmaps, unsupported types,
DV-masked rows all degrade to NO skipping, never to a wrong result."""

import json

import pytest
from pyspark.sql import functions as F

from dagster_delta_spark import DeltaSparkTable, WriteMode
from dagster_delta_spark.config import MergeConfig, MergeType
from dagster_delta_spark.table import (
    _BLOOM_KEY,
    _bloom_maybe_contains,
)

BLOOM_CFG = {_BLOOM_KEY: json.dumps({"v": {}})}


def _scattered(spark, n=8000, files=8):
    """High-cardinality keys scattered across files: every file's
    [min, max] spans the whole range, so min/max skipping keeps all
    files and any pruning is the bloom's doing."""
    return spark.range(0, n).select(
        (F.col("id") * 7919 % n).alias("v"),
        (F.col("id") % 97).alias("payload"),
    ).repartition(files)


def test_bloom_built_and_point_lookup_skips(spark, tmp_table):
    t = DeltaSparkTable(spark, tmp_table)
    t.write(_scattered(spark), WriteMode.error, table_configuration=BLOOM_CFG)
    snap = t.snapshot()
    total = len(snap.files)
    assert total == 8
    for a in snap.files:
        entry = a.stats["bloom"]["v"]
        assert entry["m"] >= 64 and entry["k"] >= 1 and entry["b64"]

    dnf = [("v", "=", 4242)]
    stats_only = t.pruned_files(snap, dnf, use_bloom=False)
    with_bloom = t.pruned_files(snap, dnf)
    assert len(stats_only) == total  # min/max cannot prune scattered keys
    assert 2 * len(with_bloom) <= total  # the bloom can
    got = t.read(dnf=dnf).agg(F.sum("payload")).head()[0]
    exp = (_scattered(spark).where(F.col("v") == 4242)
           .agg(F.sum("payload")).head()[0])
    assert got == exp


def test_bloom_absent_key_and_in_list(spark, tmp_table):
    t = DeltaSparkTable(spark, tmp_table)
    t.write(_scattered(spark), WriteMode.error, table_configuration=BLOOM_CFG)
    snap = t.snapshot()
    assert t.read(dnf=[("v", "=", -5)]).count() == 0
    # absent key: at fpp=0.01 over 8 files, expect ~0 false positives
    assert len(t.pruned_files(snap, [("v", "=", -5)])) <= 2
    # IN-list: keeps the union of the members' files, drops the rest
    dnf = [("v", "in", [4242, -5])]
    kept = t.pruned_files(snap, dnf)
    assert 2 * len(kept) <= len(snap.files)
    assert t.read(dnf=dnf).count() == 1


def test_bloom_saturated_bitmap_never_skips_wrong(spark, tmp_table):
    """maxBits=64 with thousands of distinct values: the bitmap
    saturates, fpp degrades toward 1 — every present key must still be
    readable (soundness beats skipping)."""
    cfg = {_BLOOM_KEY: json.dumps({"v": {"maxBits": 64}})}
    t = DeltaSparkTable(spark, tmp_table)
    t.write(_scattered(spark), WriteMode.error, table_configuration=cfg)
    for key in (0, 1, 777, 4242, 7999):
        assert t.read(dnf=[("v", "=", key)]).count() == 1, key


def test_bloom_string_column(spark, tmp_table):
    cfg = {_BLOOM_KEY: json.dumps({"s": {}})}
    df = spark.range(0, 4000).select(
        F.concat(F.lit("doc-"), F.col("id") * 7919 % 4000).alias("s")
    ).repartition(8)
    t = DeltaSparkTable(spark, tmp_table)
    t.write(df, WriteMode.error, table_configuration=cfg)
    snap = t.snapshot()
    dnf = [("s", "=", "doc-1234")]
    assert 2 * len(t.pruned_files(snap, dnf)) <= len(snap.files)
    assert t.read(dnf=dnf).count() == 1
    assert t.read(dnf=[("s", "=", "doc-nope")]).count() == 0


def test_bloom_spec_validation(spark, tmp_table):
    t = DeltaSparkTable(spark, tmp_table)
    df = spark.range(0, 10).select(
        F.col("id").alias("v"),
        F.col("id").cast("double").alias("d"),
        (F.col("id") % 2).alias("p"),
    )
    with pytest.raises(ValueError, match="unknown column"):
        t.write(df, WriteMode.error, table_configuration={
            _BLOOM_KEY: json.dumps({"nope": {}})})
    with pytest.raises(ValueError, match="not bloom-indexable"):
        t.write(df, WriteMode.error, table_configuration={
            _BLOOM_KEY: json.dumps({"d": {}})})
    with pytest.raises(ValueError, match="partition column"):
        t.write(df, WriteMode.error, partition_columns=["p"],
                table_configuration={_BLOOM_KEY: json.dumps({"p": {}})})
    with pytest.raises(ValueError, match="fpp"):
        t.write(df, WriteMode.error, table_configuration={
            _BLOOM_KEY: json.dumps({"v": {"fpp": 0.9}})})
    with pytest.raises(ValueError, match="JSON"):
        t.write(df, WriteMode.error, table_configuration={
            _BLOOM_KEY: "not json"})
    # set_properties runs the same checks against the live schema
    t.write(df, WriteMode.error)
    with pytest.raises(ValueError, match="not bloom-indexable"):
        t.set_properties({_BLOOM_KEY: json.dumps({"d": {}})})


def test_bloom_set_on_populated_backfills_on_optimize(spark, tmp_table):
    """SET on a populated table: old files carry no bitmap (no skip,
    correct reads); an OPTIMIZE rewrite backfills them."""
    t = DeltaSparkTable(spark, tmp_table)
    t.write(_scattered(spark), WriteMode.error)
    t.set_properties(BLOOM_CFG)
    snap = t.snapshot()
    assert all("bloom" not in a.stats for a in snap.files)
    dnf = [("v", "=", 4242)]
    assert len(t.pruned_files(snap, dnf)) == len(snap.files)  # no skip yet
    assert t.read(dnf=dnf).count() == 1
    t.optimize(cluster_by=["payload"], num_files=4)  # rewrites ALL files
    snap2 = t.snapshot()
    rewritten = [a for a in snap2.files if "bloom" in a.stats]
    assert rewritten, "optimize did not backfill bloom bitmaps"
    assert t.read(dnf=dnf).count() == 1


def test_bloom_rename_drop_refuse_and_unset_releases(spark, tmp_table):
    t = DeltaSparkTable(spark, tmp_table)
    t.write(_scattered(spark), WriteMode.error, table_configuration=BLOOM_CFG)
    with pytest.raises(ValueError, match="bloom filter index"):
        t.rename_column("v", "w")
    with pytest.raises(ValueError, match="bloom filter index"):
        t.drop_column("v")
    t.unset_properties([_BLOOM_KEY])
    t.rename_column("v", "w")
    # stale bitmaps in old add actions are keyed by the frozen PHYSICAL
    # name, exactly like min/max stats — still probed, still sound
    snap = t.snapshot()
    dnf = [("w", "=", 4242)]
    assert 2 * len(t.pruned_files(snap, dnf)) <= len(snap.files)
    assert t.read(dnf=dnf).count() == 1


def test_bloom_recomputed_on_update_and_sound_under_dv(spark, tmp_table):
    t = DeltaSparkTable(spark, tmp_table)
    t.write(_scattered(spark), WriteMode.error, table_configuration=BLOOM_CFG)
    # copy-on-write UPDATE rewrites touched files -> fresh bitmaps that
    # include the new value
    t.update({"v": "900001"}, "v = 4242")
    snap = t.snapshot()
    assert all("bloom" in a.stats for a in snap.files)
    assert t.read(dnf=[("v", "=", 900001)]).count() == 1
    assert t.read(dnf=[("v", "=", 4242)]).count() == 0
    # merge-on-read DELETE keeps the file + bitmap: the masked value
    # still probes its file (a false positive), and the DV filter
    # returns zero rows — sound, never wrong
    t.delete("v = 777", use_dv=True)
    snap2 = t.snapshot()
    assert len(t.pruned_files(snap2, [("v", "=", 777)])) >= 1
    assert t.read(dnf=[("v", "=", 777)]).count() == 0


def test_bloom_clone_and_merge_staging(spark, tmp_table, tmp_path):
    """Shallow clones inherit bitmaps (stats travel with the add
    action); merge-staged files get fresh ones."""
    t = DeltaSparkTable(spark, tmp_table)
    t.write(_scattered(spark), WriteMode.error, table_configuration=BLOOM_CFG)
    c = DeltaSparkTable(spark, str(tmp_path / "clone"))
    t.clone(c.table_uri)
    csnap = c.snapshot()
    dnf = [("v", "=", 4242)]
    assert 2 * len(c.pruned_files(csnap, dnf)) <= len(csnap.files)
    assert c.read(dnf=dnf).count() == 1

    src = spark.createDataFrame([(4242, 5), (900500, 6)],
                                "v bigint, payload bigint")
    t.merge(src, MergeConfig(MergeType.upsert, predicate="s.v = t.v"))
    snap = t.snapshot()
    assert all("bloom" in a.stats for a in snap.files)
    assert t.read(dnf=[("v", "=", 900500)]).count() == 1


def test_bloom_probe_parity_with_harvester(spark, tmp_table):
    """Every distinct value written into a file must probe PRESENT in
    that file's bitmap: the harvest (``_footer_stats``) and the probe
    render through ``_bloom_render`` and hash through ``_bloom_hash``
    (the probe via its memoizing ``_bloom_digest``)."""
    from pyspark.sql.types import LongType, StringType

    df = spark.createDataFrame(
        [(i, f"k-{i}") for i in range(500)], "v bigint, s string")
    cfg = {_BLOOM_KEY: json.dumps({"v": {}, "s": {}})}
    t = DeltaSparkTable(spark, tmp_table)
    t.write(df.coalesce(1), WriteMode.error, table_configuration=cfg)
    a = t.snapshot().files[0]
    for i in range(500):
        assert _bloom_maybe_contains(a.stats["bloom"]["v"], i, LongType())
        assert _bloom_maybe_contains(
            a.stats["bloom"]["s"], f"k-{i}", StringType())
