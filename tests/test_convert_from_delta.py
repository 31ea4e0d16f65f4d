"""convert_from_delta: onboarding a REAL Delta Lake table (public
delta-io protocol, ``_delta_log/`` JSON commits — what delta-rs
writes) into this engine's format in place.

Fixtures hand-write Delta logs per the public spec: protocol /
metaData (schemaString = Spark StructType JSON) / add (stats as a
JSON string, partitionValues dict) / remove / txn actions, one JSON
object per line, zero-padded 20-digit version file names."""

import json
import os

import pytest

from dagster_delta_spark import (
    DeltaSparkTable,
    TableExistsError,
    WriteMode,
    convert_from_delta,
    read_delta_changes,
)


def _stage_file(spark, df, root, rel):
    """Write df as ONE parquet file at root/rel."""
    tmp = os.path.join(root, "_stage")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
    dst = os.path.join(root, rel)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    os.replace(os.path.join(tmp, part), dst)
    import shutil

    shutil.rmtree(tmp)
    return dst


# ONE spec encoding of the delta-io fixture log, shared with the
# o_convert_from_delta entry and bench._cfd_setup
import __spark_entry__ as _entry


def _write_log(root, commits):
    for v, actions in enumerate(commits):
        _entry._write_delta_commit(root, v, actions)


def _proto(mrv=1, mwv=2):
    return _entry._delta_protocol_action(mrv, mwv)


def _meta(spark, df, pcols=(), cfg=None):
    return _entry._delta_meta_action(df.schema.json(), pcols, cfg)


def _add(root, rel, n, pv=None, extra_stats=None, **kw):
    return _entry._delta_add_action(root, rel, n, pv, extra_stats, **kw)


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(
        "id AS a", "CAST(id * 2 AS DOUBLE) AS b",
        "CAST(id AS STRING) AS s")


def test_basic_convert_with_removes_and_txn(spark, tmp_path):
    root = str(tmp_path / "d")
    os.makedirs(root)
    f1 = _stage_file(spark, _df(spark, 0, 5), root, "part-f1.parquet")
    _stage_file(spark, _df(spark, 5, 9), root, "part-f2.parquet")
    _stage_file(spark, _df(spark, 9, 12), root, "part-f3.parquet")
    _write_log(root, [
        [_proto(), _meta(spark, _df(spark, 0, 1)),
         _add(root, "part-f1.parquet", 5),
         _add(root, "part-f2.parquet", 4)],
        [{"remove": {"path": "part-f2.parquet",
                     "deletionTimestamp": 1700000001000,
                     "dataChange": True}},
         _add(root, "part-f3.parquet", 3),
         {"txn": {"appId": "upstream-stream", "version": 41}}],
    ])
    res = convert_from_delta(spark, root)
    assert (res["num_files"], res["num_rows"]) == (2, 8)
    assert res["delta_version"] == 1
    t = DeltaSparkTable(spark, root)
    got = sorted(r["a"] for r in t.read().collect())
    assert got == list(range(0, 5)) + list(range(9, 12))
    # the SetTransaction ledger carried over — and survives a
    # COLD-CACHE replay of the committed version-0 JSON (the ledger
    # must live in the commit's txn actions, not just the cached
    # snapshot)
    assert t.last_txn_version("upstream-stream") == 41
    from dagster_delta_spark import tablelog as tl

    tl._SNAPSHOT_CACHE.clear()
    assert DeltaSparkTable(spark, root).last_txn_version(
        "upstream-stream") == 41
    # and the converted table is fully writable
    t.write(_df(spark, 100, 102), WriteMode.append)
    assert t.read().count() == 10
    assert t.read(version=0).count() == 8  # time travel from v0
    _ = os.stat(os.path.join(root, "part-f1.parquet"))  # bytes untouched


def test_partitioned_and_stats_sanitized(spark, tmp_path):
    root = str(tmp_path / "d")
    os.makedirs(root)
    df = spark.range(0, 6).selectExpr(
        "id AS a", "CAST(id AS STRING) AS s",
        "DATE'2024-01-05' AS dt")
    data = df.drop("dt")
    _stage_file(spark, data.where("a < 3"), root, "p=x/f1.parquet")
    _stage_file(spark, data.where("a >= 3"), root, "p=y/f2.parquet")
    pdf = df.selectExpr("a", "s", "dt", "'x' AS p").limit(0)
    _write_log(root, [[
        _proto(), _meta(spark, pdf, pcols=["p"]),
        _add(root, "p=x/f1.parquet", 3, pv={"p": "x"},
             extra_stats={"minValues": {"a": 0, "s": "0",
                                        "dt": "2024-01-05"},
                          "maxValues": {"a": 2, "s": "2",
                                        "dt": "2024-01-05"},
                          "nullCount": {"a": 0}}),
        _add(root, "p=y/f2.parquet", 3, pv={"p": "y"}),
    ]])
    convert_from_delta(spark, root)
    t = DeltaSparkTable(spark, root)
    assert t.read().count() == 6
    assert {r["p"] for r in t.read().select("p").collect()} == {"x", "y"}
    # partition pruning works off the carried partitionValues
    assert t.read(dnf=[("p", "=", "x")]).count() == 3
    # date min/max RE-RENDER (r14 — format-identical, validated);
    # int/string keep as before
    a = [f for f in t.snapshot().files if f.path == "p=x/f1.parquet"][0]
    assert a.stats["minValues"]["dt"] == "2024-01-05"
    assert a.stats["maxValues"]["dt"] == "2024-01-05"
    assert a.stats["minValues"]["a"] == 0
    assert a.stats["nullCount"] == {"a": 0}


def test_append_only_maps_and_refusals(spark, tmp_path):
    root = str(tmp_path / "d")
    os.makedirs(root)
    _stage_file(spark, _df(spark, 0, 4), root, "f1.parquet")
    _write_log(root, [[
        _proto(),
        _meta(spark, _df(spark, 0, 1),
              cfg={"delta.appendOnly": "true", "custom.key": "v"}),
        _add(root, "f1.parquet", 4),
    ]])
    convert_from_delta(spark, root)
    t = DeltaSparkTable(spark, root)
    det = t.describe_detail()
    assert det["properties"]["dds.appendOnly"] == "true"
    assert det["properties"]["custom.key"] == "v"
    with pytest.raises(ValueError, match="append-only"):
        t.delete("a = 1")
    t.write(_df(spark, 4, 6), WriteMode.append)  # appends still fine


@pytest.mark.parametrize("breaker,match", [
    # reader-protocol refusals: test_convert_and_feed_share_refusals
    # 'id' mode with NO field metadata is internally inconsistent
    # (real id-mode converts since r15, see test_convert_id_mode)
    (lambda r, s: [_proto(mrv=2),
                   _meta(s, _df(s, 0, 1),
                         cfg={"delta.columnMapping.mode": "id"}),
                   _add(r, "f1.parquet", 4)], "columnMapping.id"),
    # partitionColumns outside the schema = malformed log
    (lambda r, s: [_proto(),
                   _meta(s, _df(s, 0, 1), pcols=["nope"]),
                   _add(r, "f1.parquet", 4)], "not in the schema"),
    # an UNDECODABLE deletion vector refuses (valid ones convert
    # since r14, see test_convert_deletion_vectors)
    (lambda r, s: [_proto(), _meta(s, _df(s, 0, 1)),
                   _add(r, "f1.parquet", 4,
                        deletionVector={"storageType": "u",
                                        "pathOrInlineDv": "x",
                                        "offset": 1, "sizeInBytes": 40,
                                        "cardinality": 2})],
     "deletion vector"),
    (lambda r, s: [_proto(), _meta(s, _df(s, 0, 1)),
                   {"add": {"path": "s3://bucket/f.parquet",
                            "partitionValues": {}, "size": 1,
                            "modificationTime": 1, "dataChange": True,
                            "stats": "{\"numRecords\": 1}"}}],
     "absolute"),
])
def test_refusals(spark, tmp_path, breaker, match):
    root = str(tmp_path / "d")
    os.makedirs(root)
    _stage_file(spark, _df(spark, 0, 4), root, "f1.parquet")
    _write_log(root, [breaker(root, spark)])
    with pytest.raises(ValueError, match=match):
        convert_from_delta(spark, root)
    assert not DeltaSparkTable(spark, root).exists()


def _raw_add(rel, pv=None):
    """An add action for a file that need not exist: every shared
    refusal fires before the data files are looked at."""
    return {"add": {"path": rel, "partitionValues": dict(pv or {}),
                    "size": 1, "modificationTime": 1, "dataChange": True,
                    "stats": json.dumps({"numRecords": 1})}}


def _mapped_meta(fields, pcols=(), cfg=None):
    """metaData whose fields carry column-mapping metadata, field i
    mapped to physical name ``col-<i>``."""
    from pyspark.sql.types import StructField, StructType

    sch = StructType([
        StructField(name, dtype, True, {
            "delta.columnMapping.id": i + 1,
            "delta.columnMapping.physicalName": f"col-{i + 1}"})
        for i, (name, dtype) in enumerate(fields)])
    return _entry._delta_meta_action(sch.json(), pcols, cfg)


def _shared_refusal_log(spark, case):
    from pyspark.sql.types import LongType, StringType, StructField, \
        StructType

    name_mode = {"delta.columnMapping.mode": "name"}
    if case == "minReaderVersion=4":
        return [_proto(mrv=4), _meta(spark, _df(spark, 0, 1)),
                _raw_add("f1.parquet")]
    if case == "reader feature":
        return [{"protocol": {"minReaderVersion": 3,
                              "minWriterVersion": 7,
                              "readerFeatures": ["timestampNtz"],
                              "writerFeatures": ["timestampNtz"]}},
                _meta(spark, _df(spark, 0, 1)), _raw_add("f1.parquet")]
    if case == "nested type":
        nested = StructType([StructField("x", LongType())])
        return [_proto(mrv=2, mwv=5),
                _mapped_meta([("a", LongType()), ("st", nested)],
                             cfg=name_mode),
                _raw_add("f1.parquet")]
    if case == "renamed partition":
        return [_proto(mrv=2, mwv=5),
                _mapped_meta([("a", LongType()), ("p", StringType())],
                             pcols=["p"], cfg=name_mode),
                _raw_add("col-2=1/f1.parquet", pv={"col-2": "1"})]
    assert case == "inconsistent"  # physical names, mode unset
    return [_proto(), _mapped_meta([("a", LongType())]),
            _raw_add("f1.parquet")]


@pytest.mark.parametrize("reader", [convert_from_delta, read_delta_changes],
                         ids=["convert", "feed"])
@pytest.mark.parametrize("case", [
    "minReaderVersion=4", "reader feature", "nested type",
    "renamed partition", "inconsistent"])
def test_convert_and_feed_share_refusals(spark, tmp_path, case, reader):
    """convert_from_delta and read_delta_changes read Delta logs
    through one set of rules, so the same malformed log refuses on
    both sides, with the same reason."""
    root = str(tmp_path / "d")
    _write_log(root, [_shared_refusal_log(spark, case)])
    with pytest.raises(ValueError, match=case):
        reader(spark, root)
    assert not DeltaSparkTable(spark, root).exists()


def test_truncated_log_and_missing_file_refuse(spark, tmp_path):
    root = str(tmp_path / "d")
    os.makedirs(root)
    _stage_file(spark, _df(spark, 0, 4), root, "f1.parquet")
    _write_log(root, [
        [_proto(), _meta(spark, _df(spark, 0, 1)),
         _add(root, "f1.parquet", 4)],
    ])
    # simulate Delta log cleanup: version 0 gone
    os.rename(os.path.join(root, "_delta_log/" + "0" * 20 + ".json"),
              os.path.join(root, "_delta_log/" + "0" * 19 + "1.json"))
    with pytest.raises(ValueError, match="contiguous JSON tail"):
        convert_from_delta(spark, root)
    os.rename(os.path.join(root, "_delta_log/" + "0" * 19 + "1.json"),
              os.path.join(root, "_delta_log/" + "0" * 20 + ".json"))
    os.remove(os.path.join(root, "f1.parquet"))
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        convert_from_delta(spark, root)


def test_already_converted_refuses(spark, tmp_path):
    root = str(tmp_path / "d")
    os.makedirs(root)
    _stage_file(spark, _df(spark, 0, 4), root, "f1.parquet")
    _write_log(root, [[_proto(), _meta(spark, _df(spark, 0, 1)),
                       _add(root, "f1.parquet", 4)]])
    convert_from_delta(spark, root)
    with pytest.raises(TableExistsError):
        convert_from_delta(spark, root)


def test_dry_run(spark, tmp_path):
    root = str(tmp_path / "d")
    os.makedirs(root)
    _stage_file(spark, _df(spark, 0, 4), root, "f1.parquet")
    _write_log(root, [[_proto(), _meta(spark, _df(spark, 0, 1)),
                       _add(root, "f1.parquet", 4)]])
    res = convert_from_delta(spark, root, dry_run=True)
    assert res == {"dry_run": True, "num_files": 1, "num_rows": 4,
                   "partition_columns": [], "delta_version": 0,
                   "dropped_configuration": {}}
    assert not DeltaSparkTable(spark, root).exists()


def test_historically_removed_dv_and_abs_adds_convert(spark, tmp_path):
    """Refusals fire on the SURVIVING head state, not historical
    actions: a DV'd or absolute-path file that was since removed must
    not permanently refuse the table."""
    root = str(tmp_path / "d")
    os.makedirs(root)
    _stage_file(spark, _df(spark, 0, 4), root, "f1.parquet")
    _stage_file(spark, _df(spark, 4, 6), root, "f2.parquet")
    _write_log(root, [
        [_proto(), _meta(spark, _df(spark, 0, 1)),
         _add(root, "f1.parquet", 4),
         _add(root, "f2.parquet", 2,
              deletionVector={"storageType": "u", "pathOrInlineDv": "x",
                              "offset": 1, "sizeInBytes": 8,
                              "cardinality": 1}),
         {"add": {"path": "s3://bucket/gone.parquet",
                  "partitionValues": {}, "size": 1,
                  "modificationTime": 1, "dataChange": True,
                  "stats": "{\"numRecords\": 1}"}}],
        # the offenders leave; a clean re-add of f2 lands
        [{"remove": {"path": "f2.parquet", "deletionTimestamp": 2,
                     "dataChange": True}},
         {"remove": {"path": "s3://bucket/gone.parquet",
                     "deletionTimestamp": 2, "dataChange": True}},
         _add(root, "f2.parquet", 2)],
    ])
    res = convert_from_delta(spark, root)
    assert res["num_files"] == 2 and res["num_rows"] == 6
    assert DeltaSparkTable(spark, root).read().count() == 6


def test_delta_constraints_map_and_enforce(spark, tmp_path):
    root = str(tmp_path / "d")
    os.makedirs(root)
    _stage_file(spark, _df(spark, 1, 5), root, "f1.parquet")
    _write_log(root, [[
        _proto(),
        _meta(spark, _df(spark, 0, 1),
              cfg={"delta.constraints.positive_a": "a > 0"}),
        _add(root, "f1.parquet", 4),
    ]])
    convert_from_delta(spark, root)
    t = DeltaSparkTable(spark, root)
    props = t.describe_detail()["properties"]
    assert props["dds.constraints.positive_a"] == "a > 0"
    assert "delta.constraints.positive_a" not in props
    from dagster_delta_spark import ConstraintViolationError

    with pytest.raises(ConstraintViolationError):
        t.write(_df(spark, -3, -1), WriteMode.append)
    t.write(_df(spark, 5, 7), WriteMode.append)  # valid rows land


def test_writer_contract_refusals(spark, tmp_path):
    def mk(root):
        os.makedirs(root)
        _stage_file(spark, _df(spark, 0, 4), root, "f1.parquet")

    # unmappable writer FEATURE
    r1 = str(tmp_path / "d1")
    mk(r1)
    p = _proto(mrv=1, mwv=7)
    p["protocol"]["writerFeatures"] = ["appendOnly", "rowTracking"]
    _write_log(r1, [[p, _meta(spark, _df(spark, 0, 1)),
                     _add(r1, "f1.parquet", 4)]])
    with pytest.raises(ValueError, match="rowTracking"):
        convert_from_delta(spark, r1)

    # mappable feature set passes
    r2 = str(tmp_path / "d2")
    mk(r2)
    p2 = _proto(mrv=1, mwv=7)
    p2["protocol"]["writerFeatures"] = ["appendOnly", "checkConstraints"]
    _write_log(r2, [[p2, _meta(spark, _df(spark, 0, 1)),
                     _add(r2, "f1.parquet", 4)]])
    assert convert_from_delta(spark, r2)["num_rows"] == 4

    # per-field IDENTITY metadata still refuses (allocation
    # strategies differ); invariants/generated TRANSLATE since r14 —
    # see test_field_contracts_translate
    from pyspark.sql.types import LongType, StructField, StructType

    r = str(tmp_path / "dmident")
    mk(r)
    sch = StructType([StructField(
        "a", LongType(), True, {"delta.identity.start": 1})])
    _write_log(r, [[
        _proto(),
        _entry._delta_meta_action(sch.json()),
        _add(r, "f1.parquet", 4)]])
    with pytest.raises(ValueError, match="IDENTITY"):
        convert_from_delta(spark, r)

    # foreign engine-namespace key
    r3 = str(tmp_path / "d3")
    mk(r3)
    _write_log(r3, [[_proto(),
                     _meta(spark, _df(spark, 0, 1),
                           cfg={"dds.identityColumns": '{"a": {}}'}),
                     _add(r3, "f1.parquet", 4)]])
    with pytest.raises(ValueError, match="engine-namespace"):
        convert_from_delta(spark, r3)


def test_non_hive_layout_partitioned_refuses(spark, tmp_path):
    """Delta makes log partitionValues authoritative; this engine's
    reads recover partition columns from hive directories — a
    partitioned table whose files don't encode them must refuse."""
    root = str(tmp_path / "d")
    os.makedirs(root)
    data = spark.range(0, 3).selectExpr("id AS a")
    _stage_file(spark, data, root, "flat-f1.parquet")  # no p=x/ dir
    pdf = spark.range(0, 1).selectExpr("id AS a", "'x' AS p")
    _write_log(root, [[
        _proto(), _meta(spark, pdf, pcols=["p"]),
        _add(root, "flat-f1.parquet", 3, pv={"p": "x"}),
    ]])
    with pytest.raises(ValueError, match="hive"):
        convert_from_delta(spark, root)


def test_stats_less_adds_fall_back_to_footers(spark, tmp_path):
    root = str(tmp_path / "d")
    os.makedirs(root)
    _stage_file(spark, _df(spark, 0, 4), root, "f1.parquet")
    a = _add(root, "f1.parquet", 0)
    del a["add"]["stats"]  # delta-rs can write stats-less adds
    _write_log(root, [[_proto(), _meta(spark, _df(spark, 0, 1)), a]])
    res = convert_from_delta(spark, root)
    assert res["num_rows"] == 4  # counted from the parquet footer


# ---------------------------------------------------------------------------
# r14: checkpoint replay, deletion vectors, column mapping, ts stats
# ---------------------------------------------------------------------------


def test_convert_checkpoint_replay(spark, tmp_path):
    """An aged delta-rs table: early JSON commits cleaned up, state
    reconstructs from _last_checkpoint + checkpoint parquet + the
    contiguous JSON tail."""
    root = str(tmp_path / "d")
    os.makedirs(root)
    _stage_file(spark, _df(spark, 0, 5), root, "part-f1.parquet")
    _stage_file(spark, _df(spark, 5, 9), root, "part-f2.parquet")
    _stage_file(spark, _df(spark, 9, 12), root, "part-f3.parquet")
    # checkpoint at v2 carries the folded state incl. a remove
    # tombstone (must be ignored) and a txn ledger
    _entry._write_delta_checkpoint(root, 2, [
        _proto(), _meta(spark, _df(spark, 0, 1)),
        _add(root, "part-f1.parquet", 5),
        _add(root, "part-f2.parquet", 4),
        {"remove": {"path": "part-old.parquet",
                    "deletionTimestamp": 1, "dataChange": True}},
        {"txn": {"appId": "up", "version": 3}},
    ])
    # JSON tail v3..v4 (v0..v2 JSON aged out)
    _entry._write_delta_commit(root, 3, [
        {"remove": {"path": "part-f2.parquet",
                    "deletionTimestamp": 2, "dataChange": True}},
        _add(root, "part-f3.parquet", 3)])
    _entry._write_delta_commit(root, 4, [
        {"txn": {"appId": "up", "version": 9}}])
    res = convert_from_delta(spark, root)
    assert (res["num_files"], res["num_rows"]) == (2, 8)
    assert res["delta_version"] == 4
    t = DeltaSparkTable(spark, root)
    assert sorted(r["a"] for r in t.read().collect()) == \
        list(range(0, 5)) + list(range(9, 12))
    assert t.last_txn_version("up") == 9

    # checkpoint-ONLY log (no JSON tail at all) also converts
    r2 = str(tmp_path / "d2")
    os.makedirs(r2)
    _stage_file(spark, _df(spark, 0, 4), r2, "f1.parquet")
    _entry._write_delta_checkpoint(r2, 10, [
        _proto(), _meta(spark, _df(spark, 0, 1)),
        _add(r2, "f1.parquet", 4)])
    res2 = convert_from_delta(spark, r2)
    assert res2["num_rows"] == 4 and res2["delta_version"] == 10


def test_multipart_checkpoint_replays(spark, tmp_path):
    """r14: a COMPLETE multi-part classic checkpoint replays (parts
    concatenate in order); an incomplete part set refuses."""
    root = str(tmp_path / "d")
    os.makedirs(root)
    _stage_file(spark, _df(spark, 0, 5), root, "f1.parquet")
    _stage_file(spark, _df(spark, 5, 9), root, "f2.parquet")
    _entry._write_delta_checkpoint(root, 3, [
        _proto(), _meta(spark, _df(spark, 0, 1)),
        _add(root, "f1.parquet", 5),
        _add(root, "f2.parquet", 4),
        {"txn": {"appId": "up", "version": 2}},
    ], parts=3)
    _entry._write_delta_commit(root, 4, [
        {"remove": {"path": "f2.parquet", "deletionTimestamp": 2,
                    "dataChange": True}}])
    res = convert_from_delta(spark, root)
    assert (res["num_rows"], res["delta_version"]) == (5, 4)
    assert DeltaSparkTable(spark, root).last_txn_version("up") == 2

    # an incomplete part set refuses
    r2 = str(tmp_path / "d2")
    os.makedirs(r2)
    _stage_file(spark, _df(spark, 0, 4), r2, "f1.parquet")
    _entry._write_delta_checkpoint(r2, 2, [
        _proto(), _meta(spark, _df(spark, 0, 1)),
        _add(r2, "f1.parquet", 4)], parts=2)
    os.remove(os.path.join(
        r2, "_delta_log",
        "0" * 18 + "02.checkpoint.0000000002.0000000002.parquet"))
    with pytest.raises(ValueError, match="incomplete"):
        convert_from_delta(spark, r2)


def test_checkpoint_refusals(spark, tmp_path):
    import json as _json  # noqa: F401  (kept for fixture parity)

    # v2 UUID-named checkpoint (and nothing else) refuses
    r2 = str(tmp_path / "d2")
    dlog = os.path.join(r2, "_delta_log")
    os.makedirs(dlog)
    _stage_file(spark, _df(spark, 0, 4), r2, "f1.parquet")
    open(os.path.join(
        dlog, "0" * 19 + "2.checkpoint."
        "0f1d7e70-0f1d-4e70-8f1d-7e700f1d7e70.parquet"), "w").close()
    with pytest.raises(ValueError, match="unreadable"):
        convert_from_delta(spark, r2)

    # gap between checkpoint and JSON tail refuses
    r3 = str(tmp_path / "d3")
    os.makedirs(r3)
    _stage_file(spark, _df(spark, 0, 4), r3, "f1.parquet")
    _entry._write_delta_checkpoint(r3, 2, [
        _proto(), _meta(spark, _df(spark, 0, 1)),
        _add(r3, "f1.parquet", 4)])
    _entry._write_delta_commit(r3, 5, [
        {"txn": {"appId": "x", "version": 1}}])
    with pytest.raises(ValueError, match="not.*contiguous|contiguous"):
        convert_from_delta(spark, r3)


def test_convert_deletion_vectors(spark, tmp_path):
    """Delta DV adds decode into this engine's sidecar masks: masked
    rows are absent from reads, live counts and stats stay sound,
    OPTIMIZE compacts the masks away."""
    from dagster_delta_spark import delta_interop as di

    root = str(tmp_path / "d")
    os.makedirs(root)
    _stage_file(spark, _df(spark, 0, 10), root, "f1.parquet")
    _stage_file(spark, _df(spark, 10, 16), root, "f2.parquet")
    proto = {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["deletionVectors"],
                          "writerFeatures": ["deletionVectors"]}}
    # f1: inline DV masking rows 1,3,5; f2: on-disk DV masking row 0
    dv1 = di.inline_dv_descriptor([1, 3, 5])
    dv2 = di.write_dv_file(root, [0], prefix="ab")
    _write_log(root, [[
        proto, _meta(spark, _df(spark, 0, 1)),
        _add(root, "f1.parquet", 10, deletionVector=dv1),
        _add(root, "f2.parquet", 6, deletionVector=dv2),
    ]])
    res = convert_from_delta(spark, root)
    assert res["num_rows"] == 16 - 3 - 1
    t = DeltaSparkTable(spark, root)
    got = sorted(r["a"] for r in t.read().collect())
    assert got == [0, 2, 4, 6, 7, 8, 9] + list(range(11, 16))
    # physical numRecords kept; live_records reflects the mask
    by_path = {f.path: f for f in t.snapshot().files}
    assert by_path["f1.parquet"].num_records == 10
    assert by_path["f1.parquet"].dv_count == 3
    assert by_path["f2.parquet"].live_records == 5
    # row-level DML on the converted table still works (the sidecar
    # is a first-class native DV)
    t.delete("a = 2", use_dv=True)
    assert sorted(r["a"] for r in t.read().collect()) == \
        [0, 4, 6, 7, 8, 9] + list(range(11, 16))
    res_opt = t.optimize()
    assert t.read().count() == 11
    assert all(f.dv_count == 0 for f in t.snapshot().files)

    # corrupted descriptors refuse: cardinality mismatch + row index
    # out of range
    for dv, marker in [
        ({**di.inline_dv_descriptor([1, 3]), "cardinality": 7},
         "cardinality"),
        (di.inline_dv_descriptor([99]), "masks row index"),
    ]:
        rb = str(tmp_path / f"bad{marker[:4]}")
        os.makedirs(rb)
        _stage_file(spark, _df(spark, 0, 4), rb, "f1.parquet")
        _write_log(rb, [[proto, _meta(spark, _df(spark, 0, 1)),
                         _add(rb, "f1.parquet", 4, deletionVector=dv)]])
        with pytest.raises(ValueError, match=marker):
            convert_from_delta(spark, rb)


def test_convert_column_mapping(spark, tmp_path):
    """mode=name converts: physical file columns read back under
    logical names, stats stay keyed physical and prune through the
    mapping, future writes stage physicals."""
    from pyspark.sql.types import LongType, StringType, StructField, \
        StructType

    root = str(tmp_path / "d")
    os.makedirs(root)
    # files carry PHYSICAL column names
    pdf = spark.range(0, 6).selectExpr(
        "id AS `col-aaaa`", "CAST(id AS STRING) AS `col-bbbb`")
    _stage_file(spark, pdf.where("`col-aaaa` < 3"), root, "f1.parquet")
    _stage_file(spark, pdf.where("`col-aaaa` >= 3"), root, "f2.parquet")
    sch = StructType([
        StructField("a", LongType(), True, {
            "delta.columnMapping.id": 1,
            "delta.columnMapping.physicalName": "col-aaaa"}),
        StructField("s", StringType(), True, {
            "delta.columnMapping.id": 2,
            "delta.columnMapping.physicalName": "col-bbbb"}),
    ])
    _write_log(root, [[
        _proto(mrv=2, mwv=5),
        _entry._delta_meta_action(
            sch.json(), cfg={"delta.columnMapping.mode": "name",
                             "delta.columnMapping.maxColumnId": "2"}),
        _add(root, "f1.parquet", 3,
             extra_stats={"minValues": {"col-aaaa": 0},
                          "maxValues": {"col-aaaa": 2}}),
        _add(root, "f2.parquet", 3,
             extra_stats={"minValues": {"col-aaaa": 3},
                          "maxValues": {"col-aaaa": 5}}),
    ]])
    convert_from_delta(spark, root)
    t = DeltaSparkTable(spark, root)
    out = t.read()
    assert set(out.columns) == {"a", "s"}
    assert sorted(r["a"] for r in out.collect()) == list(range(6))
    # stats prune through the mapping on the LOGICAL name
    snap = t.snapshot()
    assert len(t.pruned_files(snap, [("a", "<", 2)])) == 1
    # future writes stage physical names
    t.write(spark.range(100, 102).selectExpr(
        "id AS a", "CAST(id AS STRING) AS s"), WriteMode.append)
    assert t.read().count() == 8
    newest = max(t.snapshot().files, key=lambda f: f.modification_time)
    import pyarrow.parquet as pq

    phys = pq.ParquetFile(
        os.path.join(root, newest.path)).schema_arrow.names
    assert "col-aaaa" in phys and "a" not in phys
    # rename machinery stays coherent post-convert
    t.rename_column("s", "s2")
    assert set(t.read().columns) == {"a", "s2"}

    # a RENAMED partition column refuses (un-renamed partitioned
    # colmap converts since r15 — see
    # test_convert_colmap_partitioned)
    pcm_sch = StructType(list(sch.fields) + [
        StructField("p", StringType(), True, {
            "delta.columnMapping.id": 3,
            "delta.columnMapping.physicalName": "col-pppp"})])
    r2 = str(tmp_path / "dp")
    os.makedirs(r2)
    _stage_file(spark, pdf.limit(2), r2, "col-pppp=1/f1.parquet")
    _write_log(r2, [[
        _proto(mrv=2, mwv=5),
        _entry._delta_meta_action(
            pcm_sch.json(), pcols=["p"],
            cfg={"delta.columnMapping.mode": "name"}),
        _add(r2, "col-pppp=1/f1.parquet", 2, pv={"col-pppp": "1"}),
    ]])
    with pytest.raises(ValueError, match="renamed partition"):
        convert_from_delta(spark, r2)

    # physicalName metadata WITHOUT mode=name refuses (inconsistent)
    r3 = str(tmp_path / "dm")
    os.makedirs(r3)
    _stage_file(spark, pdf.limit(2), r3, "f1.parquet")
    _write_log(r3, [[
        _proto(), _entry._delta_meta_action(sch.json()),
        _add(r3, "f1.parquet", 2),
    ]])
    with pytest.raises(ValueError, match="inconsistent"):
        convert_from_delta(spark, r3)


def test_convert_timestamp_stats_prune(spark, tmp_path):
    """Delta's ISO/'Z' timestamp stats re-render on convert and the
    converted table file-skips on a timestamp predicate."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = str(tmp_path / "d")
    os.makedirs(root)
    df = spark.sql(
        "SELECT TIMESTAMP'2024-01-01 05:00:00' + make_interval(0,0,0,0,"
        "CAST(id AS INT),0,0) AS ts, id AS a FROM range(0, 4)")
    _stage_file(spark, df.where("a < 2"), root, "f1.parquet")
    _stage_file(spark, df.where("a >= 2"), root, "f2.parquet")
    _write_log(root, [[
        _proto(), _meta(spark, df.limit(0)),
        _add(root, "f1.parquet", 2, extra_stats={
            "minValues": {"ts": "2024-01-01T05:00:00.000Z", "a": 0},
            "maxValues": {"ts": "2024-01-01T06:00:00.000Z", "a": 1}}),
        _add(root, "f2.parquet", 2, extra_stats={
            "minValues": {"ts": "2024-01-01T07:00:00.000Z", "a": 2},
            "maxValues": {"ts": "2024-01-01T08:00:00.000Z", "a": 3}}),
    ]])
    convert_from_delta(spark, root)
    t = DeltaSparkTable(spark, root)
    snap = t.snapshot()
    # re-rendered to this engine's format; max widened by 999 us
    f1 = [f for f in snap.files if f.path == "f1.parquet"][0]
    assert f1.stats["minValues"]["ts"] == "2024-01-01 05:00:00"
    assert f1.stats["maxValues"]["ts"] == "2024-01-01 06:00:00.000999"
    # the pruning payoff: a timestamp range predicate skips f2
    kept = t.pruned_files(
        snap, [("ts", "<=", "2024-01-01 05:30:00")])
    assert [f.path for f in kept] == ["f1.parquet"]
    assert t.read(
        dnf=[("ts", "<=", "2024-01-01 05:30:00")]).count() == 1


def test_field_contracts_translate(spark, tmp_path):
    """r14: delta.generationExpression / delta.invariants are Spark
    SQL — they translate into dds.generatedColumns /
    dds.constraints.invariant_<col> and ENFORCE on future writes;
    the field metadata is stripped from the stored schema."""
    from pyspark.sql.types import DateType, LongType, StructField, \
        StructType, TimestampType

    root = str(tmp_path / "d")
    os.makedirs(root)
    df = spark.sql(
        "SELECT id AS a, TIMESTAMP'2024-01-02 03:00:00' AS ts, "
        "DATE'2024-01-02' AS d FROM range(1, 5)")
    _stage_file(spark, df, root, "f1.parquet")
    sch = StructType([
        StructField("a", LongType(), True, {
            "delta.invariants":
                '{"expression":{"expression":"a > 0"}}'}),
        StructField("ts", TimestampType(), True),
        StructField("d", DateType(), True, {
            "delta.generationExpression": "CAST(ts AS DATE)"}),
    ])
    p = _proto(mrv=1, mwv=7)
    p["protocol"]["writerFeatures"] = ["generatedColumns", "invariants"]
    _write_log(root, [[p, _entry._delta_meta_action(sch.json()),
                       _add(root, "f1.parquet", 4)]])
    convert_from_delta(spark, root)
    t = DeltaSparkTable(spark, root)
    props = t.describe_detail()["properties"]
    assert props["dds.constraints.invariant_a"] == "a > 0"
    assert json.loads(props["dds.generatedColumns"]) == {
        "d": "CAST(ts AS DATE)"}
    # metadata stripped from the stored schema
    from pyspark.sql.types import StructType as ST

    stored = ST.fromJson(json.loads(t.snapshot().schema_json))
    assert all(not f.metadata for f in stored.fields)
    # both contracts enforce on future writes
    from dagster_delta_spark import ConstraintViolationError

    bad = spark.sql("SELECT CAST(-1 AS BIGINT) AS a, "
                    "TIMESTAMP'2024-01-02 03:00:00' AS ts, "
                    "DATE'2024-01-02' AS d")
    with pytest.raises(ConstraintViolationError):
        t.write(bad, WriteMode.append)
    absent = spark.sql(
        "SELECT CAST(9 AS BIGINT) AS a, "
        "TIMESTAMP'2024-02-03 04:00:00' AS ts")
    t.write(absent, WriteMode.append)  # generated col computes
    got = t.read().where("a = 9").collect()[0]
    assert str(got["d"]) == "2024-02-03"

    # malformed invariant JSON refuses pointedly
    r2 = str(tmp_path / "badinv")
    os.makedirs(r2)
    _stage_file(spark, df, r2, "f1.parquet")
    sch2 = StructType([StructField("a", LongType(), True, {
        "delta.invariants": "not json"})])
    _write_log(r2, [[_proto(), _entry._delta_meta_action(sch2.json()),
                     _add(r2, "f1.parquet", 4)]])
    with pytest.raises(ValueError, match="invariant"):
        convert_from_delta(spark, r2)


def test_orphan_multipart_checkpoint_is_ignored(spark, tmp_path):
    """r14 review fix: an orphaned PARTIAL multi-part set (writer
    crashed mid-checkpoint; the spec says readers ignore it) must not
    refuse a table whose newer complete checkpoint reconstructs the
    head; and a refused DV convert must leave the source directory
    unmutated (no orphan _dv)."""
    root = str(tmp_path / "d")
    os.makedirs(root)
    _stage_file(spark, _df(spark, 0, 4), root, "f1.parquet")
    # orphan part 1-of-2 at v2
    _entry._write_delta_checkpoint(root, 2, [
        _proto(), _meta(spark, _df(spark, 0, 1)),
        _add(root, "f1.parquet", 4)], parts=2)
    os.remove(os.path.join(
        root, "_delta_log",
        "0" * 18 + "02.checkpoint.0000000002.0000000002.parquet"))
    # newer COMPLETE single-part at v5 (also rewrites _last_checkpoint)
    _entry._write_delta_checkpoint(root, 5, [
        _proto(), _meta(spark, _df(spark, 0, 1)),
        _add(root, "f1.parquet", 4)])
    res = convert_from_delta(spark, root)
    assert res["num_rows"] == 4 and res["delta_version"] == 5


def test_refused_dv_convert_leaves_no_sidecar(spark, tmp_path):
    from dagster_delta_spark import delta_interop as di

    root = str(tmp_path / "d")
    os.makedirs(root)
    _stage_file(spark, _df(spark, 0, 4), root, "f1.parquet")
    proto = {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["deletionVectors"],
                          "writerFeatures": ["deletionVectors"]}}
    _write_log(root, [[proto, _meta(spark, _df(spark, 0, 1)),
                       _add(root, "f1.parquet", 4,
                            deletionVector=di.inline_dv_descriptor(
                                [99]))]])
    with pytest.raises(ValueError, match="masks row index"):
        convert_from_delta(spark, root)
    assert not os.path.exists(os.path.join(root, "_dv"))
    assert not DeltaSparkTable(spark, root).exists()


def _write_v2_checkpoint(root, version, actions, fmt="json",
                         sidecar_adds=None, cp_version=None):
    """Spec-shaped V2 checkpoint: `<v>.checkpoint.<uuid>.<fmt>` with a
    checkpointMetadata action, optionally referencing a parquet
    sidecar under _delta_log/_sidecars/ for the file actions."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    dlog = os.path.join(root, "_delta_log")
    os.makedirs(dlog, exist_ok=True)
    def _strip_empty_pv(a):
        # pyarrow cannot infer/write an empty struct; convert treats
        # every missing dict field ({} partitionValues/configuration/
        # format options) as empty
        if isinstance(a, dict):
            return {k: _strip_empty_pv(v) for k, v in a.items()
                    if v != {}}
        return a

    rows = [{"checkpointMetadata": {
        "version": version if cp_version is None else cp_version}}]
    rows += [_strip_empty_pv(a) for a in actions]
    if sidecar_adds is not None:
        sdir = os.path.join(dlog, "_sidecars")
        os.makedirs(sdir, exist_ok=True)
        sname = f"{_uuid.uuid4()}.parquet"
        pq.write_table(pa.Table.from_pylist(
            [_strip_empty_pv(a) for a in sidecar_adds]),
            os.path.join(sdir, sname))
        rows.append({"sidecar": {"path": sname, "sizeInBytes": 1,
                                 "modificationTime": 1}})
    name = f"{version:020d}.checkpoint.{_uuid.uuid4()}.{fmt}"
    if fmt == "json":
        with open(os.path.join(dlog, name), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
    else:
        # from_pylist infers the schema from the first row — give
        # every row the full key set (None where absent) like a real
        # one-action-per-row checkpoint
        allkeys = []
        for r in rows:
            for k in r:
                if k not in allkeys:
                    allkeys.append(k)
        full = [{k: r.get(k) for k in allkeys} for r in rows]
        pq.write_table(pa.Table.from_pylist(full),
                       os.path.join(dlog, name))
    with open(os.path.join(dlog, "_last_checkpoint"), "w") as f:
        json.dump({"version": version, "size": len(rows)}, f)


def _v2_proto():
    return {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                         "readerFeatures": ["v2Checkpoint"],
                         "writerFeatures": ["v2Checkpoint"]}}


def test_v2_checkpoint_replays(spark, tmp_path):
    """r14: V2 (UUID-named) checkpoints replay — JSON and parquet
    main files, sidecar-based file actions, version-mismatch and
    missing-sidecar refusals."""
    # JSON main file with a parquet SIDECAR carrying the adds
    root = str(tmp_path / "d")
    os.makedirs(root)
    _stage_file(spark, _df(spark, 0, 5), root, "f1.parquet")
    _stage_file(spark, _df(spark, 5, 9), root, "f2.parquet")
    _write_v2_checkpoint(
        root, 3,
        [_v2_proto(), _meta(spark, _df(spark, 0, 1)),
         {"txn": {"appId": "up", "version": 4}}],
        fmt="json",
        sidecar_adds=[_add(root, "f1.parquet", 5),
                      _add(root, "f2.parquet", 4)])
    _entry._write_delta_commit(root, 4, [
        {"remove": {"path": "f2.parquet", "deletionTimestamp": 2,
                    "dataChange": True}}])
    res = convert_from_delta(spark, root)
    assert (res["num_rows"], res["delta_version"]) == (5, 4)
    assert DeltaSparkTable(spark, root).last_txn_version("up") == 4

    # parquet main file, actions inline (no sidecar)
    r2 = str(tmp_path / "d2")
    os.makedirs(r2)
    _stage_file(spark, _df(spark, 0, 4), r2, "f1.parquet")
    _write_v2_checkpoint(
        r2, 7,
        [_v2_proto(), _meta(spark, _df(spark, 0, 1)),
         _add(r2, "f1.parquet", 4)],
        fmt="parquet")
    res2 = convert_from_delta(spark, r2)
    assert (res2["num_rows"], res2["delta_version"]) == (4, 7)

    # checkpointMetadata version mismatch refuses
    r3 = str(tmp_path / "d3")
    os.makedirs(r3)
    _stage_file(spark, _df(spark, 0, 4), r3, "f1.parquet")
    _write_v2_checkpoint(
        r3, 5, [_v2_proto(), _meta(spark, _df(spark, 0, 1)),
                _add(r3, "f1.parquet", 4)],
        fmt="json", cp_version=9)
    with pytest.raises(ValueError, match="declares version"):
        convert_from_delta(spark, r3)

    # missing sidecar refuses
    r4 = str(tmp_path / "d4")
    os.makedirs(r4)
    _stage_file(spark, _df(spark, 0, 4), r4, "f1.parquet")
    _write_v2_checkpoint(
        r4, 2, [_v2_proto(), _meta(spark, _df(spark, 0, 1))],
        fmt="json",
        sidecar_adds=[_add(r4, "f1.parquet", 4)])
    import glob as _glob

    for sp in _glob.glob(os.path.join(r4, "_delta_log", "_sidecars",
                                      "*.parquet")):
        os.remove(sp)
    with pytest.raises(ValueError, match="sidecar"):
        convert_from_delta(spark, r4)


def test_v2_checkpoint_second_review_pins(spark, tmp_path):
    """r14 second-review fixes: (a) a pointer at a version holding
    BOTH an orphaned partial multi-part set and a complete v2
    checkpoint converts via the v2 file; (b) a v2 JSON checkpoint
    that lost its checkpointMetadata line (truncation) refuses; (c)
    a malformed multi-key JSON action line refuses pointedly."""
    import uuid as _uuid

    # (a) orphan part + complete v2 at the SAME version
    root = str(tmp_path / "d")
    os.makedirs(root)
    _stage_file(spark, _df(spark, 0, 4), root, "f1.parquet")
    _entry._write_delta_checkpoint(root, 5, [
        _proto(), _meta(spark, _df(spark, 0, 1)),
        _add(root, "f1.parquet", 4)], parts=2)
    os.remove(os.path.join(
        root, "_delta_log",
        "0" * 19 + "5.checkpoint.0000000002.0000000002.parquet"))
    _write_v2_checkpoint(root, 5, [
        _v2_proto(), _meta(spark, _df(spark, 0, 1)),
        _add(root, "f1.parquet", 4)], fmt="json")
    res = convert_from_delta(spark, root)
    assert (res["num_rows"], res["delta_version"]) == (4, 5)

    # (b) truncated v2 JSON (checkpointMetadata line lost) refuses
    r2 = str(tmp_path / "d2")
    os.makedirs(r2)
    _stage_file(spark, _df(spark, 0, 4), r2, "f1.parquet")
    dlog = os.path.join(r2, "_delta_log")
    os.makedirs(dlog)
    name = f"{2:020d}.checkpoint.{_uuid.uuid4()}.json"
    with open(os.path.join(dlog, name), "w") as f:
        for a in [_v2_proto(), _meta(spark, _df(spark, 0, 1)),
                  _add(r2, "f1.parquet", 4)]:
            f.write(json.dumps(a) + "\n")
    with open(os.path.join(dlog, "_last_checkpoint"), "w") as f:
        json.dump({"version": 2, "size": 4}, f)
    with pytest.raises(ValueError, match="exactly.*one|exactly one"):
        convert_from_delta(spark, r2)

    # (c) malformed multi-key action line refuses pointedly
    r3 = str(tmp_path / "d3")
    os.makedirs(r3)
    _stage_file(spark, _df(spark, 0, 4), r3, "f1.parquet")
    dlog3 = os.path.join(r3, "_delta_log")
    os.makedirs(dlog3)
    name3 = f"{2:020d}.checkpoint.{_uuid.uuid4()}.json"
    with open(os.path.join(dlog3, name3), "w") as f:
        f.write(json.dumps({"checkpointMetadata": {"version": 2},
                            "txn": {"appId": "x", "version": 1}})
                + "\n")
    with open(os.path.join(dlog3, "_last_checkpoint"), "w") as f:
        json.dump({"version": 2, "size": 1}, f)
    with pytest.raises(ValueError, match="malformed"):
        convert_from_delta(spark, r3)


def test_truncated_run_container_refuses():
    """r14 second review: a DV blob truncated inside a run container
    raises DeltaInteropError, not a bare numpy ValueError."""
    import struct as _struct

    from dagster_delta_spark import delta_interop as di

    n = 1
    cookie = ((n - 1) << 16) | 12347
    body = _struct.pack("<I", cookie) + b"\x01"
    body += _struct.pack("<HH", 0, 9)   # key 0, card-1 = 9
    body += _struct.pack("<H", 3)       # claims 3 runs
    body += _struct.pack("<HH", 10, 1)  # ...but only one present
    arr = _struct.pack("<iq", 1681511377, 1) + body
    with pytest.raises(di.DeltaInteropError, match="truncated"):
        di.deserialize_roaring_array(arr)


def test_convert_colmap_partitioned(spark, tmp_path):
    """r15: partitioned column-mapped tables convert when the
    partition columns are UN-renamed (physical == logical — what an
    upgraded-then-renamed-a-data-column table looks like): hive dirs
    and partitionValues align with the logical partition machinery
    while data columns still alias physical→logical."""
    from pyspark.sql.types import LongType, StringType, StructField, \
        StructType

    root = str(tmp_path / "d")
    os.makedirs(root)
    pdf = spark.range(0, 6).selectExpr("id AS `col-aaaa`")
    _stage_file(spark, pdf.where("`col-aaaa` < 3"), root,
                "p=x/f1.parquet")
    _stage_file(spark, pdf.where("`col-aaaa` >= 3"), root,
                "p=y/f2.parquet")
    sch = StructType([
        StructField("a", LongType(), True, {
            "delta.columnMapping.id": 1,
            "delta.columnMapping.physicalName": "col-aaaa"}),
        StructField("p", StringType(), True, {
            "delta.columnMapping.id": 2,
            "delta.columnMapping.physicalName": "p"}),
    ])
    _write_log(root, [[
        _proto(mrv=2, mwv=5),
        _entry._delta_meta_action(
            sch.json(), pcols=["p"],
            cfg={"delta.columnMapping.mode": "name",
                 "delta.columnMapping.maxColumnId": "2"}),
        _add(root, "p=x/f1.parquet", 3, pv={"p": "x"}),
        _add(root, "p=y/f2.parquet", 3, pv={"p": "y"}),
    ]])
    convert_from_delta(spark, root)
    t = DeltaSparkTable(spark, root)
    out = t.read()
    assert set(out.columns) == {"a", "p"}
    rows = sorted((r["a"], r["p"]) for r in out.collect())
    assert rows == [(0, "x"), (1, "x"), (2, "x"),
                    (3, "y"), (4, "y"), (5, "y")]
    # partition pruning works on the logical name
    snap = t.snapshot()
    assert len(t.pruned_files(snap, [("p", "=", "x")])) == 1
    # partition-scoped write machinery still composes
    t.write(spark.range(10, 12).selectExpr(
        "id AS a", "'z' AS p"), WriteMode.append)
    assert t.read(dnf=[("p", "=", "z")]).count() == 2
    # partition-column rename still refuses post-convert
    with pytest.raises(ValueError):
        t.rename_column("p", "p2")


# field-id staging: ONE shared encoding (entry._stage_field_id_file)


def test_convert_id_mode(spark, tmp_path):
    """r15: delta.columnMapping.mode='id' converts when every live
    file's footer PROVES field-id and physical-name resolution agree
    (delta-spark writes both consistently); a diverging file
    refuses."""
    from pyspark.sql.types import LongType, StringType, StructField, \
        StructType

    root = str(tmp_path / "d")
    os.makedirs(root)
    pdf = spark.range(0, 6).selectExpr(
        "id AS `col-aaaa`", "CAST(id AS STRING) AS `col-bbbb`")
    ids = {"col-aaaa": 1, "col-bbbb": 2}
    _entry._stage_field_id_file(pdf.where("`col-aaaa` < 3"), root,
                                "f1.parquet", ids)
    _entry._stage_field_id_file(pdf.where("`col-aaaa` >= 3"), root,
                                "f2.parquet", ids)
    sch = StructType([
        StructField("a", LongType(), True, {
            "delta.columnMapping.id": 1,
            "delta.columnMapping.physicalName": "col-aaaa"}),
        StructField("s", StringType(), True, {
            "delta.columnMapping.id": 2,
            "delta.columnMapping.physicalName": "col-bbbb"}),
    ])
    meta = _entry._delta_meta_action(
        sch.json(), cfg={"delta.columnMapping.mode": "id",
                         "delta.columnMapping.maxColumnId": "2"})
    _write_log(root, [[_proto(mrv=2, mwv=5), meta,
                       _add(root, "f1.parquet", 3),
                       _add(root, "f2.parquet", 3)]])
    convert_from_delta(spark, root)
    t = DeltaSparkTable(spark, root)
    out = t.read()
    assert set(out.columns) == {"a", "s"}
    assert sorted(r["a"] for r in out.collect()) == list(range(6))
    # the mapping machinery is the same one name-mode lands on
    props = t.describe_detail()["properties"]
    assert json.loads(props["dds.columnMapping"]) == {
        "a": "col-aaaa", "s": "col-bbbb"}

    # DIVERGING file refuses: field id 1 bound to a different column
    # name than the schema's physicalName
    r2 = str(tmp_path / "bad")
    os.makedirs(r2)
    _entry._stage_field_id_file(
        pdf.where("`col-aaaa` < 3"), r2, "f1.parquet",
        {"col-aaaa": 2, "col-bbbb": 1})  # swapped
    _write_log(r2, [[_proto(mrv=2, mwv=5), meta,
                     _add(r2, "f1.parquet", 3)]])
    with pytest.raises(ValueError, match="diverge"):
        convert_from_delta(spark, r2)
    assert not DeltaSparkTable(spark, r2).exists()

    # a file WITHOUT field ids that still carries the physical column
    # refuses too (an id-mode reader would not resolve it)
    r3 = str(tmp_path / "noids")
    os.makedirs(r3)
    _stage_file(spark, pdf.where("`col-aaaa` < 3"), r3, "f1.parquet")
    _write_log(r3, [[_proto(mrv=2, mwv=5), meta,
                     _add(r3, "f1.parquet", 3)]])
    with pytest.raises(ValueError, match="no field id"):
        convert_from_delta(spark, r3)


def test_checkpoint_ahead_of_json_tail(spark, tmp_path):
    """r15 (+ review pins): a checkpoint AHEAD of a contiguous JSON
    tail means the JSON understates the head (partially-copied log).
    A decodable ahead checkpoint replays; an undecodable claim
    refuses; junk at-or-below the head and malformed pointers change
    nothing."""
    # (a) complete checkpoint at 2 + stale JSON 0..1: the checkpoint
    # state wins (every real Delta reader reconstructs it)
    root = str(tmp_path / "ahead")
    os.makedirs(root)
    _stage_file(spark, _df(spark, 0, 3), root, "f1.parquet")
    _stage_file(spark, _df(spark, 3, 8), root, "f2.parquet")
    _write_log(root, [
        [_proto(), _meta(spark, _df(spark, 0, 1)),
         _add(root, "f1.parquet", 3)],
        [_add(root, "f1.parquet", 3)],  # stale tail
    ])
    _entry._write_delta_checkpoint(root, 2, [
        _proto(), _meta(spark, _df(spark, 0, 1)),
        _add(root, "f2.parquet", 5)])
    res = convert_from_delta(spark, root)
    assert res["delta_version"] == 2 and res["num_rows"] == 5
    t = DeltaSparkTable(spark, root)
    assert sorted(r["a"] for r in t.read().collect()) == \
        list(range(3, 8))

    # (b) a bare _last_checkpoint pointer ahead with NO checkpoint
    # file refuses (state unreconstructable, JSON understates head)
    r2 = str(tmp_path / "ptr")
    os.makedirs(r2)
    _stage_file(spark, _df(spark, 0, 3), r2, "f1.parquet")
    _write_log(r2, [[_proto(), _meta(spark, _df(spark, 0, 1)),
                     _add(r2, "f1.parquet", 3)]])
    with open(os.path.join(r2, "_delta_log", "_last_checkpoint"),
              "w") as f:
        json.dump({"version": 5}, f)
    with pytest.raises(ValueError, match="no decodable checkpoint"):
        convert_from_delta(spark, r2)

    # (c) an orphaned partial multi-part set AHEAD of what checkpoint
    # + tail reconstruct refuses — replaying the older complete
    # checkpoint would silently convert a stale state
    r3 = str(tmp_path / "orph")
    os.makedirs(r3)
    _stage_file(spark, _df(spark, 0, 3), r3, "f1.parquet")
    _write_log(r3, [
        [_proto(), _meta(spark, _df(spark, 0, 1)),
         _add(r3, "f1.parquet", 3)],
        [{"txn": {"appId": "x", "version": 1}}],
        [{"txn": {"appId": "x", "version": 2}}],
    ])
    _entry._write_delta_checkpoint(r3, 1, [
        _proto(), _meta(spark, _df(spark, 0, 1)),
        _add(r3, "f1.parquet", 3)])
    # overwrite the pointer so it doesn't select version 1 exactly,
    # then plant an orphan part claiming version 5
    os.remove(os.path.join(r3, "_delta_log", "_last_checkpoint"))
    orphan = os.path.join(
        r3, "_delta_log",
        f"{5:020d}.checkpoint.{1:010d}.{3:010d}.parquet")
    with open(orphan, "wb") as f:
        f.write(b"junk")
    with pytest.raises(ValueError, match="reconstruct only"):
        convert_from_delta(spark, r3)

    # (d) malformed _last_checkpoint ({"version": null}) over a
    # complete JSON log is IGNORED — the convert proceeds
    r4 = str(tmp_path / "mal")
    os.makedirs(r4)
    _stage_file(spark, _df(spark, 0, 4), r4, "f1.parquet")
    _write_log(r4, [[_proto(), _meta(spark, _df(spark, 0, 1)),
                     _add(r4, "f1.parquet", 4)]])
    with open(os.path.join(r4, "_delta_log", "_last_checkpoint"),
              "w") as f:
        f.write('{"version": null}')
    res4 = convert_from_delta(spark, r4)
    assert res4["num_rows"] == 4 and res4["delta_version"] == 0


def test_convert_preserve_history(spark, tmp_path):
    """r15: preserve_history replays every Delta JSON commit as one
    native commit — time travel, read_changes and the txn ledger span
    the pre-convert history."""
    root = str(tmp_path / "d")
    os.makedirs(root)
    _stage_file(spark, _df(spark, 0, 5), root, "f1.parquet")
    _stage_file(spark, _df(spark, 5, 9), root, "f2.parquet")
    _stage_file(spark, _df(spark, 9, 12), root, "f3.parquet")
    _write_log(root, [
        [_proto(), _meta(spark, _df(spark, 0, 1)),
         _add(root, "f1.parquet", 5)],
        [_add(root, "f2.parquet", 4),
         {"txn": {"appId": "up", "version": 3}}],
        [{"remove": {"path": "f2.parquet", "deletionTimestamp": 1,
                     "dataChange": True}},
         _add(root, "f3.parquet", 3)],
        [{"remove": {"path": "f3.parquet", "deletionTimestamp": 2,
                     "dataChange": True}}],
    ])
    res = convert_from_delta(spark, root, preserve_history=True)
    assert res["history_preserved"] and res["version"] == 3
    assert res["num_rows"] == 5
    t = DeltaSparkTable(spark, root)
    # time travel reproduces every historical state
    assert t.read(version=0).count() == 5
    assert sorted(r["a"] for r in t.read(version=1).collect()) == \
        list(range(9))
    assert sorted(r["a"] for r in t.read(version=2).collect()) == \
        list(range(5)) + [9, 10, 11]
    assert t.read(version=3).count() == 5
    # the txn ledger lands at its version and survives to head
    assert t.last_txn_version("up") == 3
    # incremental feed: v1 is an append (pure delta); v2 is a
    # rewrite (raises without the escape hatch); v3 is a metadata
    # delete whose ROW-LEVEL feed emits the dropped rows
    inc = t.read_changes(0, 1)
    assert sorted(r["a"] for r in inc.collect()) == [5, 6, 7, 8]
    with pytest.raises(ValueError, match="rewrite"):
        t.read_changes(1, 2)
    dele = t.read_changes(2, 3, row_level=True)
    assert sorted((r["a"], r["_change_type"]) for r in dele.collect()) \
        == [(9, "delete"), (10, "delete"), (11, "delete")]
    # the converted table is fully writable and versioned onward
    t.write(_df(spark, 100, 102), WriteMode.append)
    assert t.version() == 4 and t.read().count() == 7


def test_convert_preserve_history_evolution_and_refusals(spark,
                                                         tmp_path):
    # schema evolution mid-history replays: v1 adds a column; time
    # travel reads each version under its own schema
    root = str(tmp_path / "ev")
    os.makedirs(root)
    _stage_file(spark, _df(spark, 0, 3), root, "f1.parquet")
    wide = spark.sql(
        "SELECT id AS a, CAST(id * 2 AS DOUBLE) AS b, "
        "CAST(id AS STRING) AS s, id * 10 AS extra FROM range(3, 5)")
    _stage_file(spark, wide, root, "f2.parquet")
    _write_log(root, [
        [_proto(), _meta(spark, _df(spark, 0, 1)),
         _add(root, "f1.parquet", 3)],
        [_entry._delta_meta_action(wide.schema.json()),
         _add(root, "f2.parquet", 2)],
    ])
    res = convert_from_delta(spark, root, preserve_history=True)
    assert res["version"] == 1
    t = DeltaSparkTable(spark, root)
    assert "extra" not in t.read(version=0).columns
    head = t.read()
    assert sorted(
        (r["a"], r["extra"]) for r in head.collect()) == [
        (0, None), (1, None), (2, None), (3, 30), (4, 40)]

    # OPTIMIZE-shaped commits (all dataChange=false) classify as
    # compaction: read_changes skips them
    r5 = str(tmp_path / "opt")
    os.makedirs(r5)
    _stage_file(spark, _df(spark, 0, 3), r5, "f1.parquet")
    _stage_file(spark, _df(spark, 0, 3), r5, "f1c.parquet")
    add_nc = _add(r5, "f1c.parquet", 3)
    add_nc["add"]["dataChange"] = False
    _write_log(r5, [
        [_proto(), _meta(spark, _df(spark, 0, 1)),
         _add(r5, "f1.parquet", 3)],
        [add_nc, {"remove": {"path": "f1.parquet",
                             "deletionTimestamp": 1,
                             "dataChange": False}}],
    ])
    convert_from_delta(spark, r5, preserve_history=True)
    t5 = DeltaSparkTable(spark, r5)
    assert t5.read_changes(0, 1).count() == 0  # compaction skipped
    assert t5.read().count() == 3

    # refusals: DV history; vacuumed historical file; checkpointed log
    r2 = str(tmp_path / "dv")
    os.makedirs(r2)
    _stage_file(spark, _df(spark, 0, 4), r2, "f1.parquet")
    from dagster_delta_spark import delta_interop

    dv = delta_interop.inline_dv_descriptor([0])
    _write_log(r2, [
        [{"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                       "readerFeatures": ["deletionVectors"],
                       "writerFeatures": ["deletionVectors"]}},
         _meta(spark, _df(spark, 0, 1)),
         _add(r2, "f1.parquet", 4, deletionVector=dv)],
    ])
    with pytest.raises(ValueError,
                       match="histories do not replay"):
        convert_from_delta(spark, r2, preserve_history=True)
    assert not DeltaSparkTable(spark, r2).exists()

    r3 = str(tmp_path / "vac")
    os.makedirs(r3)
    _stage_file(spark, _df(spark, 0, 3), r3, "f2.parquet")
    gone_add = {"add": {"path": "gone.parquet", "partitionValues": {},
                        "size": 100, "modificationTime": 1,
                        "dataChange": True,
                        "stats": "{\"numRecords\": 2}"}}
    _write_log(r3, [
        [_proto(), _meta(spark, _df(spark, 0, 1)), gone_add],
        [{"remove": {"path": "gone.parquet", "deletionTimestamp": 1,
                     "dataChange": True}},
         _add(r3, "f2.parquet", 3)],
    ])
    with pytest.raises(FileNotFoundError, match="preserve_history"):
        convert_from_delta(spark, r3, preserve_history=True)
    # the SNAPSHOT convert of the same log works (head needs only f2)
    res3 = convert_from_delta(spark, r3)
    assert res3["num_rows"] == 3

    r4 = str(tmp_path / "cp")
    os.makedirs(r4)
    _stage_file(spark, _df(spark, 0, 4), r4, "f1.parquet")
    _entry._write_delta_checkpoint(r4, 2, [
        _proto(), _meta(spark, _df(spark, 0, 1)),
        _add(r4, "f1.parquet", 4)])
    with pytest.raises(ValueError, match="checkpoint-reconstructed"):
        convert_from_delta(spark, r4, preserve_history=True)


def test_preserve_history_timestamps_order_atomicity(spark, tmp_path,
                                                     monkeypatch):
    """Review pins: (a) source commit timestamps carry over so
    timestamp_as_of addresses the pre-convert history; (b) data ops
    replay in ACTION ORDER (add-then-remove of one path folds like
    the head pass); (c) a crash mid-replay leaves NOTHING at the
    root — the replay stages into a shadow log and renames
    atomically."""
    root = str(tmp_path / "d")
    os.makedirs(root)
    _stage_file(spark, _df(spark, 0, 3), root, "f1.parquet")
    _stage_file(spark, _df(spark, 3, 5), root, "f2.parquet")
    t0 = 1_600_000_000_000
    c0 = [_proto(), _meta(spark, _df(spark, 0, 1)),
          _add(root, "f1.parquet", 3)]
    c0[0:0] = [{"commitInfo": {"timestamp": t0, "operation": "WRITE"}}]
    # v1: add f2 then REMOVE it in the same commit (UPDATE-ish churn)
    c1 = [{"commitInfo": {"timestamp": t0 + 86_400_000,
                          "operation": "MERGE"}},
          _add(root, "f2.parquet", 2),
          {"remove": {"path": "f2.parquet", "deletionTimestamp": 1,
                      "dataChange": True}}]
    c2 = [{"commitInfo": {"timestamp": t0 + 2 * 86_400_000,
                          "operation": "WRITE"}},
          _add(root, "f2.parquet", 2)]
    _write_log(root, [c0, c1, c2])

    # (c) crash at version 2: nothing must appear at the root
    from dagster_delta_spark import tablelog as tl

    real_commit = tl.commit

    def _boom(table_uri, version, actions, snapshot_after=None):
        if version == 2:
            raise RuntimeError("simulated crash")
        return real_commit(table_uri, version, actions,
                           snapshot_after)

    monkeypatch.setattr(tl, "commit", _boom)
    with pytest.raises(RuntimeError, match="simulated"):
        convert_from_delta(spark, root, preserve_history=True)
    monkeypatch.undo()
    assert not os.path.exists(os.path.join(root, tl.LOG_DIR))
    assert not any(n.startswith(".convert-replay-")
                   for n in os.listdir(root))

    # retry succeeds cleanly
    res = convert_from_delta(spark, root, preserve_history=True)
    assert res["version"] == 2
    t = DeltaSparkTable(spark, root)
    # (b) v1's add-then-remove folded in order: f2 gone at v1
    assert t.read(version=1).count() == 3
    assert t.read(version=2).count() == 5
    # (a) timestamp time travel hits the historical instants
    from datetime import datetime, timezone

    day1 = datetime.fromtimestamp((t0 + 3_600_000) / 1000,
                                  tz=timezone.utc)
    assert t.read(timestamp_as_of=day1).count() == 3
    day3 = datetime.fromtimestamp((t0 + 2 * 86_400_000 + 1) / 1000,
                                  tz=timezone.utc)
    assert t.read(timestamp_as_of=day3).count() == 5


def test_convert_type_widening(spark, tmp_path):
    """r15: typeWidening tables convert — files written under the
    NARROWER type read under the widened schema (Spark's parquet
    reader performs the spec's promotions), the bookkeeping field
    metadata stays inert, and the export direction re-declares the
    feature so foreign readers of the still-narrow files are
    warned."""
    root = str(tmp_path / "d")
    os.makedirs(root)
    tw_md = _entry._TW_META["a"]
    df = spark.sql("SELECT CAST(id + 1 AS BIGINT) AS a, "
                   "CAST(id + 1.5 AS DOUBLE) AS b FROM range(0, 3)")
    # ONE fixture encoding (entry/bench/tests): narrow int32/float32
    # file + widened long/double schema + 3/7 typeWidening protocol
    assert _entry._build_typewide_fixture(spark, df, root) == 3
    convert_from_delta(spark, root)
    t = DeltaSparkTable(spark, root)
    out = t.read()
    assert dict(out.dtypes) == {"a": "bigint", "b": "double"}
    assert sorted((r["a"], r["b"]) for r in out.collect()) == \
        [(1, 1.5), (2, 2.5), (3, 3.5)]
    # writes land under the WIDE type and read alongside narrow files
    t.write(spark.sql("SELECT CAST(9 AS BIGINT) AS a, "
                      "CAST(9.5 AS DOUBLE) AS b"), WriteMode.append)
    assert t.read().count() == 4
    assert t.read().where("a = 9").collect()[0]["b"] == 9.5

    # export re-declares the feature (narrow files still referenced);
    # the fixture's foreign log is inert after convert — drop it so
    # the one-shot export can publish
    import shutil as _sh0

    from dagster_delta_spark import export_delta_log

    _sh0.rmtree(os.path.join(root, "_delta_log"))
    export_delta_log(spark, root)
    with open(os.path.join(root, "_delta_log",
                           "0" * 20 + ".json")) as f:
        actions = [json.loads(line) for line in f]
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert proto["minReaderVersion"] == 3
    assert "typeWidening" in proto["readerFeatures"]
    assert "typeWidening" in proto["writerFeatures"]
    meta = next(a["metaData"] for a in actions if "metaData" in a)
    fld = json.loads(meta["schemaString"])["fields"][0]
    assert fld["metadata"]["delta.typeWidening"] == tw_md

    # full round trip: the re-imported copy reads identically
    import shutil as _sh

    from dagster_delta_spark.tablelog import LOG_DIR

    dst = str(tmp_path / "rt")
    _sh.copytree(root, dst, ignore=_sh.ignore_patterns(LOG_DIR))
    convert_from_delta(spark, dst)
    back = DeltaSparkTable(spark, dst)
    assert sorted(tuple(r) for r in back.read().collect()) == \
        sorted(tuple(r) for r in t.read().collect())


def test_type_widening_guards(spark, tmp_path):
    """Review pins (r15): (a) delta.enableTypeWidening is a writer-
    machinery claim this engine does not run — stripped into
    dropped_configuration like enableChangeDataFeed; (b) a recorded
    widening pair OUTSIDE the verified promotion classes refuses AT
    CONVERT (accept-then-crash-at-first-read would break the
    pointed-refusal contract)."""
    from pyspark.sql.types import LongType, StructField, StructType, \
        TimestampType

    # (a) property stripped and reported
    root = str(tmp_path / "prop")
    os.makedirs(root)
    _stage_file(spark, _df(spark, 0, 3), root, "f1.parquet")
    _write_log(root, [[
        _proto(), _meta(spark, _df(spark, 0, 1),
                        cfg={"delta.enableTypeWidening": "true"}),
        _add(root, "f1.parquet", 3)]])
    res = convert_from_delta(spark, root)
    assert "delta.enableTypeWidening" in res["dropped_configuration"]
    props = DeltaSparkTable(spark, root).describe_detail()["properties"]
    assert "delta.enableTypeWidening" not in props

    # (b) date->timestamp (and any unverified pair) refuses pointedly
    r2 = str(tmp_path / "bad")
    os.makedirs(r2)
    _stage_file(spark, spark.sql(
        "SELECT TIMESTAMP'2024-01-01 00:00:00' AS t"), r2,
        "f1.parquet")
    sch = StructType([StructField("t", TimestampType(), True, {
        "delta.typeWidening": [{"fromType": "date",
                                "toType": "timestampNtz",
                                "tableVersion": 1}]})])
    _write_log(r2, [[
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["typeWidening"],
                      "writerFeatures": ["typeWidening"]}},
        _entry._delta_meta_action(sch.json()),
        _add(r2, "f1.parquet", 1)]])
    with pytest.raises(ValueError, match="not\\s+verified"):
        convert_from_delta(spark, r2)
    assert not DeltaSparkTable(spark, r2).exists()

    # decimal shrink (scale up but integer part down) refuses too
    r3 = str(tmp_path / "decbad")
    os.makedirs(r3)
    _stage_file(spark, spark.sql(
        "SELECT CAST(1.5 AS DECIMAL(10,2)) AS m"), r3, "f1.parquet")
    from pyspark.sql.types import DecimalType

    sch3 = StructType([StructField("m", DecimalType(10, 4), True, {
        "delta.typeWidening": [{"fromType": "decimal(10,2)",
                                "toType": "decimal(10,4)",
                                "tableVersion": 1}]})])
    _write_log(r3, [[
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["typeWidening"],
                      "writerFeatures": ["typeWidening"]}},
        _entry._delta_meta_action(sch3.json()),
        _add(r3, "f1.parquet", 1)]])
    with pytest.raises(ValueError, match="not\\s+verified"):
        convert_from_delta(spark, r3)


def test_many_stats_less_adds_count_from_footers(spark, tmp_path):
    """40 live and 40 historical stats-less adds: every numRecords,
    at head and in the replayed history, comes from the file's
    footer."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path / "d")
    os.makedirs(root)

    def adds(lo, hi):
        out = []
        for i in range(lo, hi):  # file i holds i + 1 rows
            rel = f"f{i:02d}.parquet"
            ids = list(range(1000 * i, 1000 * i + i + 1))
            pq.write_table(pa.table({
                "a": pa.array(ids, pa.int64()),
                "b": pa.array([2.0 * v for v in ids], pa.float64()),
                "s": [str(v) for v in ids]}), os.path.join(root, rel))
            a = _add(root, rel, 0)
            del a["add"]["stats"]
            out.append(a)
        return out

    removes = [{"remove": {"path": f"f{i:02d}.parquet",
                           "deletionTimestamp": 1, "dataChange": True}}
               for i in range(40)]
    _write_log(root, [
        [_proto(), _meta(spark, _df(spark, 0, 1))] + adds(0, 40),
        removes + adds(40, 80),
    ])
    res = convert_from_delta(spark, root, preserve_history=True)
    assert res["num_rows"] == sum(range(41, 81))
    t = DeltaSparkTable(spark, root)
    for version, lo in ((0, 0), (1, 40)):
        snap = t.snapshot(version)
        assert sorted((a.path, a.num_records) for a in snap.files) == [
            (f"f{i:02d}.parquet", i + 1) for i in range(lo, lo + 40)]
    assert t.read(version=0).count() == sum(range(1, 41))
