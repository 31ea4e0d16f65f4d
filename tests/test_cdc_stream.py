"""Row-level CDC streaming source (streaming/table_source.py,
``option("readChangeFeed", "true")``) — the Delta CDF streaming
contract, derived from merge-on-read commits instead of stored change
files.  The invariant under test: the stream's accumulated output is
EXACTLY ``read_changes(row_level=True)`` over the same version range.
"""

import pytest

from dagster_delta_spark import DeltaSparkTable, WriteMode
from dagster_delta_spark.streaming import DeltaSparkTableDataSource


def _cdc_stream(spark, uri, name, checkpoint=None):
    spark.dataSource.register(DeltaSparkTableDataSource)
    w = (spark.readStream.format("dds_table").option("path", uri)
         .option("readChangeFeed", "true").load()
         .writeStream.format("memory").queryName(name)
         .outputMode("append"))
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w.start()


def _rows(df, cols=("id", "v", "_change_type", "_commit_version")):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_stream_equals_batch_row_level_feed(spark, tmp_path):
    t = DeltaSparkTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame(
        [(i, i * 10) for i in range(20)], "id long, v long"),
        WriteMode.error)                                        # v0
    t.delete("v >= 150", use_dv=True)                           # v1
    t.update({"v": "v + 1"}, "id < 3", use_dv=True)             # v2
    t.write(spark.createDataFrame(
        [(i, i) for i in range(20, 25)], "id long, v long"),
        WriteMode.append)                                       # v3
    q = _cdc_stream(spark, t.table_uri, "cdc_eq_batch")
    q.processAllAvailable()
    q.stop()
    got = _rows(spark.table("cdc_eq_batch"))
    want = _rows(t.read_changes(-1, row_level=True))
    assert got == want
    assert {r[2] for r in got} == {
        "insert", "delete", "update_preimage", "update_postimage"}


def test_changes_arriving_while_live_emit_once(spark, tmp_path):
    t = DeltaSparkTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame(
        [(i, i) for i in range(10)], "id long, v long"), WriteMode.error)
    q = _cdc_stream(spark, t.table_uri, "cdc_live")
    q.processAllAvailable()
    t.delete("id >= 8", use_dv=True)
    t.optimize()  # compaction contributes nothing to the feed
    t.write(spark.createDataFrame([(10, 10)], "id long, v long"),
            WriteMode.append)
    q.processAllAvailable()
    q.stop()
    got = _rows(spark.table("cdc_live"))
    assert got.count((8, 8, "delete", 1)) == 1
    assert got == _rows(t.read_changes(-1, row_level=True))


def test_metadata_delete_emits_dropped_partition_rows(spark, tmp_path):
    t = DeltaSparkTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "b")], "id long, p string"),
        WriteMode.error, partition_columns=["p"])
    t.delete("p = 'b'")  # pure-metadata commit, no adds
    q = _cdc_stream(spark, t.table_uri, "cdc_meta")
    q.processAllAvailable()
    q.stop()
    got = _rows(spark.table("cdc_meta"),
                cols=("_change_type", "id", "p"))
    assert got == [("delete", 2, "b"), ("delete", 3, "b"),
                   ("insert", 1, "a"), ("insert", 2, "b"),
                   ("insert", 3, "b")]


def test_copy_rewrite_fails_the_stream(spark, tmp_path):
    t = DeltaSparkTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame(
        [(i, i) for i in range(8)], "id long, v long").coalesce(1),
        WriteMode.error)
    q = _cdc_stream(spark, t.table_uri, "cdc_rw")
    q.processAllAvailable()
    t.delete("v = 3")  # partial-file copy rewrite
    with pytest.raises(Exception, match="rewrite|DELETE"):
        q.processAllAvailable()
    q.stop()


def test_checkpoint_restart_resumes_without_duplicates(spark, tmp_path):
    spark.dataSource.register(DeltaSparkTableDataSource)
    t = DeltaSparkTable(spark, str(tmp_path / "t"))
    cp = str(tmp_path / "cp")
    t.write(spark.createDataFrame(
        [(i, i) for i in range(6)], "id long, v long"), WriteMode.error)
    seen: list[tuple] = []

    def start():
        return (spark.readStream.format("dds_table")
                .option("path", t.table_uri)
                .option("readChangeFeed", "true").load()
                .writeStream.foreachBatch(
                    lambda df, _id: seen.extend(
                        (r["id"], r["v"], r["_change_type"],
                         r["_commit_version"]) for r in df.collect()))
                .option("checkpointLocation", cp).start())

    q = start()
    q.processAllAvailable()
    q.stop()
    assert len(seen) == 6
    t.delete("id < 2", use_dv=True)
    q = start()  # restart from the checkpoint
    q.processAllAvailable()
    q.stop()
    # the restart replays nothing — only the new commit arrives
    assert len(seen) == 8
    dels = sorted(r for r in seen if r[2] == "delete")
    assert dels == [(0, 0, "delete", 1), (1, 1, "delete", 1)]
    assert sum(1 for r in seen if r[2] == "insert") == 6  # not re-emitted


def test_second_dv_delete_emits_only_newly_masked(spark, tmp_path):
    """Sidecars carry the full union mask; the feed must diff against
    the pre-commit mask or earlier deletes would re-emit."""
    t = DeltaSparkTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame(
        [(i, i) for i in range(10)], "id long, v long").coalesce(1),
        WriteMode.error)
    t.delete("id >= 8", use_dv=True)   # v1 masks 8,9
    t.delete("id >= 6", use_dv=True)   # v2 union-masks 6..9; new: 6,7
    q = _cdc_stream(spark, t.table_uri, "cdc_union")
    q.processAllAvailable()
    q.stop()
    got = _rows(spark.table("cdc_union"))
    dels = [r for r in got if r[2] == "delete"]
    assert dels == [(6, 6, "delete", 2), (7, 7, "delete", 2),
                    (8, 8, "delete", 1), (9, 9, "delete", 1)]


def test_column_mapped_table_streams_logical_names(spark, tmp_path):
    """Regression: files of a renamed column carry the frozen PHYSICAL
    name — the source must translate, not null-fill the logical name
    as a late column (plain and CDC modes)."""
    t = DeltaSparkTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame([(1, 10), (2, 20)], "id long, v long"),
            WriteMode.error)
    t.rename_column("v", "val")
    t.write(spark.createDataFrame([(3, 30)], "id long, val long"),
            WriteMode.append)
    spark.dataSource.register(DeltaSparkTableDataSource)
    q = (spark.readStream.format("dds_table").option("path", t.table_uri)
         .load().writeStream.format("memory").queryName("map_plain")
         .outputMode("append").start())
    q.processAllAvailable()
    q.stop()
    assert sorted((r["id"], r["val"]) for r in
                  spark.table("map_plain").collect()) == [
        (1, 10), (2, 20), (3, 30)]
    t.delete("val = 20", use_dv=True)
    q = _cdc_stream(spark, t.table_uri, "map_cdc")
    q.processAllAvailable()
    q.stop()
    got = sorted((r["_change_type"], r["id"], r["val"])
                 for r in spark.table("map_cdc").collect())
    assert got == [("delete", 2, 20), ("insert", 1, 10),
                   ("insert", 2, 20), ("insert", 3, 30)]


def test_cdc_replication_converges_to_source(spark, tmp_path):
    """The canonical CDF consumer: a replica fed only by the change
    stream equals the source's live contents after every sync —
    across DV deletes, DV updates, appends, and a replayed batch."""
    from dagster_delta_spark.streaming import cdc_replicating_sink

    src = DeltaSparkTable(spark, str(tmp_path / "src"))
    src.write(spark.createDataFrame(
        [(i, i * 10) for i in range(20)], "id long, v long"),
        WriteMode.error)
    src.delete("v >= 150", use_dv=True)
    src.update({"v": "v + 1"}, "id < 3", use_dv=True)

    sink = cdc_replicating_sink(str(tmp_path / "dst"), ["id"])
    spark.dataSource.register(DeltaSparkTableDataSource)

    def sync():
        q = (spark.readStream.format("dds_table")
             .option("path", src.table_uri)
             .option("readChangeFeed", "true").load()
             .writeStream.foreachBatch(sink)
             .option("checkpointLocation", str(tmp_path / "cp"))
             .start())
        q.processAllAvailable()
        q.stop()

    def state(t):
        return sorted((r["id"], r["v"]) for r in t.read().collect())

    sync()
    dst = DeltaSparkTable(spark, str(tmp_path / "dst"))
    assert state(dst) == state(src)
    # more commits arrive; the next sync folds only the delta
    src.write(spark.createDataFrame(
        [(i, i) for i in range(20, 25)], "id long, v long"),
        WriteMode.append)
    src.delete("id = 1", use_dv=True)
    src.update({"v": "0"}, "id = 21", use_dv=True)
    sync()
    assert state(dst) == state(src)
    # a replayed batch is a fixed point (idempotent apply)
    feed = src.read_changes(-1, row_level=True)
    before = state(dst)
    sink(feed, 999)
    assert state(dst) == before


def test_cdc_replication_large_delete_falls_back(spark, tmp_path):
    from dagster_delta_spark.streaming import cdc_replicating_sink

    src = DeltaSparkTable(spark, str(tmp_path / "src"))
    src.write(spark.createDataFrame(
        [(i, i) for i in range(40)], "id long, v long"), WriteMode.error)
    src.delete("id >= 10", use_dv=True)
    sink = cdc_replicating_sink(str(tmp_path / "dst"), ["id"],
                                max_inlist=5)
    sink(src.read_changes(-1, row_level=True).where(
        "_change_type = 'insert'"), 0)
    sink(src.read_changes(0, row_level=True), 1)  # 30 deletes > cap
    dst = DeltaSparkTable(spark, str(tmp_path / "dst"))
    assert sorted(r["id"] for r in dst.read().collect()) == list(range(10))


def test_vacuumed_sidecar_fails_the_stream_pointedly(spark, tmp_path):
    t = DeltaSparkTable(spark, str(tmp_path / "t"))
    t.write(spark.createDataFrame(
        [(i, i) for i in range(10)], "id long, v long").coalesce(1),
        WriteMode.error)
    t.delete("id >= 8", use_dv=True)
    t.delete("id >= 6", use_dv=True)
    t.vacuum(retention_ms=0)  # reclaims the superseded sidecar
    q = _cdc_stream(spark, t.table_uri, "cdc_vac")
    with pytest.raises(Exception, match="vacuumed|sidecar"):
        q.processAllAvailable()
    q.stop()


def test_replication_handles_hostile_string_and_null_keys(spark, tmp_path):
    """Backslashes must not act as SQL escapes in the delete predicate,
    and NULL key values must still delete (IN(NULL) never matches)."""
    from dagster_delta_spark.streaming import cdc_replicating_sink

    src = DeltaSparkTable(spark, str(tmp_path / "src"))
    rows = [("C:\\tmp", 1), ("it's", 2), (None, 3), ("plain", 4),
            ("trail\\", 5)]
    src.write(spark.createDataFrame(rows, "k string, v long"),
              WriteMode.error)
    sink = cdc_replicating_sink(str(tmp_path / "dst"), ["k"])
    sink(src.read_changes(-1, row_level=True), 0)
    src.delete("v IN (1, 3, 5)", use_dv=True)  # backslash + null keys
    sink(src.read_changes(0, row_level=True), 1)
    dst = DeltaSparkTable(spark, str(tmp_path / "dst"))
    got = sorted([(r["k"], r["v"]) for r in dst.read().collect()],
                 key=str)
    assert got == sorted([("it's", 2), ("plain", 4)], key=str)


def test_cdc_replication_fuzz_random_dml_sequences(spark, tmp_path):
    """Model check for the newest subsystem: random merge-on-read DML
    sequences on the source, synced through the real CDC stream after
    every few commits — the replica must equal the source EXACTLY at
    every sync point, and compactions must not disturb the feed."""
    import random

    from dagster_delta_spark.streaming import cdc_replicating_sink

    rng = random.Random(4321)
    src = DeltaSparkTable(spark, str(tmp_path / "src"))
    src.write(spark.createDataFrame(
        [(i, i * 10) for i in range(30)], "id long, v long"),
        WriteMode.error)
    next_id = 30
    sink = cdc_replicating_sink(str(tmp_path / "dst"), ["id"],
                                compact_every=4)
    cp = str(tmp_path / "cp")

    def sync():
        spark.dataSource.register(DeltaSparkTableDataSource)
        q = (spark.readStream.format("dds_table")
             .option("path", src.table_uri)
             .option("readChangeFeed", "true").load()
             .writeStream.foreachBatch(sink)
             .option("checkpointLocation", cp).start())
        q.processAllAvailable()
        q.stop()

    def state(t):
        return sorted((r["id"], r["v"]) for r in t.read().collect())

    sync()
    dst = DeltaSparkTable(spark, str(tmp_path / "dst"))
    assert state(dst) == state(src)
    for step in range(10):
        op = rng.choice(["append", "delete", "update", "optimize"])
        if op == "append":
            n = rng.randrange(1, 6)
            src.write(spark.createDataFrame(
                [(next_id + j, (next_id + j) * 10) for j in range(n)],
                "id long, v long"), WriteMode.append)
            next_id += n
        elif op == "delete":
            x = rng.randrange(0, next_id * 10)
            src.delete(f"v >= {x}", use_dv=True)
        elif op == "update":
            x = rng.randrange(0, next_id)
            src.update({"v": "v + 7"}, f"id % 5 = {x % 5}", use_dv=True)
        else:
            src.optimize()
        if step % 2 == 1:  # sync every other step: multi-commit batches
            sync()
            assert state(dst) == state(src), f"step {step} op {op}"
    sync()
    assert state(dst) == state(src)


def test_sql_lit_renders_executable_typed_literals(spark):
    """r9: every key type the replication delete predicate can see
    must render as a literal Spark parses AND that round-trips the
    value — non-finite floats and temporal types especially (repr(inf)
    is not SQL; quoted strings would lean on implicit casts)."""
    import datetime
    import decimal
    import math

    from dagster_delta_spark.plans.predicates import _sql_literal

    row = spark.sql(
        "SELECT "
        + ", ".join(
            f"{_sql_literal(v)} AS c{i}"
            for i, v in enumerate([
                None, True, -7, 2.5, float("inf"), float("-inf"),
                float("nan"), decimal.Decimal("12.3400"), "O'Brien\\x",
            ])
        )
    ).head()
    assert row[0] is None and row[1] is True and row[2] == -7
    assert row[3] == 2.5 and math.isinf(row[4]) and row[4] > 0
    assert math.isinf(row[5]) and row[5] < 0 and math.isnan(row[6])
    assert float(row[7]) == 12.34 and row[8] == "O'Brien\\x"
    ts = spark.sql(
        f"SELECT typeof({_sql_literal(datetime.date(2024, 2, 29))}) AS dt, "
        f"CAST({_sql_literal(datetime.date(2024, 2, 29))} AS STRING) AS ds, "
        f"typeof({_sql_literal(datetime.datetime(2024, 2, 29, 12, 30, 45, 123456))}) AS tt, "
        f"CAST({_sql_literal(datetime.datetime(2024, 2, 29, 12, 30, 45, 123456))} AS STRING) AS tss"
    ).head()
    assert ts["dt"] == "date" and ts["ds"] == "2024-02-29"
    assert ts["tt"] == "timestamp"
    assert ts["tss"] == "2024-02-29 12:30:45.123456"


def test_replication_widens_replica_on_source_add_columns(spark, tmp_path):
    """r9: a mid-feed add_columns on the source (picked up on stream
    restart) widens the replica with the same metadata-only commit —
    pre-evolution replica rows read the column as NULL, exactly like
    the source's own pre-evolution files."""
    from dagster_delta_spark.streaming import cdc_replicating_sink

    src = DeltaSparkTable(spark, str(tmp_path / "src"))
    src.write(spark.createDataFrame(
        [(i, i * 10) for i in range(6)], "id long, v long"),
        WriteMode.error)
    sink = cdc_replicating_sink(str(tmp_path / "dst"), ["id"])
    sink(src.read_changes(-1, row_level=True), 0)
    v = src.version()
    src.add_columns({"tag": "string"})
    src.write(spark.createDataFrame(
        [(10, 100, "x")], "id long, v long, tag string"),
        WriteMode.append)
    src.delete("id = 0", use_dv=True)
    sink(src.read_changes(v, row_level=True), 1)
    dst = DeltaSparkTable(spark, str(tmp_path / "dst"))
    assert sorted(
        (r["id"], r["v"], r["tag"]) for r in dst.read().collect()
    ) == sorted(
        (r["id"], r["v"], r["tag"]) for r in src.read().collect()
    )


def test_replication_refuses_type_conflict_and_dropped_column(
        spark, tmp_path):
    """r9: incompatible source evolution fails the apply with a pointed
    error, not a MERGE schema mismatch."""
    from dagster_delta_spark.streaming import cdc_replicating_sink

    src = DeltaSparkTable(spark, str(tmp_path / "src"))
    src.write(spark.createDataFrame(
        [(1, 10)], "id long, v long"), WriteMode.error)
    sink = cdc_replicating_sink(str(tmp_path / "dst"), ["id"])
    sink(src.read_changes(-1, row_level=True), 0)
    # conflicting type: same column name, different type in the feed
    src2 = DeltaSparkTable(spark, str(tmp_path / "src2"))
    src2.write(spark.createDataFrame(
        [(2, "s")], "id long, v string"), WriteMode.error)
    with pytest.raises(ValueError, match="type conflict.*replica=bigint"):
        sink(src2.read_changes(-1, row_level=True), 1)
    # dropped column: the feed no longer carries a replica column
    src3 = DeltaSparkTable(spark, str(tmp_path / "src3"))
    src3.write(spark.createDataFrame([(3,)], "id long"), WriteMode.error)
    with pytest.raises(ValueError, match="no longer in the feed"):
        sink(src3.read_changes(-1, row_level=True), 2)


def test_cdc_replication_fuzz_with_evolution_and_vacuum(spark, tmp_path):
    """r9 extension of the DML fuzz: interleave mid-feed ADD COLUMNS
    on the source (the stream restarts at every sync, so each wave's
    evolution is picked up) and aggressive retention_ms=0 vacuums
    pinned by dds.cdcRetainVersions — the replica must converge to the
    source exactly at every sync point, and no decode may ever hit a
    reclaimed sidecar."""
    import random

    from dagster_delta_spark.streaming import cdc_replicating_sink

    rng = random.Random(987)
    src = DeltaSparkTable(spark, str(tmp_path / "src"))
    src.write(spark.createDataFrame(
        [(i, i * 10) for i in range(20)], "id long, v long"),
        WriteMode.error)
    # deep floor: every commit in this short fuzz stays decodable
    src.set_properties({"dds.cdcRetainVersions": "200"})
    next_id, next_col = 20, 0
    added: list[str] = []
    sink = cdc_replicating_sink(str(tmp_path / "dst"), ["id"])
    cp = str(tmp_path / "cp")

    def sync():
        spark.dataSource.register(DeltaSparkTableDataSource)
        q = (spark.readStream.format("dds_table")
             .option("path", src.table_uri)
             .option("readChangeFeed", "true").load()
             .writeStream.foreachBatch(sink)
             .option("checkpointLocation", cp).start())
        q.processAllAvailable()
        q.stop()

    def state(t):
        cols = ["id", "v"] + added
        return sorted(
            (tuple(r[c] for c in cols) for r in t.read().collect()),
            key=str)

    def append(n):
        nonlocal next_id
        base_cols = "id long, v long"
        rows = []
        for j in range(n):
            rows.append(tuple(
                [next_id + j, (next_id + j) * 10]
                + [f"x{next_id + j}" for _ in added]))
        schema = base_cols + "".join(f", {c} string" for c in added)
        src.write(spark.createDataFrame(rows, schema), WriteMode.append)
        next_id += n

    sync()
    dst = DeltaSparkTable(spark, str(tmp_path / "dst"))
    assert state(dst) == state(src)
    for step in range(8):
        op = rng.choice(["append", "delete", "evolve", "vacuum",
                         "update"])
        if op == "append":
            append(rng.randrange(1, 5))
        elif op == "delete":
            src.delete(f"id % 7 = {rng.randrange(7)}", use_dv=True)
        elif op == "update":
            src.update({"v": "v + 3"}, f"id % 5 = {rng.randrange(5)}",
                       use_dv=True)
        elif op == "evolve":
            col = f"tag{next_col}"
            next_col += 1
            src.add_columns({col: "string"})
            added.append(col)
            append(2)  # carry the new column into the feed
        else:
            assert src.vacuum(retention_ms=0) == []  # floor pins all
        sync()
        assert state(dst) == state(src), f"step {step} op {op}"


def test_sql_lit_string_roundtrip_property(spark):
    """Property: any printable string key must round-trip through the
    rendered literal — quotes, backslashes, newlines, unicode, and
    regex/SQL metacharacters included (the replication delete
    predicate is built from live key values; one bad escape deletes
    the wrong rows or fails the stream)."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    from dagster_delta_spark.plans.predicates import _sql_literal

    cases = []

    @settings(max_examples=30, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(st.text(min_size=0, max_size=40))
    def collect(s):
        cases.append(s)

    collect()
    # one Spark round-trip for all generated examples (per-example
    # spark.sql calls would take minutes)
    uniq = sorted(set(cases))
    row = spark.sql(
        "SELECT " + ", ".join(
            f"{_sql_literal(s)} AS c{i}" for i, s in enumerate(uniq))
    ).head()
    for i, s in enumerate(uniq):
        assert row[i] == s, repr(s)


def test_max_versions_per_batch_paces_the_stream(spark, tmp_path):
    """r9: a lagging consumer must drain its backlog in bounded
    microbatches (maxVersionsPerBatch), not one giant catch-up batch —
    and pacing must never lose or duplicate rows."""
    t = DeltaSparkTable(spark, str(tmp_path / "t"))
    for v in range(7):
        t.write(spark.createDataFrame([(v, v * 10)], "id long, v long"),
                WriteMode.error if v == 0 else WriteMode.append)
    spark.dataSource.register(DeltaSparkTableDataSource)
    seen = []

    def sink(df, batch_id):
        rows = df.collect()
        if rows:
            seen.append(sorted(r["id"] for r in rows))

    q = (spark.readStream.format("dds_table")
         .option("path", t.table_uri)
         .option("maxVersionsPerBatch", "2").load()
         .writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "cp")).start())
    q.processAllAvailable()
    q.stop()
    assert sorted(x for b in seen for x in b) == list(range(7))
    assert len(seen) >= 4                       # ceil(7 / 2)
    assert all(len(b) <= 2 for b in seen)       # one row per version here
    # restart with a deeper backlog: correctness must hold; pacing
    # bounds every batch after the first post-restart one (the
    # checkpointed offset is invisible to latestOffset until a batch
    # plans — documented caveat)
    for v in range(7, 13):
        t.write(spark.createDataFrame([(v, v * 10)], "id long, v long"),
                WriteMode.append)
    q = (spark.readStream.format("dds_table")
         .option("path", t.table_uri)
         .option("maxVersionsPerBatch", "2").load()
         .writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "cp")).start())
    q.processAllAvailable()
    q.stop()
    assert sorted(x for b in seen for x in b) == list(range(13))

    with pytest.raises(Exception, match="maxVersionsPerBatch"):
        (spark.readStream.format("dds_table")
         .option("path", t.table_uri)
         .option("maxVersionsPerBatch", "0").load())


def test_mid_stream_schema_evolution_fails_loudly_then_recovers(
        spark, tmp_path):
    """r9 review fix: rows committed after a source add_columns but
    before a stream restart were read under the pinned schema — the
    new column's values were silently DROPPED and the checkpoint moved
    past them, permanently desyncing the replica.  The source must
    fail at the evolution commit (before its data emits); a restart
    then replans from exactly there under the new schema and the
    replica converges with every value intact."""
    from dagster_delta_spark.streaming import cdc_replicating_sink

    src = DeltaSparkTable(spark, str(tmp_path / "src"))
    src.write(spark.createDataFrame(
        [(i, i * 10) for i in range(4)], "id long, v long"),
        WriteMode.error)
    sink = cdc_replicating_sink(str(tmp_path / "dst"), ["id"])
    spark.dataSource.register(DeltaSparkTableDataSource)

    def stream():
        return (spark.readStream.format("dds_table")
                .option("path", src.table_uri)
                .option("readChangeFeed", "true").load()
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", str(tmp_path / "cp"))
                .start())

    q = stream()
    q.processAllAvailable()
    # evolution + data WHILE the stream is live: the old behavior
    # delivered (10, 100, NULL) and moved the checkpoint past it
    src.add_columns({"tag": "string"})
    src.write(spark.createDataFrame(
        [(10, 100, "precious")], "id long, v long, tag string"),
        WriteMode.append)
    with pytest.raises(Exception, match="schema or column mapping"):
        q.processAllAvailable()
    q.stop()
    # restart: replans the evolution + data under the new schema
    q = stream()
    q.processAllAvailable()
    q.stop()
    dst = DeltaSparkTable(spark, str(tmp_path / "dst"))
    assert sorted(
        (r["id"], r["v"], r["tag"]) for r in dst.read().collect()
    ) == sorted(
        (r["id"], r["v"], r["tag"]) for r in src.read().collect()
    )
    assert ("precious" in {r["tag"] for r in dst.read().collect()})
