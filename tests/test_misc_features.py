"""describe_detail, log checkpoints, salted join."""

import pytest

from dagster_delta_spark import DeltaSparkTable, WriteMode
from dagster_delta_spark.functions.skew import salted_join


def test_describe_detail(spark, tmp_table):
    t = DeltaSparkTable(spark, tmp_table)
    df = spark.createDataFrame([("red", 1), ("blue", 2)], "c string, v bigint")
    t.write(df, WriteMode.overwrite, partition_columns=["c"],
            table_configuration={"owner": "pipeline"})
    d = t.describe_detail()
    assert d["partitionColumns"] == ["c"]
    assert d["numRecords"] == 2
    assert d["numFiles"] == len(t.snapshot().files)
    assert d["sizeInBytes"] > 0
    assert d["properties"] == {"owner": "pipeline"}
    assert d["version"] == 0


def test_log_checkpoint_used_after_many_commits(spark, tmp_table):
    """After CHECKPOINT_INTERVAL commits, snapshot replay starts from
    the checkpoint (and history/time travel still work)."""
    import os

    from dagster_delta_spark import tablelog

    t = DeltaSparkTable(spark, tmp_table)
    df = spark.createDataFrame([(1,)], "v bigint")
    for _ in range(tablelog.CHECKPOINT_INTERVAL + 2):
        t.write(df, WriteMode.append)
    log_dir = os.path.join(tmp_table, tablelog.LOG_DIR)
    assert any(".checkpoint" in f for f in os.listdir(log_dir))
    assert t.read().count() == tablelog.CHECKPOINT_INTERVAL + 2
    assert t.read(version=0).count() == 1  # pre-checkpoint time travel
    assert t.snapshot().version == tablelog.CHECKPOINT_INTERVAL + 1


def test_salted_join_matches_plain_join(spark):
    import random

    rnd = random.Random(3)
    # skewed: 80% of rows share one key
    large = spark.createDataFrame(
        [(1 if rnd.random() < 0.8 else rnd.randint(2, 10), i)
         for i in range(2000)],
        "k bigint, payload bigint",
    )
    small = spark.createDataFrame(
        [(k, f"dim{k}") for k in range(1, 11)], "k bigint, name string"
    )
    plain = large.join(small, "k").groupBy("name").count()
    salted = salted_join(large, small, "k", salt=4).groupBy("name").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_left(spark):
    large = spark.createDataFrame([(1, "a"), (99, "b")], "k bigint, x string")
    small = spark.createDataFrame([(1, "dim")], "k bigint, name string")
    out = salted_join(large, small, "k", salt=3, how="left").collect()
    by_k = {r["k"]: r["name"] for r in out}
    assert by_k == {1: "dim", 99: None}
    assert len(out) == 2  # left rows never duplicated by salting


def test_merge_conflict_detection(spark, tmp_table):
    """A merge planned against a snapshot whose files were removed by
    a concurrent commit must fail, not silently resurrect rows."""
    import pytest

    from dagster_delta_spark import MergeConfig, MergeType
    from dagster_delta_spark.table import DeltaSparkTable as T
    from dagster_delta_spark.tablelog import ConcurrentDeleteError
    from dagster_delta_spark import WriteMode

    t = T(spark, tmp_table)
    t.write(spark.createDataFrame([(1, 4), (2, 5)], "a bigint, b bigint"),
            WriteMode.overwrite)

    # simulate a concurrent overwrite between merge planning and commit
    import dagster_delta_spark.table as table_mod

    orig_commit = table_mod.tablelog.commit
    state = {"raced": False}

    def racing_commit(uri, version, actions, snap=None):
        if not state["raced"] and any("MERGE" in str(a.get("commitInfo", {}).get("operation", "")) for a in actions):
            state["raced"] = True
            # concurrent writer replaces the table first
            T(spark, tmp_table).write(
                spark.createDataFrame([(9, 9)], "a bigint, b bigint"),
                WriteMode.overwrite,
            )
        return orig_commit(uri, version, actions, snap)

    table_mod.tablelog.commit = racing_commit
    try:
        with pytest.raises(ConcurrentDeleteError):
            t.merge(
                spark.createDataFrame([(2, 50)], "a bigint, b bigint"),
                MergeConfig(MergeType.upsert, predicate="s.a = t.a"),
            )
    finally:
        table_mod.tablelog.commit = orig_commit
    # the concurrent writer's state is intact
    assert [(r["a"], r["b"]) for r in t.read().collect()] == [(9, 9)]


def test_parquet_read_options_mapping(spark):
    """S4: parquet decode options land on session confs."""
    from dagster_delta_spark.sources.parquet import apply_parquet_read_options

    apply_parquet_read_options(spark, {"compression": "zstd"})
    assert spark.conf.get("spark.sql.parquet.compression.codec") == "zstd"
    spark.conf.set("spark.sql.parquet.compression.codec", "snappy")

    # coerce_int96_timestamp_unit: ns maps to the nanos-as-long escape
    # hatch (a VALID Spark conf, unlike the old int96RebaseModeInRead
    # mapping whose domain is LEGACY/CORRECTED/EXCEPTION); us is a
    # no-op (Spark's native resolution); anything else is refused.
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    apply_parquet_read_options(spark, {"coerce_int96_timestamp_unit": "ns"})
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    apply_parquet_read_options(spark, {"coerce_int96_timestamp_unit": "us"})
    assert (
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) is None
    )
    with pytest.raises(ValueError, match="no Spark equivalent"):
        apply_parquet_read_options(spark, {"coerce_int96_timestamp_unit": "ms"})


def test_broadcast_hint_size_gated(spark, monkeypatch):
    """Scaling dimensions (customer/part/supplier) carry a broadcast
    hint only while their on-disk footprint is under the cap; past it
    the hint disappears and AQE decides from runtime sizes."""
    from dagster_delta_spark.operators import relational as R

    sf = "/root/testdata/sf0.001"

    def analyzed(df):
        return df._jdf.queryExecution().analyzed().toString()

    assert "ResolvedHint" in analyzed(R.q3_shipping_priority(spark, sf))
    monkeypatch.setattr(R, "_BROADCAST_CAP_BYTES", 0)
    assert "ResolvedHint" not in analyzed(R.q3_shipping_priority(spark, sf))


def test_snapshot_cache_isolated_from_caller_mutation(spark, tmp_table):
    """The snapshot cache must hand out copies: a caller mutating
    table.snapshot() (files list, partition_values/stats dicts) must not
    corrupt subsequent reads of the same version in-process."""
    t = DeltaSparkTable(spark, tmp_table)
    t.write(spark.createDataFrame([("red", 1), ("blue", 2)], "c string, v bigint"),
            WriteMode.overwrite, partition_columns=["c"])
    snap = t.snapshot()
    n_files = len(snap.files)
    snap.files[0].partition_values["c"] = "tampered"
    snap.files[0].stats["minValues"] = {"v": 10**9}
    del snap.files[1:]
    fresh = t.snapshot()
    assert len(fresh.files) == n_files
    assert "tampered" not in {
        f.partition_values.get("c") for f in fresh.files
    }
    assert t.read().count() == 2
    # NESTED mutation: poke inside a stats dict and metadata lists —
    # the copy must be deep enough that these don't reach the cache
    if fresh.files[0].stats.get("minValues"):
        k = next(iter(fresh.files[0].stats["minValues"]))
        fresh.files[0].stats["minValues"][k] = 10**9
    fresh.metadata.partition_columns.append("bogus")
    again = t.snapshot()
    assert again.partition_columns == ["c"]
    assert all(
        v != 10**9
        for f in again.files
        for v in (f.stats.get("minValues") or {}).values()
    )


def test_storage_conf_mapping_o7():
    """O7: multi-cloud storage configs -> Spark/Hadoop confs
    (reference config.py:7-187)."""
    from dagster_delta_spark import (
        AzureConfig,
        ClientConfig,
        GcsConfig,
        S3Config,
        flatten_storage_confs,
    )

    s3 = flatten_storage_confs(
        S3Config(access_key_id="ak", secret_access_key="sk", region="r1"),
        ClientConfig(timeout=30),
    )
    assert s3["spark.hadoop.fs.s3a.access.key"] == "ak"
    assert s3["spark.hadoop.fs.s3a.endpoint.region"] == "r1"
    # seconds -> Hadoop milliseconds (r6 fix: raw seconds made a
    # 30-second timeout a 30-millisecond one)
    assert s3["spark.hadoop.fs.s3a.connection.timeout"] == "30000"

    az = AzureConfig(account_name="acct", sas_token="tok").spark_confs()
    sfx = "acct.dfs.core.windows.net"
    # auth.type=SAS is what activates the SAS provider at all
    assert az[f"spark.hadoop.fs.azure.account.auth.type.{sfx}"] == "SAS"
    assert az[f"spark.hadoop.fs.azure.sas.fixed.token.{sfx}"] == "tok"
    assert (
        az[f"spark.hadoop.fs.azure.sas.token.provider.type.{sfx}"]
        == "org.apache.hadoop.fs.azurebfs.sas.FixedSASTokenProvider"
    )

    gcs = GcsConfig(service_account_path="/k.json").spark_confs()
    assert gcs["spark.hadoop.google.cloud.auth.service.account.json.keyfile"] == "/k.json"


def test_parquet_checkpoint_roundtrip_and_legacy_json(spark, tmp_table):
    """Checkpoints are parquet (metadata in schema KV; one row per
    file) and pre-upgrade JSON checkpoints still load."""
    import json
    import os

    from dagster_delta_spark import DeltaSparkTable, WriteMode
    from dagster_delta_spark import tablelog

    t = DeltaSparkTable(spark, tmp_table)
    df = spark.range(3)
    t.write(df, WriteMode.error)
    for _ in range(12):
        t.write(df, WriteMode.append)
    log_dir = os.path.join(tmp_table, "_spark_delta_log")
    cps = [f for f in os.listdir(log_dir) if f.endswith(".checkpoint.parquet")]
    assert cps, "expected a parquet checkpoint after 12 commits"
    assert t.read().count() == 3 * 13
    assert t.read(version=0).count() == 3  # replay from before the checkpoint

    # legacy JSON checkpoint: simulate a pre-upgrade table by rewriting
    # the checkpoint in the old format and re-pointing _last_checkpoint
    snap = t.snapshot()
    v = tablelog._read_last_checkpoint(tmp_table)
    os.remove(os.path.join(log_dir, f"{v:020d}.checkpoint.parquet"))
    cp_snap = tablelog.load_snapshot(tmp_table, v)
    with open(tablelog._legacy_checkpoint_path(tmp_table, v), "w") as f:
        json.dump({
            "metaData": cp_snap.metadata.to_action()["metaData"],
            "adds": [a.to_action()["add"] for a in cp_snap.files],
            "timestamp": cp_snap.timestamp,
        }, f)
    reloaded = tablelog.load_snapshot(tmp_table)
    assert reloaded.version == snap.version
    assert {a.path for a in reloaded.files} == {a.path for a in snap.files}


def _duck_views(sf_dir):
    import duckdb

    con = duckdb.connect()
    for t in ("customer", "orders", "lineitem", "supplier", "part", "nation"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


SF001 = "/root/testdata/sf0.001"


def test_q2_shape_matches_duckdb(spark):
    """Correlated-MIN subquery shape == DuckDB on the same parquet."""
    from dagster_delta_spark.operators.relational import q2_min_cost_supplier

    got = sorted(
        (r.l_partkey, r.s_suppkey, round(r.min_unit_price, 6))
        for r in q2_min_cost_supplier(spark, SF001).collect()
    )
    con = _duck_views(SF001)
    want = sorted(
        (a, b, round(c, 6))
        for a, b, c, _n in con.sql("""
            WITH unit AS (
                SELECT l_partkey, l_suppkey,
                       l_extendedprice / l_quantity AS up
                FROM lineitem
            ), mn AS (
                SELECT l_partkey, min(up) AS mp FROM unit GROUP BY l_partkey
            )
            SELECT u.l_partkey, u.l_suppkey,
                   CAST(min(m.mp) AS DOUBLE), s.s_name
            FROM unit u
            JOIN mn m ON u.l_partkey = m.l_partkey AND u.up = m.mp
            JOIN supplier s ON u.l_suppkey = s.s_suppkey
            GROUP BY u.l_partkey, u.l_suppkey, s.s_name
        """).fetchall()
    )
    assert got == want and len(got) > 0


def test_q13_shape_matches_duckdb(spark):
    from dagster_delta_spark.operators.relational import (
        q13_order_count_distribution,
    )

    got = sorted(
        (r.c_count, r.custdist)
        for r in q13_order_count_distribution(spark, SF001).collect()
    )
    con = _duck_views(SF001)
    want = sorted(con.sql("""
        SELECT c_count, count(*) AS custdist FROM (
            SELECT c.c_custkey, count(o.o_orderkey) AS c_count
            FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
            GROUP BY c.c_custkey
        ) GROUP BY c_count
    """).fetchall())
    assert got == want and len(got) > 0


def test_q21_shape_matches_duckdb(spark):
    from dagster_delta_spark.operators.relational import q21_sole_late_supplier

    got = sorted(
        (r.s_name, r.numwait)
        for r in q21_sole_late_supplier(spark, SF001).collect()
    )
    con = _duck_views(SF001)
    want = sorted(con.sql("""
        WITH late AS (
            SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
            WHERE l_shipdate > TIMESTAMP '1997-06-30 00:00:00'
        ), multi AS (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey HAVING count(DISTINCT l_suppkey) >= 2
        ), multi_late AS (
            SELECT l_orderkey FROM late
            GROUP BY l_orderkey HAVING count(DISTINCT l_suppkey) >= 2
        )
        SELECT s.s_name, count(*) AS numwait
        FROM late w
        JOIN supplier s ON w.l_suppkey = s.s_suppkey
        WHERE w.l_orderkey IN (SELECT l_orderkey FROM multi)
          AND w.l_orderkey NOT IN (SELECT l_orderkey FROM multi_late)
        GROUP BY s.s_name
    """).fetchall())
    assert got == want and len(got) > 0


def test_event_funnel_matches_duckdb(spark):
    """Ordered view->click->purchase funnel == correlated-min DuckDB
    formulation (counts and median latency)."""
    import duckdb

    from dagster_delta_spark.operators.asof import event_funnel

    def rnd(v):
        return None if v is None else round(v, 3)

    got = sorted(
        (r.step_idx, r.step, r.n_users, rnd(r.median_secs_from_start))
        for r in event_funnel(spark, SF001).collect()
    )
    con = duckdb.connect(":memory:")
    con.execute(f"""
        CREATE VIEW ev AS
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
        FROM read_parquet('{SF001}/events.parquet')
    """)
    want = sorted(con.execute("""
        WITH s1 AS (
            SELECT user_id, min(ts) AS t FROM ev
            WHERE event_type = 'view' GROUP BY user_id
        ), s2 AS (
            SELECT e.user_id, min(e.ts) AS t
            FROM ev e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
            WHERE e.event_type = 'click' GROUP BY e.user_id
        ), s3 AS (
            SELECT e.user_id, min(e.ts) AS t
            FROM ev e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
            WHERE e.event_type = 'purchase' GROUP BY e.user_id
        )
        SELECT 1 AS i, 'view' AS s, count(*) AS n,
               quantile_cont(epoch(t) - epoch(t), 0.5)
        FROM s1
        UNION ALL
        SELECT 2, 'click', count(*),
               quantile_cont(epoch(s2.t) - epoch(s1.t), 0.5)
        FROM s2 JOIN s1 USING (user_id)
        UNION ALL
        SELECT 3, 'purchase', count(*),
               quantile_cont(epoch(s3.t) - epoch(s1.t), 0.5)
        FROM s3 JOIN s1 USING (user_id)
    """).fetchall())
    # round both sides in Python (same rounding mode)
    assert got == [(i, s, n, rnd(m)) for i, s, n, m in want]
    assert got[0][2] >= got[1][2] >= got[2][2]  # funnel monotone


def test_ngram_frequency_matches_duckdb(spark):
    """Top-k bigram table == DuckDB formulation on the same parquet."""
    import duckdb

    from dagster_delta_spark.operators.textops import ngram_frequency

    got = [
        (r.rank, r.gram, r.n_occurrences, r.doc_freq)
        for r in ngram_frequency(spark, SF001, n=2, top_k=20)
        .orderBy("rank").collect()
    ]
    con = duckdb.connect(":memory:")
    con.execute(f"""
        CREATE VIEW documents AS
        SELECT * FROM read_parquet('{SF001}/documents.parquet')
    """)
    want = con.execute("""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(text),
                       '[^a-z0-9]+'), x -> x <> '') AS t
            FROM documents
        ), grams AS (
            SELECT doc_id,
                   unnest(CASE WHEN len(t) >= 2 THEN
                       list_transform(range(1, len(t)),
                                      i -> t[i] || ' ' || t[i+1])
                       ELSE [] END) AS gram
            FROM toks
        ), counts AS (
            SELECT gram, count(*) AS n_occurrences,
                   count(DISTINCT doc_id) AS doc_freq
            FROM grams GROUP BY gram
        )
        SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, gram ASC)
                    AS INT) AS rank,
               gram, n_occurrences, doc_freq
        FROM counts
        ORDER BY rank LIMIT 20
    """).fetchall()
    assert got == [tuple(r) for r in want]
    assert len(got) == 20


def test_q20_shape_matches_duckdb(spark):
    """Adapted Q20 (excess 1996 shipments of the widget family by
    NATION_2 suppliers) == DuckDB formulation on the same parquet."""
    from dagster_delta_spark.operators.relational import q20_excess_shipments

    got = sorted(
        (r.s_suppkey, r.s_name, r.n_name)
        for r in q20_excess_shipments(spark, SF001, nation_name=None)
        .collect()
    )
    con = _duck_views(SF001)
    want = sorted(con.sql("""
        WITH shipped AS (
            SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
              AND l_partkey IN (SELECT p_partkey FROM part
                                WHERE p_name LIKE '%widget%')
            GROUP BY l_suppkey, l_partkey
        ), stats AS (
            SELECT l_partkey, sum(qty) AS total_qty, count(*) AS n_suppliers
            FROM shipped GROUP BY l_partkey
        ), heavy AS (
            SELECT DISTINCT f.l_suppkey
            FROM shipped f JOIN stats st ON f.l_partkey = st.l_partkey
            WHERE f.qty * st.n_suppliers > 1.5 * st.total_qty
        )
        SELECT s.s_suppkey, s.s_name, n.n_name
        FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE s.s_suppkey IN (SELECT l_suppkey FROM heavy)
    """).fetchall())
    assert got == want and len(got) > 0


def test_registry_rotation_invariant():
    """The driver records only the first 50 queries() entries; an entry
    may sit past the cap only if a committed CORRECTNESS_r*.json
    already records it — green for oracle-backed entries, a rows-only
    no_oracle record for entries that structurally cannot have one
    (union coverage across rounds).  Mirrors the tools/check_oracles.py
    gate so a bad rotation fails in CI, not at round end."""
    import os

    import __spark_entry__ as entry

    qs = list(entry.queries())
    oracles = entry.oracle_sql()
    assert len(qs) == len(set(qs))
    head = qs[:50]
    # shared predicate: import the gate's own recorded-set builder so
    # the CI mirror and tools/check_oracles.py cannot drift
    import importlib.util

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_oracles", os.path.join(root, "tools", "check_oracles.py")
    )
    gate = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gate)
    recorded = gate.recorded_entries(root, set(oracles))
    never_recorded_tail = [k for k in qs[50:] if k not in recorded]
    assert never_recorded_tail == [], (
        f"{never_recorded_tail} sit past the 50-entry cap with no "
        "committed CORRECTNESS_r*.json row (green, or rows-only for "
        "oracle-less entries)"
    )
    # §2-critical entries are in the window or already on driver
    # record (r5 policy: a slot may be yielded to an operator whose
    # code changed — changed code outranks re-recording unchanged)
    critical = [
        "w1_w4_error_ignore", "w2_append", "w3_partition_overwrite",
        "w5_create_or_replace", "m1_update_only", "m2_dedup_insert",
        "m3_upsert", "m4_replace_delete", "s3_time_travel",
        "p2_timewindow_read", "pj1_projection", "o3_stats",
    ]
    assert all(k in head or k in recorded for k in critical)
    # every oracle key has a queries() twin
    assert [k for k in oracles if k not in qs] == []


def test_shingle_stream_session_cache(spark):
    """Same (app, corpus) returns the cached materialized frame;
    after session_cache.clear() the stream is re-materialized."""
    from dagster_delta_spark.operators import dedup, session_cache

    session_cache.clear()
    sf = "/root/testdata/sf0.001"
    a = dedup._shingle_stream(spark, sf)
    b = dedup._shingle_stream(spark, sf)
    assert a is b
    session_cache.clear()
    c = dedup._shingle_stream(spark, sf)
    assert c is not a
    assert c.count() == a.count()
    session_cache.clear()


def test_shingle_cache_misses_on_corpus_rewrite(spark, tmp_path):
    """The cache key carries the corpus fingerprint: rewriting
    documents.parquet in-session must produce fresh results, not the
    stale checkpoint (code-review r5 finding)."""
    import pandas as pd

    from dagster_delta_spark.operators import dedup

    d = tmp_path / "c"
    d.mkdir()

    def write(texts):
        pd.DataFrame({
            "doc_id": list(range(len(texts))), "text": texts,
            "lang": ["en"] * len(texts), "source": ["s"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }).to_parquet(str(d / "documents.parquet"))

    write(["alpha beta gamma delta"])
    n1 = dedup._shingle_stream(spark, str(d)).count()
    write(["alpha beta gamma delta epsilon zeta eta theta iota kappa"])
    n2 = dedup._shingle_stream(spark, str(d)).count()
    assert n1 == 2 and n2 == 8  # trigrams: n_tokens - 2


def test_superseded_fingerprint_entries_evicted(spark, tmp_path):
    """An in-session corpus rewrite must not pin the OLD checkpointed
    stream in the cache: the superseded-fingerprint entry is evicted
    on the next insert for the same (app, dir)."""
    import pandas as pd

    from dagster_delta_spark.operators import dedup, session_cache

    session_cache.clear()
    d = tmp_path / "c"
    d.mkdir()

    def write(text):
        pd.DataFrame({
            "doc_id": [0], "text": [text], "lang": ["en"],
            "source": ["s"], "n_chars": [len(text)],
        }).to_parquet(str(d / "documents.parquet"))

    write("alpha beta gamma delta")
    dedup._shingle_stream(spark, str(d))
    write("one two three four five six")
    dedup._shingle_stream(spark, str(d))
    same_dir = [k for k in session_cache._entries
                if k[1] == str(d) and k[4:] == ("shingles",)]
    assert len(same_dir) == 1  # old-fingerprint entry evicted
    session_cache.clear()


def test_sessionize_duplicate_ts_boundary_parity(spark, tmp_path):
    """Duplicate (user_id, ts) events exactly at a session boundary:
    Spark's gaps-and-islands and the DuckDB oracle must assign them to
    the same sessions (r6 review finding — the oracle's cumulative-sum
    window lacked the event_id tiebreak, so a regenerated fixture with
    ties could go red nondeterministically)."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entry
    from dagster_delta_spark.operators.relational import events_sessionize

    d = tmp_path / "ev"
    d.mkdir()
    base = pd.Timestamp("2024-01-01 00:00:00")
    rows = []
    # user 1: two events sharing the exact boundary timestamp (31 min
    # after the first event, > the 30-min gap -> both start session 2),
    # plus a tie at the very first timestamp
    for eid, mins in [(1, 0), (2, 0), (3, 31), (4, 31), (5, 40)]:
        rows.append((eid, base + pd.Timedelta(minutes=mins), 1,
                     "click", 1.0, "{}"))
    # user 2: tie INSIDE a session (no boundary) as a control
    for eid, mins in [(6, 0), (7, 10), (8, 10)]:
        rows.append((eid, base + pd.Timedelta(minutes=mins), 2,
                     "view", 2.0, "{}"))
    pd.DataFrame(rows, columns=[
        "event_id", "ts", "user_id", "event_type", "value", "props",
    ]).to_parquet(str(d / "events.parquet"), index=False)

    got = sorted(
        (r["user_id"], r["session_id"], r["n_events"])
        for r in events_sessionize(spark, str(d)).collect()
    )
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet'")
    want = sorted(
        (r[0], r[1], r[2])
        for r in con.sql(
            "SELECT user_id, session_id, n_events FROM ("
            + entry.oracle_sql()["events_sessionize"]
            + ")").fetchall()
    )
    assert got == want
    # and the boundary behaved: user 1 has sessions of 2 and 3 events
    assert [(u, n) for u, _, n in got if u == 1] == [(1, 2), (1, 3)]


def test_scalar_fmt_conversion_quotes_literals(spark):
    """strftime -> Spark pattern conversion quotes literal text (an
    unquoted 'T' is an illegal pattern letter) and rejects unsupported
    directives instead of silently parsing garbage."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from dagster_delta_spark.functions.scalar import parse_partition_value

    df = spark.createDataFrame([("2024-01-02T07",)], "s string")
    got = df.select(
        parse_partition_value(F.col("s"), "%Y-%m-%dT%H").alias("t")
    ).collect()[0]["t"]
    assert (got.year, got.month, got.day, got.hour) == (2024, 1, 2, 7)
    with _pytest.raises(ValueError, match="unsupported strftime"):
        parse_partition_value(F.col("s"), "%Y-%j")


def test_config_guards():
    """Azure confs fail fast on missing account / conflicting auth;
    client timeout converts seconds -> Hadoop milliseconds."""
    import pytest as _pytest

    from dagster_delta_spark.config import AzureConfig, ClientConfig

    with _pytest.raises(ValueError, match="account_name"):
        AzureConfig(account_key="k").spark_confs()
    with _pytest.raises(ValueError, match="mutually exclusive"):
        AzureConfig(account_name="a", sas_token="s", client_id="c",
                    client_secret="x", tenant_id="t").spark_confs()
    confs = ClientConfig(timeout=30).spark_confs()
    assert confs["spark.hadoop.fs.s3a.connection.timeout"] == "30000"


def test_frame_sample_exact_multiple_boundary(spark):
    """A payload whose length is an exact multiple of every_n_bytes
    yields no phantom empty frame; empty payloads yield zero frames."""
    from dagster_delta_spark.operators.multimodal import frame_sample_plan

    df = spark.createDataFrame(
        [(1, bytearray(b"x" * 64), 64), (2, bytearray(b""), 0),
         (3, bytearray(b"y" * 65), 65)],
        "doc_id long, payload binary, n_bytes long",
    )
    out = {r["doc_id"]: (r["n_frames"], [bytes(f) for f in r["frames"]])
           for r in frame_sample_plan(df, every_n_bytes=64).collect()}
    assert out[1] == (1, [b"x"])
    assert out[2] == (0, [])
    assert out[3] == (2, [b"y", b"y"])


def test_timestamp_time_travel(spark, tmp_table):
    """version_as_of / read(timestamp_as_of=...) — the delta-rs
    load_with_datetime rule: latest version committed at or before the
    timestamp, resolved from log metadata alone."""
    import time
    from datetime import datetime, timezone

    t = DeltaSparkTable(spark, tmp_table)
    t.write(spark.range(3).withColumnRenamed("id", "a"), WriteMode.error)
    ts0 = int(t.history(limit=1)[0]["timestamp"])
    time.sleep(0.02)  # distinct commit milliseconds
    t.write(spark.range(5).withColumnRenamed("id", "a"), WriteMode.append)
    ts1 = int(t.history(limit=1)[0]["timestamp"])

    assert t.version_as_of(ts0) == 0
    assert t.version_as_of(ts1) == 1
    assert t.version_as_of(ts1 + 10_000) == 1  # after head -> head
    assert t.read(timestamp_as_of=ts0).count() == 3
    assert t.read(timestamp_as_of=ts1).count() == 8

    # datetime forms: aware, and naive-means-UTC
    aware = datetime.fromtimestamp(ts0 / 1000, tz=timezone.utc)
    assert t.version_as_of(aware) == 0
    assert t.version_as_of(aware.replace(tzinfo=None)) == 0

    with pytest.raises(ValueError, match="no commit at or before"):
        t.version_as_of(ts0 - 10_000)
    with pytest.raises(ValueError, match="not both"):
        t.read(version=0, timestamp_as_of=ts0)
