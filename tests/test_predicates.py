"""DNF mini-compiler unit tests (reference: dd tests
test_io_manager.py:37-54 and handler.py:397-480 behaviors)."""

from datetime import date, datetime, timezone

import pytest
from pyspark.sql.types import (
    DateType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from dagster_delta_spark import TablePartitionDimension, TimeWindow
from dagster_delta_spark.plans.predicates import (
    dnf_to_sql,
    get_select_statement,
    partition_dimensions_to_dnf,
)

SCHEMA = StructType([
    StructField("string_col", StringType()),
    StructField("date_col", DateType()),
    StructField("timestamp_col", TimestampType()),
    StructField("int_col", IntegerType()),
])

WINDOW = TimeWindow(datetime(2020, 1, 2), datetime(2020, 2, 3))


def test_timestamp_output_dnf():
    """Reference golden (test_io_manager.py:37-54) pins '=' window
    start on output; we emit the half-open range instead — the '='
    shape under-deletes windows spanning several partition values
    (documented divergence, see _time_window_partition_dnf)."""
    dnf = partition_dimensions_to_dnf(
        [TablePartitionDimension("timestamp_col", WINDOW)], SCHEMA
    )
    assert dnf == [
        ("timestamp_col", ">=", datetime(2020, 1, 2)),
        ("timestamp_col", "<", datetime(2020, 2, 3)),
    ]


def test_date_output_dnf():
    """Write path emits the half-open range too (the reference's
    '='-start shape, handler.py:479-480, under-deletes windows spanning
    several partition values — documented divergence)."""
    dnf = partition_dimensions_to_dnf(
        [TablePartitionDimension("date_col", WINDOW)], SCHEMA
    )
    assert dnf == [
        ("date_col", ">=", date(2020, 1, 2)),
        ("date_col", "<", date(2020, 2, 3)),
    ]


def test_input_dnf_is_half_open_range():
    dnf = partition_dimensions_to_dnf(
        [TablePartitionDimension("timestamp_col", WINDOW)], SCHEMA, input_dnf=True
    )
    assert dnf == [
        ("timestamp_col", ">=", datetime(2020, 1, 2)),
        ("timestamp_col", "<", datetime(2020, 2, 3)),
    ]


def test_multi_window_collapse():
    """Multiple windows collapse to [min(start), max(end))
    (handler.py:448-458)."""
    w2 = TimeWindow(datetime(2020, 3, 1), datetime(2020, 4, 1))
    dnf = partition_dimensions_to_dnf(
        [TablePartitionDimension("timestamp_col", [WINDOW, w2])],
        SCHEMA,
        input_dnf=True,
    )
    assert dnf == [
        ("timestamp_col", ">=", datetime(2020, 1, 2)),
        ("timestamp_col", "<", datetime(2020, 4, 1)),
    ]


def test_tz_stripped():
    """tz-aware windows are naive-ified (handler.py:450-458)."""
    w = TimeWindow(
        datetime(2020, 1, 2, tzinfo=timezone.utc),
        datetime(2020, 2, 3, tzinfo=timezone.utc),
    )
    dnf = partition_dimensions_to_dnf(
        [TablePartitionDimension("timestamp_col", w)], SCHEMA
    )
    assert dnf == [
        ("timestamp_col", ">=", datetime(2020, 1, 2)),
        ("timestamp_col", "<", datetime(2020, 2, 3)),
    ]


def test_static_single_key_is_eq():
    dnf = partition_dimensions_to_dnf(
        [TablePartitionDimension("string_col", ["red"])], SCHEMA
    )
    assert dnf == [("string_col", "=", "red")]


def test_static_multi_key_is_in_and_deduped():
    """Static keys dedup (handler.py:435)."""
    dnf = partition_dimensions_to_dnf(
        [TablePartitionDimension("string_col", ["red", "blue", "red"])], SCHEMA
    )
    assert dnf == [("string_col", "in", ["blue", "red"])]


def test_time_window_against_string_column_uses_fmt():
    """P3: windows against string partition cols format via fmt into
    the half-open range [fmt(start), fmt(end)) (handler.py:422-432)."""
    dnf = partition_dimensions_to_dnf(
        [TablePartitionDimension("string_col", WINDOW)],
        SCHEMA,
        date_formats={"string_col": "%Y-%m-%d"},
    )
    assert dnf == [
        ("string_col", ">=", "2020-01-02"),
        ("string_col", "<", "2020-02-03"),
    ]


def test_time_window_against_int_column_casts():
    """P3: int partition columns cast the formatted range bounds
    (handler.py:425-427)."""
    dnf = partition_dimensions_to_dnf(
        [TablePartitionDimension("int_col", WINDOW)],
        SCHEMA,
        date_formats={"int_col": "%Y%m%d"},
    )
    assert dnf == [("int_col", ">=", 20200102), ("int_col", "<", 20200203)]


def test_time_window_against_string_column_without_fmt_raises():
    """P3: a TimeWindow against a string/int column with no fmt raises,
    like the reference (handler.py:414)."""
    import pytest

    with pytest.raises(ValueError, match="[Dd]ate format"):
        partition_dimensions_to_dnf(
            [TablePartitionDimension("string_col", WINDOW)], SCHEMA
        )


def test_dnf_to_sql_literals():
    """P4 literal rendering; typed timestamp literals instead of the
    reference's µs epoch (handler.py:47-67)."""
    sql = dnf_to_sql([
        ("s", "=", "o'neil"),
        ("n", "in", [1, 2]),
        ("t", ">=", datetime(2020, 1, 2, 3, 4, 5)),
        ("d", "<", date(2020, 1, 2)),
        ("b", "=", True),
    ])
    assert sql == (
        "s = 'o''neil' AND n IN (1, 2) AND "
        "t >= TIMESTAMP '2020-01-02 03:04:05' AND "
        "d < DATE '2020-01-02' AND b = TRUE"
    )


def test_dnf_to_sql_qualifier():
    assert dnf_to_sql([("c", "=", "x")], qualifier="t") == "t.c = 'x'"


def test_select_statement():
    """P7 illustrative SELECT (io_manager.py:234-244)."""
    stmt = get_select_statement(
        "tbl", "sch", ["a", "b"], [("c", "=", "x")]
    )
    assert stmt == "SELECT a, b FROM sch.tbl WHERE c = 'x'"


def test_empty_windows_raise():
    with pytest.raises(ValueError):
        partition_dimensions_to_dnf(
            [TablePartitionDimension("timestamp_col", [])], SCHEMA
        )


def test_legacy_window_scope_matches_reference():
    """Opt-in reference compat (mirrors the reference's own DNF test,
    dd tests test_io_manager.py:37-54 / handler.py:478-479): the write
    path pins '=' start — timestamp and date — and skips the
    contiguity guard the default mode enforces."""
    for col, want in [
        ("timestamp_col", datetime(2020, 1, 2)),
        ("date_col", date(2020, 1, 2)),
    ]:
        dims = [TablePartitionDimension(col, WINDOW)]
        dnf = partition_dimensions_to_dnf(
            dims, SCHEMA, input_dnf=False, legacy_window_scope=True
        )
        assert dnf == [(col, "=", want)]
    # gapped windows: default write path raises, legacy mode pins
    # min(start) exactly as the reference collapses them
    gapped = [TablePartitionDimension(
        "timestamp_col",
        [TimeWindow(datetime(2020, 1, 1), datetime(2020, 1, 2)),
         TimeWindow(datetime(2020, 1, 9), datetime(2020, 1, 10))],
    )]
    with pytest.raises(ValueError, match="non-contiguous"):
        partition_dimensions_to_dnf(gapped, SCHEMA, input_dnf=False)
    dnf = partition_dimensions_to_dnf(
        gapped, SCHEMA, input_dnf=False, legacy_window_scope=True
    )
    assert dnf == [("timestamp_col", "=", datetime(2020, 1, 1))]
    # the read path is untouched by the flag
    dnf = partition_dimensions_to_dnf(
        [TablePartitionDimension("timestamp_col", WINDOW)],
        SCHEMA, input_dnf=True, legacy_window_scope=True,
    )
    assert dnf == [
        ("timestamp_col", ">=", datetime(2020, 1, 2)),
        ("timestamp_col", "<", datetime(2020, 2, 3)),
    ]


def test_engulfing_windows_are_contiguous():
    """A window covering later ones must not be rejected as gapped
    (running-max-end coverage, not pairwise adjacency)."""
    dims = [TablePartitionDimension(
        "timestamp_col",
        [TimeWindow(datetime(2020, 1, 1), datetime(2020, 1, 10)),
         TimeWindow(datetime(2020, 1, 2), datetime(2020, 1, 3)),
         TimeWindow(datetime(2020, 1, 4), datetime(2020, 1, 5))],
    )]
    dnf = partition_dimensions_to_dnf(dims, SCHEMA, input_dnf=False)
    assert dnf == [
        ("timestamp_col", ">=", datetime(2020, 1, 1)),
        ("timestamp_col", "<", datetime(2020, 1, 10)),
    ]


def test_sql_literal_preserves_microseconds():
    """dnf_to_sql must render sub-second boundaries — truncating them
    made the executed MERGE scope wider than the pruning predicate
    (r6 review finding)."""
    dt = datetime(2020, 1, 1, 0, 0, 0, 500000)
    sql = dnf_to_sql([("ts", ">=", dt)])
    assert sql == "ts >= TIMESTAMP '2020-01-01 00:00:00.500000'"
    # whole-second values keep the compact reference format
    assert dnf_to_sql([("ts", ">=", datetime(2020, 1, 1))]) == (
        "ts >= TIMESTAMP '2020-01-01 00:00:00'"
    )


def test_date_partition_rejects_intra_day_write_scope():
    """A DATE partition cannot express an intra-day boundary: flooring
    would over-delete the window-start day and leave stale rows after
    the end — the write path must refuse."""
    schema = StructType([StructField("d", DateType())])
    dim = TablePartitionDimension(
        "d", TimeWindow(datetime(2020, 1, 1, 12), datetime(2020, 1, 2, 12)))
    with pytest.raises(ValueError, match="midnight-aligned"):
        partition_dimensions_to_dnf([dim], schema, input_dnf=False)
    # read path: floor start, CEIL end so the final partial day's date
    # is covered
    dnf = partition_dimensions_to_dnf([dim], schema, input_dnf=True)
    assert dnf == [("d", ">=", date(2020, 1, 1)), ("d", "<", date(2020, 1, 3))]


def test_legacy_flag_skips_value_dnf_contiguity():
    """legacy_window_scope promises the reference write path bit-for-bit
    (no contiguity guard) — that must hold for string/int partition
    columns too, not only timestamp/date ones."""
    schema = StructType([StructField("ym", StringType())])
    dim = TablePartitionDimension("ym", [
        TimeWindow(datetime(2020, 1, 1), datetime(2020, 2, 1)),
        TimeWindow(datetime(2020, 6, 1), datetime(2020, 7, 1)),  # gap
    ])
    fmts = {"ym": "%Y-%m"}
    with pytest.raises(ValueError, match="non-contiguous"):
        partition_dimensions_to_dnf([dim], schema, input_dnf=False,
                                    date_formats=fmts)
    dnf = partition_dimensions_to_dnf([dim], schema, input_dnf=False,
                                      date_formats=fmts,
                                      legacy_window_scope=True)
    assert dnf == [("ym", ">=", "2020-01"), ("ym", "<", "2020-07")]


def test_non_monotonic_format_raises():
    """A format whose rendered order disagrees with time order (e.g. %H
    across midnight) yields an always-false range — loud error, not a
    silent empty scope."""
    schema = StructType([StructField("h", StringType())])
    dim = TablePartitionDimension(
        "h", TimeWindow(datetime(2020, 1, 1, 23), datetime(2020, 1, 2, 1)))
    with pytest.raises(ValueError, match="monotonic"):
        partition_dimensions_to_dnf([dim], schema, input_dnf=True,
                                    date_formats={"h": "%H"})


def test_empty_and_bare_string_partitions_raise():
    schema = StructType([StructField("region", StringType())])
    with pytest.raises(ValueError, match="empty partitions"):
        partition_dimensions_to_dnf(
            [TablePartitionDimension("region", [])], schema)
    with pytest.raises(TypeError, match="bare string"):
        partition_dimensions_to_dnf(
            [TablePartitionDimension("region", "emea")], schema)


def test_dnf_to_column_supports_full_op_set(spark):
    """All three DNF consumers (Column lowering, SQL rendering, file
    pruning) accept the same op set."""
    from dagster_delta_spark.plans.predicates import dnf_to_column

    df = spark.range(10).withColumnRenamed("id", "x")
    got = sorted(
        r["x"] for r in df.where(
            dnf_to_column([("x", ">", 2), ("x", "<=", 5)])).collect()
    )
    assert got == [3, 4, 5]


def test_read_with_infinite_float_bound(spark, tmp_table):
    """A non-finite float bound renders as a Spark double literal, so
    the read filter parses; bare ``inf`` resolved as a column name."""
    from dagster_delta_spark import DeltaSparkTable, WriteMode

    t = DeltaSparkTable(spark, tmp_table)
    t.write(spark.createDataFrame(
        [(1.0,), (-2.5,), (float("inf"),), (float("-inf"),)], "x double"),
        WriteMode.error)
    got = sorted(r.x for r in t.read(dnf=[("x", "<", float("inf"))]).collect())
    assert got == [float("-inf"), -2.5, 1.0]
    assert dnf_to_sql([("x", ">", float("-inf"))]) == (
        "x > double('-infinity')")
    assert t.read(dnf=[("x", ">", float("-inf"))]).count() == 3
