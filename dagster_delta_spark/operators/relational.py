"""Relational query operators over the synthetic star schema.

The reference defers general relational compute to user assets
(SURVEY §2.6-2.8: "not implemented — user compute"); our engine's
DataFrame surface supplies it.  These queries are the engine's
headline workload: written declaratively so Catalyst gets predicate
pushdown, column pruning and join planning; small dimensions are
broadcast explicitly; aggregations are partial (map-side combine) by
construction.

Every function takes ``(spark, sf_dir)`` and returns a DataFrame whose
column names match the DuckDB oracle in ``__spark_entry__.py``.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import session_cache


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # pin UTC: events ts becomes TIMESTAMP_LTZ after the nanos
    # conversion, and timestamp literals in queries are LTZ — a
    # non-UTC driver session would shift window/date_trunc/filter
    # boundaries relative to the (timezone-less) oracle engine
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    # session-cached table catalog: spark.read.parquet runs a footer
    # schema-inference job per call (~70 ms); a workload of N queries
    # over the same tables would pay it N times.  DataFrames are
    # immutable, so handing every caller the same logical-plan root is
    # safe — exactly what a metastore-backed catalog does with a
    # resolved table schema.
    def build(_fingerprint: str) -> DataFrame:
        if name == "events":
            return load_events(spark, sf_dir)
        return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))

    return session_cache.get(spark, sf_dir, name, (), build)


def widen_for_compute(df: DataFrame, key_col: Optional[str] = None
                      ) -> DataFrame:
    """Guide §2.5 (input skew: an unsplittable input caps scan
    parallelism — "repartition immediately after the read"): parquet
    cannot split below row-group granularity, and a single-row-group
    file pins every downstream map stage to ONE task regardless of
    core count.  When the scan yields fewer partitions than the
    session's parallelism, hash-repartition on a deterministic
    high-cardinality column (default: the frame's first column) up to
    ``defaultParallelism``.  At production scale inputs are
    multi-row-group, the condition is false, and this is a no-op —
    the adaptation only ever RAISES degenerate scan parallelism.

    Applied PER OPERATOR, only where the downstream map work
    (interpreted tokenizer/gram/hash HOF pipelines) measurably
    dominates the exchange: a load()-level variant was A/B'd in r16
    and REJECTED — it won big on the interpreted pipelines but taxed
    every cheap codegen'd line with an unamortized exchange
    (OPTIMIZATION_r16.md has both tables).
    ``DDS_SCAN_MIN_PARTITIONS`` overrides the target (0 disables)."""
    raw = os.environ.get("DDS_SCAN_MIN_PARTITIONS", "auto")
    if raw == "0":
        return df
    spark = df.sparkSession
    try:
        want = (spark.sparkContext.defaultParallelism
                if raw == "auto" else int(raw))
    except ValueError:
        want = spark.sparkContext.defaultParallelism
    if want <= 1:
        return df
    if df.rdd.getNumPartitions() >= want:
        return df
    return df.repartition(want, F.col(key_col or df.columns[0]))


# on-disk cap for an explicit dimension broadcast hint.  region/nation
# are constant-size, but customer/part/supplier SCALE WITH SF: at 100 TB
# they are multi-GB and a forced broadcast would OOM every executor.
# Past the cap the hint is dropped and AQE decides from runtime sizes
# (it broadcasts whenever the build side actually fits).  Parquet
# compresses ~2-4x vs in-memory rows, so 64 MB on disk keeps the
# broadcast build well under typical executor budgets.
_BROADCAST_CAP_BYTES = int(
    os.environ.get("DDS_BROADCAST_CAP_MB", "64")
) << 20


def _table_bytes(sf_dir: str, name: str) -> int:
    """On-disk size of a table — a driver-side stat, no Spark job."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in names)
    return total


def broadcast_if_small(df: DataFrame, sf_dir: str, name: str) -> DataFrame:
    """Size-gated broadcast hint for a dimension frame derived from
    ``name``: hint only while the table's on-disk footprint is under
    ``_BROADCAST_CAP_BYTES`` (docs/SCALE.md)."""
    if _table_bytes(sf_dir, name) <= _BROADCAST_CAP_BYTES:
        return F.broadcast(df)
    return df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load events.parquet with ``ts`` normalized to TIMESTAMP_LTZ.

    The fixture's physical type has varied across testdata generations:
    TIMESTAMP(NANOS) (Spark reads as long under ``nanosAsLong``) and
    TIMESTAMP(MICROS) isAdjustedToUTC=false (Spark reads as
    TIMESTAMP_NTZ).  Downstream operators do epoch arithmetic
    (``cast(ts as long)`` / ``unix_timestamp``), which Spark 4 ANSI
    permits on LTZ but rejects on NTZ — so every variant is converted
    here, once, with the session timezone pinned UTC so NTZ->LTZ is an
    identity on the wall-clock values the oracle engine sees."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # nanos-as-long -> us timestamp in exact int64 arithmetic; the
        # correction term makes this FLOOR division (bare DIV truncates
        # toward zero, rounding pre-epoch timestamps the wrong way)
        df = df.withColumn("ts", F.expr(
            "timestamp_micros(CAST(ts DIV 1000 - "
            "CASE WHEN ts % 1000 < 0 THEN 1 ELSE 0 END AS LONG))"))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy grouped aggregation over lineitem.
    Partial aggregation map-side; 6 aggregates in one pass."""
    li = load(spark, sf_dir, "lineitem")
    return (
        # widen AFTER the pushed filter (r16, guide §2.5): the six
        # DECIMAL(30,10) partial aggregates run in the scan's map
        # stage, which a single-row-group input pins to one task;
        # the exchange carries only surviving, column-pruned rows.
        # Exact: decimal accumulation is order-independent.
        widen_for_compute(
            li.where(F.col("l_shipdate")
                     <= F.lit("1998-09-02").cast("timestamp")),
            "l_orderkey")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # money sums accumulate in DECIMAL so the result is exact and
            # independent of partition/accumulation order (double sums of
            # ~1e9 differ in the last ulps between runs and engines)
            F.expr("CAST(SUM(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE)")
            .alias("sum_qty"),
            F.expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,10))) AS DOUBLE)")
            .alias("sum_base_price"),
            F.expr(
                "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) "
                "AS DECIMAL(30,10))) AS DOUBLE)"
            ).alias("sum_disc_price"),
            F.expr(
                "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) "
                "AS DECIMAL(30,10))) AS DOUBLE)"
            ).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter -> fact joins -> top-k.
    customer is a true dimension: broadcast it.  orders scales with the
    fact data, so its join carries NO hint — AQE broadcasts it when the
    filtered side fits under the threshold and shuffles otherwise
    (a forced broadcast would OOM at 100x).  Deterministic tiebreak on
    o_orderkey for oracle parity."""
    cust = load(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    # widened post-filter (r16, guide §2.5): the broadcast-join +
    # DECIMAL partial-agg map stage otherwise runs on the single
    # row-group scan's one task
    li = widen_for_compute(
        load(spark, sf_dir, "lineitem").where(
            F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
        ),
        "l_orderkey")
    return (
        li.join(
            orders.join(
                broadcast_if_small(cust, sf_dir, "customer"),
                orders.o_custkey == cust.c_custkey,
            ).select("o_orderkey", "o_orderdate", "o_orderpriority"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            # DECIMAL accumulation (CLAUDE.md money rule): the top-10
            # ranks on this sum, and near-tied orders could swap in/out
            # between engines on double summation-order ulps
            F.expr(f"CAST(SUM({_DEC_REV}) AS DOUBLE)").alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join with a region anchor; true dimension
    joins (region/nation/supplier/customer) broadcast, the fact-fact
    join lineitem x orders carries no hint so AQE picks broadcast only
    while the filtered orders side actually fits."""
    region = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    cust = load(spark, sf_dir, "customer")
    sup = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")

    nr = nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return (
        li.join(orders.select("o_orderkey", "o_custkey"),
                li.l_orderkey == F.col("o_orderkey"))
        .join(broadcast_if_small(sup, sf_dir, "supplier"),
              li.l_suppkey == sup.s_suppkey)
        .join(broadcast_if_small(cust, sf_dir, "customer"),
              F.col("o_custkey") == cust.c_custkey)
        .join(
            F.broadcast(nr.select("n_nationkey", "n_name")),
            (F.col("c_nationkey") == F.col("n_nationkey"))
            & (F.col("s_nationkey") == F.col("n_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            F.expr(
                "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) "
                "AS DECIMAL(30,10))) AS DOUBLE)"
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter+aggregate — the predicate-pushdown
    showcase (all three filters reach the parquet scan)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.expr(
                "CAST(SUM(CAST(l_extendedprice * l_discount "
                "AS DECIMAL(30,10))) AS DOUBLE)"
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def top_orders_per_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function operator: top-3 orders by totalprice per status
    (rank inside partition; single shuffle on the partition key)."""
    from pyspark.sql.window import Window

    orders = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_orderstatus", "o_orderkey", "o_totalprice", "rn")
    )


def events_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation over the events stream table (the
    batch twin of the Structured Streaming rollup in
    ``streaming/events.py``): 1-hour windows by event_type."""
    # scan widening A/B'd here and REJECTED (r16, 6 trials: med 0.502
    # unwidened vs 0.675 widened — the exchange outweighs the
    # parallelized window-bucket partial agg at this SF)
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # decimal accumulation: a plain double sum over large
            # groups diverges from the oracle engine's summation order
            # beyond the gate's 6-digit rounding at bigger SFs
            F.expr("CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE)").alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
            "n_users",
        )
    )


def events_sessionize(spark: SparkSession, sf_dir: str, gap_minutes: int = 30) -> DataFrame:
    """Sessionization via gaps-and-islands: a session breaks after
    ``gap_minutes`` of user inactivity.  One shuffle on user_id; the
    cumulative-sum window stays within each partition."""
    from pyspark.sql.window import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    sessions = (
        ev.withColumn("new_session",
                      F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0))
        .withColumn("session_id", F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.expr("CAST(SUM(CAST(value AS DECIMAL(30,10))) AS DOUBLE)").alias("sum_value"),
        )
    )


def order_lineitem_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order/lineitem revenue summary per order status.

    Plan: TWO independent aggregates joined on the 3-row status key —
    revenue from lineitem x (size-gated broadcast of orders' 2-column
    key/status projection), order counts and avg price from orders
    alone.  This never shuffles lineitem on the high-cardinality
    orderkey (the agg-then-join formulation's first exchange — 15-20%
    slower measured, and at 100 TB that orderkey exchange IS the
    query); when orders outgrows the broadcast cap the hint drops and
    AQE picks the join strategy from runtime sizes.  Orders without
    lineitems contribute zero revenue via the left join + coalesce —
    same contract as the agg-then-join shape."""
    orders = load(spark, sf_dir, "orders")
    # widened (r16, guide §2.5): the revenue side's broadcast join +
    # DECIMAL partial agg is the scan's map stage — one task on a
    # single-row-group input.  The orders side stays raw (its own
    # aggregate is over the much smaller table).
    li = widen_for_compute(load(spark, sf_dir, "lineitem"), "l_orderkey")
    okeys = broadcast_if_small(
        orders.select("o_orderkey", "o_orderstatus"), sf_dir, "orders"
    )
    rev = (
        li.join(okeys, li.l_orderkey == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(F.expr(
            "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) "
            "AS DECIMAL(30,10))) AS DOUBLE)"
        ).alias("total_revenue"))
    )
    base = (
        orders.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.avg(F.col("o_totalprice")).alias("avg_totalprice"),
        )
    )
    return (
        base.join(rev, "o_orderstatus", "left")
        .select(
            "o_orderstatus", "n_orders",
            F.coalesce("total_revenue", F.lit(0.0)).alias("total_revenue"),
            "avg_totalprice",
        )
    )


def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP over (status, priority): subtotal rows at every
    hierarchy level in one pass (Spark expands grouping sets into a
    single shuffle with a grouping-id column)."""
    # widened (r16, guide §2.5): grouping-set expansion multiplies the
    # DECIMAL partial-agg rows map-side — serial on an unsplit scan
    orders = widen_for_compute(
        load(spark, sf_dir, "orders"), "o_orderkey")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.expr(
                "CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE)"
            ).alias("total_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY CUBE over (status, priority): all grouping-set
    combinations in one pass."""
    # widened: same rationale as revenue_rollup above
    orders = widen_for_compute(
        load(spark, sf_dir, "orders"), "o_orderkey")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.expr(
                "CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE)"
            ).alias("total_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def customer_order_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators: customers with open orders INTERSECT customers
    with finished orders, EXCEPT those with pending ones."""
    orders = load(spark, sf_dir, "orders")
    open_c = orders.where("o_orderstatus = 'O'").select("o_custkey")
    done_c = orders.where("o_orderstatus = 'F'").select("o_custkey")
    pend_c = orders.where("o_orderstatus = 'P'").select("o_custkey")
    return open_c.intersect(done_c).subtract(pend_c)


def q4_order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS correlated subquery -> left-semi join
    (Catalyst plans the semi join; no row explosion)."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    late = li.where(F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp"))
    return (
        orders.join(
            late, orders.o_orderkey == late.l_orderkey, "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q16_anti_join_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN / anti-join shape: parts never shipped by any supplier
    with a negative account balance."""
    part = load(spark, sf_dir, "part")
    sup = load(spark, sf_dir, "supplier").where(F.col("s_acctbal") < 0)
    li = load(spark, sf_dir, "lineitem")
    bad_parts = li.join(
        broadcast_if_small(sup, sf_dir, "supplier"),
        li.l_suppkey == sup.s_suppkey,
    ).select("l_partkey").distinct()
    return (
        part.join(bad_parts, part.p_partkey == bad_parts.l_partkey, "left_anti")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: scalar aggregate subquery per group — lineitems
    below 50%% of their part's average quantity.  The per-part average
    is joined back without a hint: its cardinality is #parts, which
    grows with the data, so forcing a broadcast would stall the driver
    at scale — AQE may still choose broadcast when it fits."""
    li = load(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg")
    )
    return (
        li.join(avg_qty, "l_partkey")
        .where(F.col("l_quantity") < F.col("half_avg"))
        .agg(
            F.expr(
                "CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,10))) AS DOUBLE)"
            ).alias("small_qty_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: parse the JSON ``props`` column
    JVM-side (get_json_object — no Python) and aggregate by the
    extracted key bucket."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("bigint"))
        .groupBy((F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.avg("k").alias("avg_k"),
            F.sum("value").alias("sum_value"),
        )
    )


def q12_priority_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional CASE aggregation after a fact join."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    return (
        li.join(orders.select("o_orderkey", "o_orderpriority"),
                li.l_orderkey == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(
                F.when(
                    F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
                ).otherwise(0)
            ).alias("high_line_count"),
            F.sum(
                F.when(
                    ~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
                ).otherwise(0)
            ).alias("low_line_count"),
        )
    )


def q14_promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional revenue ratio over a dimension
    attribute (promo part types)."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    rev = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))"
    return (
        li.join(broadcast_if_small(part.select("p_partkey", "p_type"),
                                   sf_dir, "part"),
                li.l_partkey == F.col("p_partkey"))
        .agg(
            F.expr(
                f"CAST(100.0 * SUM(CASE WHEN p_type LIKE 'PROMO%' "
                f"THEN {rev} ELSE CAST(0 AS DECIMAL(30,10)) END) "
                f"/ SUM({rev}) AS DOUBLE)"
            ).alias("promo_revenue_pct")
        )
    )


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING over a grouped fact, rejoined to dims;
    deterministic top-20."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.expr("CAST(SUM(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE)")
             .alias("total_qty"))
        .where(F.col("total_qty") > 250)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(broadcast_if_small(cust, sf_dir, "customer"),
              orders.o_custkey == cust.c_custkey)
        .select("c_name", "o_orderkey", "o_orderdate", "o_totalprice",
                "total_qty")
        .orderBy(F.desc("total_qty"), F.asc("o_orderkey"))
        .limit(20)
    )


def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicate across fact + dim — tests
    that Catalyst pushes the common join key and evaluates the
    disjunction once."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    j = li.join(broadcast_if_small(part, sf_dir, "part"),
                li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10)
         & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 20))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 20)
           & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 30))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 30)
           & (F.col("l_quantity") >= 20) & (F.col("l_quantity") <= 40))
    )
    return j.where(cond).agg(
        F.expr(
            "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) "
            "AS DECIMAL(30,10))) AS DOUBLE)"
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery (global average) + anti join
    (customers with no orders)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    avg_bal = cust.where(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("a")
    )
    rich = cust.join(F.broadcast(avg_bal)).where(F.col("c_acctbal") > F.col("a"))
    # "idle" = at most 3 orders (every synthetic customer has some)
    counts = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_ord"))
    idle = (
        rich.join(counts, rich.c_custkey == counts.o_custkey, "left")
        .where(F.coalesce(F.col("n_ord"), F.lit(0)) <= 3)
    )
    return (
        idle.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.expr("CAST(SUM(CAST(c_acctbal AS DECIMAL(30,10))) AS DOUBLE)")
            .alias("total_bal"),
        )
    )


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between distinct nation pairs
    by year — double dimension join plus date bucketing."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    sup = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("s_nk"),
                       F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("c_nk"),
                       F.col("n_name").alias("cust_nation"))
    return (
        li.join(orders.select("o_orderkey", "o_custkey"),
                li.l_orderkey == F.col("o_orderkey"))
        .join(broadcast_if_small(sup.select("s_suppkey", "s_nationkey"),
                                 sf_dir, "supplier"),
              li.l_suppkey == F.col("s_suppkey"))
        .join(broadcast_if_small(cust.select("c_custkey", "c_nationkey"),
                                 sf_dir, "customer"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").alias("l_year"))
        .agg(
            F.expr(
                "CAST(SUM(CAST(l_extendedprice * (1 - l_discount) "
                "AS DECIMAL(30,10))) AS DOUBLE)"
            ).alias("volume"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


def string_functions_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string-function surface (SURVEY §2.8): case, substring,
    length, edit distance — all JVM built-ins, all deterministic."""
    part = load(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 5).alias("name_head"),
        F.length("p_name").cast("long").alias("name_len"),
        F.levenshtein("p_brand", F.lit("Brand#1")).cast("long").alias("edit_dist"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
    )


def date_parts_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date extraction + formatting (reference F1 analogue): orders
    per (year, month) with the reference's date_format rendering."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").cast("int").alias("y"),
            F.month("o_orderdate").cast("int").alias("m"),
            F.date_format("o_orderdate", "yyyy-MM").alias("ym_str"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE)")
            .alias("total_price"),
        )
    )


def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer binning: order counts per 20k price bucket."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.floor(F.col("o_totalprice") / 20000).cast("long").alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per status (Spark percentile ==
    DuckDB quantile_cont) + dispersion stats."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
            F.expr("percentile(o_totalprice, 0.95)").alias("p95"),
            F.stddev_samp("o_totalprice").alias("sd"),
            F.corr("o_totalprice", "o_custkey").alias("price_cust_corr"),
        )
    )


def status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot orders: one row per priority, one revenue column per
    status (Spark .pivot with explicit values avoids the extra
    distinct-scan job)."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(30,10))) AS DOUBLE)"))
        .withColumnsRenamed({"F": "rev_f", "O": "rev_o", "P": "rev_p"})
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated MIN subquery — for each part, the
    supplier(s) achieving its minimum observed unit price.  (The
    synthetic schema has no partsupp table, so unit price comes from
    lineitem.)  Expressed as a grouped min joined back on equality —
    Catalyst's decorrelation of the scalar subquery produces the same
    plan; no per-part re-scan."""
    li = load(spark, sf_dir, "lineitem")
    sup = load(spark, sf_dir, "supplier")
    unit = li.select(
        "l_partkey", "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
    )
    min_price = unit.groupBy("l_partkey").agg(
        F.min("unit_price").alias("min_price")
    )
    return (
        unit.join(min_price, "l_partkey")
        .where(F.col("unit_price") == F.col("min_price"))
        .join(broadcast_if_small(sup.select("s_suppkey", "s_name"),
                                 sf_dir, "supplier"),
              F.col("l_suppkey") == F.col("s_suppkey"))
        # min_price is constant per group; first() states that
        .groupBy("l_partkey", "s_suppkey", "s_name")
        .agg(F.first("min_price").cast("double").alias("min_unit_price"))
    )


def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count —
    LEFT join so zero-order customers land in bucket 0, then a second
    aggregation over the counts (two shuffles, both keyed)."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT-EXISTS — suppliers whose lineitem
    was late on multi-supplier orders where NO other supplier was late.
    Both correlated subqueries lower to semi/anti joins on l_orderkey;
    no row explosion.  (The synthetic lineitem has no
    receipt/commit dates, so "late" = shipped after the cutoff.)"""
    li = load(spark, sf_dir, "lineitem")
    sup = load(spark, sf_dir, "supplier")
    late = li.where(
        F.col("l_shipdate") > F.lit("1997-06-30").cast("timestamp")
    ).select("l_orderkey", "l_suppkey")
    # orders with >= 2 distinct suppliers (the EXISTS other-supplier arm)
    multi = (
        li.groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("n_sup"))
        .where(F.col("n_sup") >= 2)
        .select("l_orderkey")
    )
    # orders where >1 distinct supplier was late (NOT-EXISTS arm kills these)
    multi_late = (
        late.groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("n_late"))
        .where(F.col("n_late") >= 2)
        .select("l_orderkey")
    )
    waiting = (
        late.join(multi, "l_orderkey", "left_semi")
        .join(multi_late, "l_orderkey", "left_anti")
        .dropDuplicates(["l_orderkey", "l_suppkey"])
    )
    return (
        waiting.join(broadcast_if_small(sup.select("s_suppkey", "s_name"),
                                        sf_dir, "supplier"),
                     waiting.l_suppkey == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


# -- adapted TPC-H shapes q8-q11, q15 ---------------------------------------
# The synthetic schema is trimmed (no partsupp, no commit/receipt dates,
# generic p_type values), so these keep each query's SHAPE — the join
# topology, aggregation pattern, and subquery structure the optimizer
# has to handle — with parameters adapted to the data.  Money sums
# accumulate in DECIMAL(30,10) for engine-independent results.

_DEC_REV = ("CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))")


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): for customers in region
    EUROPE, the yearly share of revenue delivered by suppliers of
    NATION_7 — two nation role-joins, a region anchor, and a
    conditional-sum-over-sum ratio per group."""
    region = load(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    nation = load(spark, sf_dir, "nation")
    cn = nation.join(F.broadcast(region),
                     nation.n_regionkey == region.r_regionkey).select(
        F.col("n_nationkey").alias("c_nk"))
    sn = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("s_nation"))
    cust = load(spark, sf_dir, "customer")
    sup = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    j = (
        li.join(orders.select("o_orderkey", "o_custkey", "o_orderdate"),
                li.l_orderkey == F.col("o_orderkey"))
        .join(broadcast_if_small(cust.select("c_custkey", "c_nationkey"),
                                 sf_dir, "customer"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .join(broadcast_if_small(sup.select("s_suppkey", "s_nationkey"),
                                 sf_dir, "supplier"),
              li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
    )
    return (
        j.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (F.expr(f"CAST(SUM(CASE WHEN s_nation = 'NATION_7' THEN "
                    f"{_DEC_REV} END) AS DOUBLE)")
             / F.expr(f"CAST(SUM({_DEC_REV}) AS DOUBLE)"))
            .alias("mkt_share")
        )
    )


def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): profit per supplier nation
    per year over PROMO parts.  No partsupp in the trimmed schema, so
    supply cost is modeled as 0.5 * p_retailprice * l_quantity — the
    shape (part filter, supplier-nation rollup, profit expression)
    is intact."""
    part = load(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    sup = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    profit = (
        "CAST(l_extendedprice * (1 - l_discount) "
        "- 0.5 * p_retailprice * l_quantity AS DECIMAL(30,10))"
    )
    j = (
        li.join(broadcast_if_small(part.select("p_partkey", "p_retailprice"),
                                   sf_dir, "part"),
                li.l_partkey == F.col("p_partkey"))
        .join(broadcast_if_small(sup.select("s_suppkey", "s_nationkey"),
                                 sf_dir, "supplier"),
              li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders.select("o_orderkey", "o_orderdate"),
              li.l_orderkey == F.col("o_orderkey"))
    )
    return (
        j.groupBy(F.col("n_name").alias("nation"),
                  F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(F.expr(f"CAST(SUM({profit}) AS DOUBLE)").alias("sum_profit"))
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns in
    one quarter — selective fact filters, dim joins, grouped revenue,
    deterministic top-k."""
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    j = (
        li.join(orders.select("o_orderkey", "o_custkey"),
                li.l_orderkey == F.col("o_orderkey"))
        .join(broadcast_if_small(cust, sf_dir, "customer"),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.expr(f"CAST(SUM({_DEC_REV}) AS DOUBLE)").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): per-part shipped value for
    suppliers of NATION_3, kept where the part's value exceeds a
    fraction of the national total — a grouped aggregate filtered by a
    scalar subquery over the same aggregate.  partsupp is absent, so
    value = sum(l_extendedprice * l_quantity) from lineitem."""
    sup = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")
    li = load(spark, sf_dir, "lineitem")
    val = "CAST(l_extendedprice * l_quantity AS DECIMAL(30,10))"
    j = li.join(
        F.broadcast(
            sup.join(F.broadcast(nation),
                     sup.s_nationkey == nation.n_nationkey)
            .select("s_suppkey")
        ),
        li.l_suppkey == F.col("s_suppkey"),
    )
    # ONE fact scan: the global total is the exact sum of the per-part
    # DECIMAL subtotals (decimal addition is associative), so deriving
    # it from per_part spares the second lineitem scan+join that an
    # independent total aggregate costs — at 100 TB that redundant
    # fact pass IS the query
    per_part = j.groupBy("l_partkey").agg(
        F.expr(f"SUM({val})").alias("__dec")).localCheckpoint(eager=False)
    total = per_part.agg(
        F.expr("CAST(SUM(__dec) AS DOUBLE)").alias("t"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.expr("CAST(__dec AS DOUBLE)") > F.col("t") * 0.002)
        .select("l_partkey",
                F.expr("CAST(__dec AS DOUBLE)").alias("value"))
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): quarterly per-supplier revenue,
    keeping the supplier(s) whose revenue equals the maximum — the
    view-plus-scalar-subquery pattern."""
    sup = load(spark, sf_dir, "supplier")
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.expr(f"CAST(SUM({_DEC_REV}) AS DOUBLE)")
             .alias("total_revenue"))
    )
    top = rev.agg(F.max("total_revenue").alias("m"))
    return (
        rev.crossJoin(F.broadcast(top))
        .where(F.col("total_revenue") == F.col("m"))
        .join(broadcast_if_small(sup.select("s_suppkey", "s_name"),
                                 sf_dir, "supplier"),
              rev.l_suppkey == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q20_excess_shipments(
    spark: SparkSession,
    sf_dir: str,
    family: str = "%widget%",
    factor: float = 1.5,
    nation_name: str = "NATION_2",
) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): suppliers in one
    nation who shipped an above-average share of a part-name family in
    1996.  Without a partsupp table, lineitem plays the supply
    relation: per-(supplier, part) shipped quantity stands in for
    ps_availqty, and the correlated threshold is 1.5x the part's mean
    per-supplier shipped quantity (Q20 uses 0.5x the year's demand
    against availqty).  The SHAPE is preserved: name-LIKE-filtered
    parts, a correlated per-part threshold subquery, a distinct
    semi-join into supplier, and a nation anchor.

    Scale: the part-family filter lands BEFORE the per-part stats, so
    both the stats aggregate and the threshold probe touch only the
    family's rows; the threshold compare is sum-based
    (qty * n_suppliers > 1.5 * total_qty) so no engine-dependent
    division; supplier/nation are size-gated broadcasts.  l_quantity
    is integer-valued, so the double sums are exact and
    order-independent on both engines."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    sup = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    fam_parts = part.where(F.col("p_name").like(family)).select("p_partkey")
    shipped = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(broadcast_if_small(fam_parts, sf_dir, "part"),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    stats = shipped.groupBy("l_partkey").agg(
        F.sum("qty").alias("total_qty"),
        F.count(F.lit(1)).alias("n_suppliers"),
    )
    heavy = (
        shipped.join(stats, "l_partkey")
        .where(
            F.col("qty") * F.col("n_suppliers") > factor * F.col("total_qty")
        )
        .select("l_suppkey")
        .distinct()
    )
    nat = nation if nation_name is None else nation.where(
        F.col("n_name") == nation_name
    )
    return (
        sup.join(broadcast_if_small(nat, sf_dir, "nation"),
                 sup.s_nationkey == F.col("n_nationkey"))
        .join(heavy, sup.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", "n_name")
    )


def salted_user_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated fact⋈dim join, driver-verified for value
    neutrality: events (large side) joins a per-user dimension through
    ``functions.skew.salted_join`` (salt=8 — every user key spreads
    over 8 tasks), then rolls up per event_type.  The oracle is the
    PLAIN join: salting must never change results, only the shuffle's
    task-size distribution.  Use on known heavy-hitter keys where even
    AQE's skew split leaves one oversized task; the salt multiplies
    only the SMALL side's shuffle volume (dim x salt rows).

    Money-style decimal accumulation on the value sum keeps the
    rollup hash-stable across both engines' summation orders."""
    from ..functions.skew import salted_join

    ev = load(spark, sf_dir, "events")
    dim = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_user_events")
    )
    joined = salted_join(ev.select("user_id", "event_type", "value"),
                         dim, "user_id", salt=8)
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("value").cast("decimal(30,10)")).cast("double")
        .alias("sum_value"),
        F.sum("n_user_events").cast("long").alias("sum_peer_events"),
    )
