"""Distributed graph operators: connected components via min-label
propagation over a bipartite membership frame.

A duplicate graph is never materialized as pairs at scale (a
d-duplicate cluster is d^2/2 edges); every consumer in this engine —
LSH cluster dedup, leakage-safe splits, and the generic
``duplicate_components`` here — works on the bipartite
``(node, key)`` membership instead, where components cost
O(|membership|) per propagation round regardless of duplicate-set
size.  The reference defers all user compute (SURVEY §2.6-2.8); this
module is additive engine surface like ``dedup.py``.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from .relational import load


class ComponentConvergenceError(RuntimeError):
    """Label propagation hit max_iterations before the fixpoint —
    the result would be silently non-transitive, so we refuse it."""


def bipartite_components(
    membership: DataFrame,
    node_col: str = "doc_id",
    key_cols: Sequence[str] = ("fp",),
    iterations: Optional[int] = None,
    max_iterations: int = 50,
    prepared: bool = False,
) -> DataFrame:
    """Connected components of the graph "nodes sharing a key are
    connected": min-label propagation over the bipartite
    ``(node, key)`` frame.  Each round, a key takes its members'
    minimum label and each node takes its keys' minimum — after
    convergence every node carries the minimum node id reachable in
    its component (minimum under the id type's ordering), the
    canonical deterministic component id.

    Runs TO CONVERGENCE by default: labels only decrease under the
    id ordering, so an unchanged-labels round is the fixpoint.  For
    INTEGRAL node ids the check is one tiny decimal-sum aggregate
    per round (exact: integer labels, monotone decreases of >= 1);
    for every other orderable id type (strings, dates, fractional
    numerics) it is an exact changed-row probe joining the previous
    round's materialized labels — a decimal(38,0) cast would crash
    on strings under ANSI mode, misread lexicographic string mins,
    and round away sub-unit decreases of fractional ids, any of
    which could fake convergence.  A component of graph diameter d converges
    in ~d/2 rounds; if ``max_iterations`` is exhausted first the
    function raises :class:`ComponentConvergenceError` instead of
    returning silently non-transitive labels (``iterations`` pins an
    exact round count for tests and skips both the probe and the
    guard).

    ``prepared=True`` asserts the membership frame is already
    distinct and materialized (checkpointed/cached) — both internal
    callers guarantee this; the default path distincts and
    lazily checkpoints, since the loop re-reads membership twice per
    round.

    Scale: cost per round is O(|membership|) — two keyed shuffles
    (key, then node) with partial aggregation — independent of
    component sizes; lineage is cut per round (localCheckpoint), the
    same loop shape as ``dedup.minhash_cluster_keep`` (which
    delegates here).  Returns ``(node_col, component)`` for every
    node present in ``membership``.
    """
    keys = list(key_cols)
    if prepared:
        member = membership.select(node_col, *keys)
    else:
        member = membership.select(node_col, *keys).distinct().localCheckpoint(
            eager=False
        )
    labels = (
        member.select(node_col).distinct()
        .withColumn("lbl", F.col(node_col))
        .localCheckpoint(eager=False)
    )
    integral_ids = isinstance(
        labels.schema["lbl"].dataType, IntegralType
    )
    rounds = iterations if iterations is not None else max_iterations
    prev_sum = None
    converged = iterations is not None
    # Scale-adaptive round sizing (r15, guide §2.2/§2.5): the loop
    # runs 2 keyed shuffles per round over the (materialized)
    # membership — when that frame is small, the session's full
    # shuffle-partition count is pure per-task scheduling overhead
    # (~0.3 s/round measured at 9k rows x 32 partitions).  Size the
    # round shuffles from the actual membership row count (one cheap
    # count on the checkpointed frame), never RAISING above the
    # session setting — at production scale the session value wins
    # unchanged.  The size rides in the plan (explicit repartitions),
    # never in session conf, which other threads plan with.
    try:
        cur_parts = int(membership.sparkSession.conf.get(
            "spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        cur_parts = None
    loop_parts = None
    if cur_parts is not None and cur_parts > 1:
        n_member = member.count()
        # at least 2: a 1-partition repartition plans as SinglePartition,
        # which Spark re-shuffles at the session count under a join
        loop_parts = min(cur_parts, max(2, -(-n_member // 200_000)))
        if loop_parts >= cur_parts:
            loop_parts = None
    labels, converged = _propagate_rounds(
        member, labels, node_col, keys, rounds, iterations,
        integral_ids, prev_sum, converged, loop_parts)
    if not converged:
        raise ComponentConvergenceError(
            f"label propagation did not converge within "
            f"max_iterations={max_iterations}; the component graph has "
            f"a longer chain than expected — raise max_iterations"
        )
    return labels.select(node_col, F.col("lbl").alias("component"))


def _propagate_rounds(
    member: DataFrame,
    labels: DataFrame,
    node_col: str,
    keys: Sequence[str],
    rounds: int,
    iterations: Optional[int],
    integral_ids: bool,
    prev_sum,
    converged: bool,
    loop_parts: Optional[int] = None,
):
    """The propagation loop body of :func:`bipartite_components`.
    ``loop_parts`` (None = the session's count) sizes the round: every
    keyed aggregation and both sides of every join get an explicit
    hash repartition on their keys, each replacing the Exchange Spark
    would plan there, so a round plans as many Exchanges as at the
    session count.  The aggregations lose their map-side partial
    combine; only memberships under 200,000 rows a session partition
    take this path."""

    def by(df: DataFrame, *cols: str) -> DataFrame:
        return df.repartition(loop_parts, *cols) if loop_parts else df

    def labels_by_node(df: DataFrame) -> DataFrame:
        # a checkpoint forgets its partitioning, and Spark sizes a join
        # whose sides are both shuffles by the session, so the labels
        # side ends in a no-op (one row per node) aggregate that
        # carries loop_parts into the join
        if not loop_parts:
            return df
        return by(df, node_col).groupBy(node_col).agg(
            F.min("lbl").alias("lbl"))

    member_by_key = by(member, *keys)
    for rnd in range(rounds):
        prev_labels = labels
        if rnd == 0:
            # round-1 fusion (r15 optimization): the initial label of
            # every node IS the node id, so the first key-min needs no
            # join with the labels frame — min(node) per key straight
            # off the membership.  Identical result, one less
            # join+Exchange in the first (often only) hot round.
            key_min = (
                member_by_key.groupBy(*keys)
                .agg(F.min(F.col(node_col)).alias("kmin"))
            )
        else:
            key_min = (
                by(by(member, node_col).join(labels_by_node(labels),
                                             node_col), *keys)
                .groupBy(*keys)
                .agg(F.min("lbl").alias("kmin"))
            )
        labels = (
            by(member_by_key.join(key_min, keys), node_col)
            .groupBy(node_col)
            .agg(F.min("kmin").alias("lbl"))
            # cut lineage each round: the plan otherwise deepens by
            # 2 joins + 2 aggs per iteration and analysis/codegen
            # cost grows superlinearly past a few rounds.  LAZY when a
            # convergence probe follows — the probe's action then
            # materializes the checkpoint and computes the probe in ONE
            # job instead of two (same shuffles, one fewer driver
            # round-trip per round); eager on the pinned-iterations
            # path, which runs no probe to force it.
            .localCheckpoint(eager=iterations is not None)
        )
        if iterations is None:
            if integral_ids:
                # labels are monotonically nonincreasing, so an
                # unchanged sum IS convergence — one tiny aggregate
                # over the already-materialized labels
                cur = labels.agg(
                    F.sum(F.col("lbl").cast("decimal(38,0)"))).first()[0]
                if cur == prev_sum:
                    converged = True
                    break
                prev_sum = cur
            else:
                changed = (
                    labels_by_node(labels).alias("n")
                    .join(by(prev_labels, node_col).alias("p"), node_col)
                    .where(F.col("n.lbl") != F.col("p.lbl"))
                    .limit(1)
                    .count()
                )
                if changed == 0:
                    converged = True
                    break
    return labels, converged


def duplicate_components(
    spark: SparkSession,
    sf_dir: str,
    k: int = 5,
    window: int = 4,
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components of the substring-duplicate graph: two
    documents are connected when they share a winnowed k-gram
    fingerprint (``dedup.winnow_fingerprints`` — any common token run
    of length >= k + window - 1 guarantees a shared fingerprint), and
    components are the transitive closure — the "duplicate family"
    unit that cluster-level dedup, leakage-safe splitting, and
    per-family quota sampling all consume.  Chains matter: A~B and
    B~C puts A and C in one family even when A and C share nothing,
    which pairwise near-dup lists structurally cannot express.

    Only fingerprints shared by >= 2 documents enter propagation
    (singleton fps cannot affect components — dropping them shrinks
    the membership to the boilerplate-bearing slice); documents with
    no shared fingerprint come back as singleton components of
    themselves.  Output: ``(doc_id, component)`` for EVERY document,
    component = min doc_id of the family.

    Oracle: the DuckDB twin computes the same closure with a
    recursive CTE — propagation depth is algorithm-specific but the
    fixpoint is unique, so both engines agree exactly (and
    non-convergence raises rather than diverging silently).
    """
    from .dedup import winnow_fingerprints

    # winnow_fingerprints is a ZERO-Exchange map pipeline of interpreted
    # array-domain lambdas (tokenize + per-gram md5) — and it feeds BOTH
    # the shared-fp aggregate and the membership join probe side below.
    # Materialize it ONCE (eager: a lazy checkpoint referenced twice in
    # one job can still compute partitions twice across concurrent
    # tasks) so the HOF pipeline runs once, not per consumer — the same
    # multi-consumer rule as the strip/nb checkpoint fixes (r15, guide
    # §2.4/§4).  The materialization is O(|fingerprints|), linear in
    # corpus size, on executor-local storage.
    fps = winnow_fingerprints(spark, sf_dir, k, window).localCheckpoint()
    shared = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("fp")
    )
    # winnow_fingerprints is distinct (doc_id, fp); the semi-join
    # preserves that, so the membership is prepared once here and the
    # propagation loop re-reads the materialization, not the pipeline
    member = (
        fps.join(shared, "fp").select("doc_id", "fp")
        .localCheckpoint(eager=False)
    )
    comp = bipartite_components(
        member, "doc_id", ("fp",),
        max_iterations=max_iterations, prepared=True,
    )
    docs = load(spark, sf_dir, "documents").select("doc_id")
    return docs.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
    )
