"""Exactly-once streaming sink into a DeltaSparkTable.

Structured Streaming's ``foreachBatch`` gives at-least-once delivery:
after a crash the last in-flight micro-batch is REPLAYED with the same
``batchId``.  Delta's sink closes the loop with the ``txn``
(SetTransaction) protocol — the sink records ``(appId, batchId)`` in
the same atomic commit as the data, and a replayed batch sees its id
already recorded and no-ops.  ``DeltaSparkTable.idempotent_append``
implements that protocol (the recorded-id check runs inside the commit
retry loop, so racing workers cannot double-append); this module is
the thin ``foreachBatch`` adapter.

Scale shape: the data plane is a normal distributed parquet append per
micro-batch; the ledger adds one integer per app id to the snapshot —
O(number of distinct writing applications), not O(batches), because
replay folds it with ``max``.
"""

from __future__ import annotations

import json
from typing import Callable, Optional, Sequence

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..config import MergeConfig, MergeType, WriteMode
from ..plans.predicates import _sql_literal
from ..table import DeltaSparkTable


def exactly_once_table_sink(
    table_uri: str,
    app_id: str,
    *,
    partition_columns: Optional[Sequence[str]] = None,
) -> Callable[[DataFrame, int], None]:
    """A ``foreachBatch`` function appending each micro-batch to the
    table exactly once::

        (df.writeStream
           .foreachBatch(exactly_once_table_sink(uri, "my-pipeline"))
           .option("checkpointLocation", ckpt)
           .trigger(availableNow=True)
           .start())

    ``app_id`` identifies the WRITER (one per streaming query lineage;
    a new checkpoint dir restarts batch numbering, so pair a fresh
    checkpoint with a fresh app_id)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        DeltaSparkTable(batch_df.sparkSession, table_uri).idempotent_append(
            batch_df, app_id, batch_id,
            partition_columns=partition_columns,
        )

    return sink


def index_maintaining_sink(
    table_uri: str,
    index_uri: str,
    app_id: str,
    *,
    num_hashes: int = 64,
    bands: int = 16,
    partition_columns: Optional[Sequence[str]] = None,
    compact_every: int = 0,
    kind: str = "lsh",
) -> Callable[[DataFrame, int], None]:
    """``exactly_once_table_sink`` + CDC index maintenance in one
    ``foreachBatch``: each micro-batch appends to the documents table
    exactly once, then the persisted index folds the not-yet-indexed
    commits — a streaming ingest whose index is ALWAYS current, no
    separate maintenance job to schedule or forget.  ``kind`` picks
    the family: ``"lsh"`` (default — MinHash-LSH buckets,
    ``incremental.maintain_lsh_index``, banding params below) or
    ``"bm25"`` (text postings, ``incremental.maintain_bm25_index``);
    the first batch bootstraps via the family's ``build_*``.

    Crash/replay safety composes from the two idempotent halves: a
    replayed batch's append no-ops on the txn ledger (table head
    unchanged), and maintenance resumes from the index's own
    ``base_version`` metadata, so an already-folded head is a no-op
    too — the pair is exactly-once end-to-end without any shared
    coordination beyond the table versions themselves.  An external
    REWRITE of the table fails the stream loudly (``read_changes``
    raises; rebuild the index instead) — silence would leave ghost
    bucket rows.

    Per-batch cost is O(batch): one append commit + shingling/banding
    (or tokenizing) of only the new documents."""
    if kind not in ("lsh", "bm25"):
        raise ValueError(f"unknown index kind {kind!r} (lsh | bm25)")
    if kind == "bm25" and (num_hashes, bands) != (64, 16):
        raise ValueError(
            "num_hashes/bands are LSH banding knobs; a bm25 postings "
            "index has none — drop them rather than silently ignore")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.incremental import (
            build_bm25_index,
            build_lsh_index,
            maintain_bm25_index,
            maintain_lsh_index,
        )

        spark = batch_df.sparkSession
        table = DeltaSparkTable(spark, table_uri)
        table.idempotent_append(
            batch_df, app_id, batch_id,
            partition_columns=partition_columns,
        )
        index = DeltaSparkTable(spark, index_uri)
        if not index.exists():
            if kind == "bm25":
                build_bm25_index(table, index)
            else:
                build_lsh_index(table, index, num_hashes, bands)
        elif kind == "bm25":
            maintain_bm25_index(table, index)
        else:
            maintain_lsh_index(table, index)
        if compact_every > 0 and batch_id % compact_every == compact_every - 1:
            # bound the small-file accumulation a long-lived sink
            # builds (one data commit + one index commit per batch);
            # compactions are invisible to every incremental consumer
            table.optimize()
            index.optimize()

    return sink


def rollup_maintaining_sink(
    table_uri: str,
    rollup_uri: str,
    app_id: str,
    group_cols: Sequence[str],
    measures: dict[str, str],
    *,
    count_col: Optional[str] = None,
    partition_columns: Optional[Sequence[str]] = None,
    compact_every: int = 0,
) -> Callable[[DataFrame, int], None]:
    """``exactly_once_table_sink`` + incremental materialized-aggregate
    maintenance in one ``foreachBatch``: each micro-batch appends to
    the fact table exactly once, then the stored rollup folds the
    not-yet-processed commits (``incremental.maintain_rollup``,
    resuming from the rollup's own ``base_version`` metadata) — a
    STREAMING MATERIALIZED VIEW whose base is transactional and whose
    refresh cost is O(batch) + O(touched groups), never a rescan.

    Because ``maintain_rollup`` consumes the row-level change feed,
    merge-on-read DELETE/UPDATE issued on the fact table BETWEEN
    micro-batches fold into the next maintenance run as signed
    partials — out-of-band corrections keep the view exact without
    pausing the stream.  Copy-rewrites fail the stream loudly
    (rebuild the rollup).

    Crash/replay safety composes exactly like ``index_maintaining_
    sink``: the append no-ops on the txn ledger, maintenance no-ops on
    an already-folded head — exactly-once end-to-end with no shared
    coordination beyond the table versions."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.incremental import maintain_rollup

        spark = batch_df.sparkSession
        table = DeltaSparkTable(spark, table_uri)
        table.idempotent_append(
            batch_df, app_id, batch_id,
            partition_columns=partition_columns,
        )
        rollup = DeltaSparkTable(spark, rollup_uri)
        maintain_rollup(
            table, rollup, group_cols, measures, count_col=count_col,
        )
        if compact_every > 0 and batch_id % compact_every == compact_every - 1:
            table.optimize()
            if rollup.exists():
                rollup.optimize()

    return sink


def cdc_replicating_sink(
    target_uri: str,
    key_cols: Sequence[str],
    *,
    max_inlist: int = 10_000,
    partition_columns: Optional[Sequence[str]] = None,
    compact_every: int = 0,
) -> Callable[[DataFrame, int], None]:
    """Apply a row-level CDC stream (the ``dds_table`` source with
    ``readChangeFeed=true``) to a REPLICA table — the canonical CDF
    consumer: the replica converges to the source's live contents
    without ever rescanning it.

    Each micro-batch reduces to the LATEST change per key
    (``_commit_version`` order; within a DV UPDATE's commit the
    postimage wins over its preimage), then applies deletes as a
    merge-on-read DELETE (IN-list up to ``max_inlist`` keys; one
    distributed anti-join rewrite past that — the key set never blows
    up the driver) and upserts via MERGE.  The apply is IDEMPOTENT by
    construction — re-deleting masked rows is a no-op and re-upserting
    the same values is a fixed point — so a replayed batch after a
    crash (even a partially applied one) converges with no txn ledger
    needed; Structured Streaming's in-order batches do the rest.

    ``key_cols`` is the source's primary key (unique per live row).
    Cost per batch is O(changes) + touched replica files."""
    keys = list(key_cols)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        target = DeltaSparkTable(spark, target_uri)
        pri = F.when(
            F.col("_change_type").isin("insert", "update_postimage"),
            F.lit(1)).otherwise(F.lit(0))
        latest = (
            batch_df.withColumn("_pri", pri)
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy(*keys).orderBy(
                        F.col("_commit_version").desc(),
                        F.col("_pri").desc())))
            .where(F.col("_rn") == 1)
            .drop("_rn", "_pri", "_commit_version")
            # pin the reduced batch: the apply reads it several times
            # (emptiness probe, delete keys, merge source) and the CDC
            # decode behind it is a multi-file positions join worth
            # paying exactly once; size is the BATCH's net changes,
            # never the table
            .localCheckpoint(eager=True)
        )
        if not latest.take(1):
            return
        dels = latest.where(
            F.col("_change_type").isin("delete", "update_preimage"))
        ups = latest.where(
            F.col("_change_type").isin("insert", "update_postimage")
        ).drop("_change_type")
        if not target.exists():
            target.write(ups, WriteMode.error,
                         partition_columns=partition_columns)
            return
        _conform_replica_schema(target, ups)
        key_rows = dels.select(*keys).distinct().limit(
            max_inlist + 1).collect()
        if key_rows:
            if len(key_rows) > max_inlist:
                survivors = target.read().join(
                    dels.select(*keys).distinct(), keys, "left_anti")
                target.write(survivors, WriteMode.overwrite)
            elif len(keys) == 1:
                # single-key fast path: IN lowers to an InSet, where an
                # OR-chain would cost Catalyst quadratic analysis and a
                # per-row interpreted walk in the delete's hit scan.
                # IN(NULL) never matches — null keys get their own term
                vals = [_sql_literal(r[keys[0]]) for r in key_rows
                        if r[keys[0]] is not None]
                terms = []
                if vals:
                    terms.append(f"{keys[0]} IN ({','.join(vals)})")
                if len(vals) < len(key_rows):
                    terms.append(f"{keys[0]} IS NULL")
                target.delete(" OR ".join(terms), use_dv=True)
            else:
                # null-safe equality so NULL key components match
                pred = " OR ".join(
                    "(" + " AND ".join(
                        f"{k} <=> {_sql_literal(r[k])}" for k in keys) + ")"
                    for r in key_rows)
                target.delete(pred, use_dv=True)
        if ups.take(1):
            target.merge(
                ups,
                MergeConfig(
                    MergeType.upsert,
                    predicate=" AND ".join(
                        f"s.{k} <=> t.{k}" for k in keys)))
        if compact_every > 0 and batch_id % compact_every == compact_every - 1:
            # compact the per-batch merge/append fragments AND the DV
            # masks the deletes accumulate (optimize folds both)
            target.optimize()

    return sink


def _conform_replica_schema(target: DeltaSparkTable, ups: DataFrame) -> None:
    """Mid-feed SOURCE SCHEMA EVOLUTION, resolved at apply time instead
    of surfacing as a MERGE schema mismatch: columns the feed carries
    that the replica lacks (the source ran ``add_columns``; the feed
    picks them up on stream restart) widen the replica with the same
    metadata-only commit; a type conflict, or a replica column the feed
    no longer carries (the source dropped it), refuses with a pointed
    error — silently null-filling or narrowing a replica would corrupt
    every downstream consumer."""
    from pyspark.sql.types import StructType

    # the snapshot's logical schema, straight from the log — no scan
    # plan built per batch
    tgt = {
        f.name: f.dataType
        for f in StructType.fromJson(
            json.loads(target.snapshot().schema_json)).fields
    }
    src = {f.name: f.dataType for f in ups.schema.fields}
    conflicts = sorted(
        n for n in src.keys() & tgt.keys() if src[n] != tgt[n])
    if conflicts:
        detail = ", ".join(
            f"{n}: feed={src[n].simpleString()} "
            f"replica={tgt[n].simpleString()}" for n in conflicts)
        raise ValueError(
            f"CDC replication: feed/replica column type conflict "
            f"({detail}) — the source's schema diverged incompatibly; "
            "recreate the replica from a fresh snapshot")
    gone = sorted(tgt.keys() - src.keys())
    if gone:
        raise ValueError(
            f"CDC replication: replica column(s) {gone} are no longer "
            "in the feed (dropped on the source?) — drop them on the "
            "replica or recreate it from a fresh snapshot")
    new = {f.name: f.dataType.simpleString()
           for f in ups.schema.fields if f.name not in tgt}
    if new:
        # the source's ADD COLUMNS replays as the same metadata-only
        # commit; pre-evolution replica files read the columns as NULL,
        # exactly like the source's own pre-evolution files
        target.add_columns(new)


def auto_ingest_once(
    spark,
    landing_dir: str,
    table_uri: str,
    checkpoint_dir: str,
    app_id: str,
    *,
    schema=None,
    max_files_per_trigger: Optional[int] = None,
    partition_columns: Optional[Sequence[str]] = None,
    timeout_s: int = 180,
) -> dict:
    """One incremental landing-zone ingest run — the Auto Loader
    shape: Spark's file streaming source discovers landing files and
    tracks the processed set in ``checkpoint_dir``'s file-source log,
    so a RE-RUN with the same checkpoint reads only files that arrived
    since the last run; the exactly-once table sink (txn ledger)
    dedupes any post-crash micro-batch replay.  Together: each landing
    file's rows land exactly once across any number of restarts.

    ``schema`` defaults to a one-off batch inference over the landing
    dir (pass it explicitly on wide directories — inference lists and
    opens footers).  ``trigger(availableNow)`` drains the backlog in
    bounded batches and stops; call again on the next schedule tick.

    Scale shape: discovery is the file source's incremental listing
    (O(new files) against its compacted log), the data plane is one
    distributed parquet append per micro-batch, and the ledger adds
    one integer per app id — the copy_into trade-offs, with Spark
    owning discovery instead of the table ledger owning per-file
    identity (use copy_into when per-file audit/FORCE semantics
    matter; use this for continuous pipelines)."""
    if schema is None:
        schema = spark.read.parquet(landing_dir).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option(
            "maxFilesPerTrigger", str(max_files_per_trigger))
    before = DeltaSparkTable(spark, table_uri)
    rows_before = before.read().count() if before.exists() else 0
    q = (
        reader.parquet(landing_dir)
        .writeStream
        .foreachBatch(exactly_once_table_sink(
            table_uri, app_id, partition_columns=partition_columns))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(timeout_s)
    if not finished:
        # timed out with the drain still running: stop the query so it
        # doesn't leak past the return, then fail pointedly — counting
        # rows under a live stream would under-report rows_ingested
        # and a silent partial answer is worse than an error (the
        # checkpoint + txn ledger make the re-run safe)
        try:
            q.stop()
        except Exception:
            # the query may already be dead (raced termination, py4j
            # hiccup) — the pointed TimeoutError below must win
            pass
        raise TimeoutError(
            f"auto_ingest_once: availableNow drain did not finish "
            f"within timeout_s={timeout_s}; the streaming query was "
            f"stopped. Re-run with a larger timeout — the file-source "
            f"checkpoint and exactly-once sink make the retry resume "
            f"where this run left off."
        )
    t = DeltaSparkTable(spark, table_uri)
    rows_after = t.read().count() if t.exists() else 0
    return {
        "rows_ingested": rows_after - rows_before,
        "version": t.version() if t.exists() else -1,
    }
