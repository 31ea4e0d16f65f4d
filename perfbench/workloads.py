"""The benchmark's workloads, driven through the library's public API.

asset_chain: the reference's purpose (a partitioned Dagster asset
chain over transactional tables).  Upstream ``events`` is partitioned
daily on ``day``; one chain is a partition-overwrite ``handle_output``
of one day, a ``load_input`` of that day projected to four columns
with an aggregate collected to the driver, and a merge-mode
``handle_output`` of that aggregate into the downstream ``rollup``.
Bound by metadata and Spark job overhead.

corpus_ops: the operators layer with the table layer idle.  One pass
runs six operators into the noop sink over a fresh seeded 90% shard of
the documents/embeddings corpus, so every session-cache lookup misses
(cache-hit share 0 by design, as for a new shard in production).
"""

from __future__ import annotations

import importlib
import importlib.util
import math
import os
import shutil
from datetime import datetime, timedelta
from pathlib import Path
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen

ROOT = Path(__file__).resolve().parent.parent


def _noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def tree_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def parquet_bytes(table: pa.Table, path: Path) -> int:
    """Size of ``table`` written as one parquet file at ``path``."""
    pq.write_table(table, path)
    size = path.stat().st_size
    path.unlink()
    return size


class AssetChain:
    name = "asset_chain"
    note = "rollup merges update matched rows"
    # untimed chains before timing let JIT and the snapshot cache
    # settle; set-up already made every rollup merge a matched update
    warm_passes = 3
    passes_per_second = 1.0
    # C1 only: with C2, chains kept getting faster for ~40 chains as the
    # planner code compiled, so a short timed window caught a moving
    # target; C1-only chains were flat after the warm-up at about the
    # same speed (1.08 vs 1.12 s median over 40 chains, 4 vCPUs)
    jvm_options = "-XX:TieredStopAtLevel=1"
    _PREDICATE = "s.day = t.day AND s.event_type = t.event_type"

    def __init__(self, spark, work: Path, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.rng = np.random.default_rng([seed, 1])
        self.days = datagen.event_days()
        self.order = self.rng.permutation(len(self.days))
        self.chains = 0
        self.read_errors: list[str] = []

    # -- contexts ----------------------------------------------------------------

    def _window(self, first: int, last: int):
        from dagster_delta_spark import TablePartitionDimension, TimeWindow

        start = datetime.combine(self.days[first], datetime.min.time())
        end = datetime.combine(self.days[last], datetime.min.time()) + timedelta(days=1)
        return [TablePartitionDimension("day", TimeWindow(start, end))]

    def _ctx(self, asset: str, first: int, last: int, columns=None):
        from dagster_delta_spark.io_manager import AssetContext

        return AssetContext(asset_key=[asset],
                            partition_dimensions=self._window(first, last),
                            columns=columns)

    # -- set-up ------------------------------------------------------------------

    def setup(self, root: Path) -> None:
        """Materialize ``events`` (30 daily partitions) and create
        ``rollup`` holding every (day, event_type) key."""
        from dagster_delta_spark.config import MergeConfig, MergeType, WriteMode
        from dagster_delta_spark.io_manager import DeltaSparkIOManager

        source = datagen.events(np.random.default_rng([self.seed, 0]))
        self.root = root
        self.mgr = DeltaSparkIOManager(self.spark, str(root))
        self.rollup_mgr = DeltaSparkIOManager(
            self.spark, str(root), mode=WriteMode.merge,
            merge_config=MergeConfig(MergeType.upsert, predicate=self._PREDICATE))
        last = len(self.days) - 1
        self.mgr.handle_output(self._ctx("events", 0, last), source)
        self.rollup_mgr.handle_output(
            self._ctx("rollup", 0, last), self._aggregate(0, last))
        day_col = source.column("day")
        self.state = {
            i: source.filter(pc.equal(day_col, pa.scalar(d, pa.date32())))
            for i, d in enumerate(self.days)
        }

    def warm_up(self, runner) -> None:
        for _ in range(self.warm_passes):
            runner.run_pass(self, "warmup")

    # -- one chain ---------------------------------------------------------------

    def _aggregate(self, first: int, last: int) -> pa.Table:
        from pyspark.sql import functions as F

        df = self.mgr.load_input(self._ctx(
            "events", first, last, columns=["day", "event_type", "user_id", "value"]))
        return (df.groupBy("day", "event_type")
                .agg(F.count(F.lit(1)).alias("events"),
                     F.countDistinct("user_id").alias("users"),
                     F.sum("value").alias("value_sum"))
                .toArrow())

    def run_pass(self, runner) -> None:
        day = int(self.order[self.chains % len(self.order)])
        self.chains += 1
        prev = self.state[day]
        delta = self.rng.integers(-100, 101, prev.num_rows) / 100.0
        value = np.round(prev.column("value").to_numpy() + delta, 2)
        new = prev.set_column(prev.schema.get_field_index("value"), "value",
                              pa.array(value))
        if runner.op("write", lambda: self.mgr.handle_output(
                self._ctx("events", day, day), new)) is not None:
            self.state[day] = new
        agg = runner.op("read", lambda: self._aggregate(day, day))
        if agg is None:
            return
        self._check_read(day, agg)
        runner.op("merge", lambda: self.rollup_mgr.handle_output(
            self._ctx("rollup", day, day), agg))

    # -- output checks -------------------------------------------------------------

    def _check_read(self, day: int, agg: pa.Table) -> None:
        want = _rollup_rows(self.state[day])
        got = _rows(agg)
        if not _same_rollup(got, want):
            self.read_errors.append(
                f"asset_chain: read of {self.days[day]} aggregated {got[:2]}..., "
                f"expected {want[:2]}...")

    def check(self, runner) -> list[str]:
        """Every read's aggregate matched the day's expected rows; the
        final rollup equals a DuckDB recomputation of the perturbed
        source."""
        import duckdb

        from dagster_delta_spark.io_manager import AssetContext

        events = pa.concat_tables(self.state.values())
        want = [tuple(r) for r in duckdb.sql(
            "SELECT day, event_type, count(*), count(DISTINCT user_id), sum(value) "
            "FROM events GROUP BY ALL ORDER BY ALL").fetchall()]
        got = _rows(self.mgr.load_input(AssetContext(asset_key=["rollup"])).toArrow())
        errors = list(self.read_errors)
        if not _same_rollup(got, want):
            errors.append(f"asset_chain: final rollup differs from the recomputation "
                          f"({len(got)} vs {len(want)} rows)")
        return errors

    def extra(self) -> dict:
        """Storage per byte of user data, and live files in the
        workload's tables, at the end of the run."""
        from dagster_delta_spark.io_manager import AssetContext

        events = pa.concat_tables(self.state.values())
        source = (parquet_bytes(events, self.work / "events.parquet")
                  + parquet_bytes(_rollup_table(events), self.work / "rollup.parquet"))
        live = sum(len(self.mgr.table_for(AssetContext(asset_key=[t])).snapshot().files)
                   for t in ("events", "rollup"))
        return {"storage_amplification": tree_bytes(self.root) / source,
                "snapshot_files": live}


def _rollup_table(events: pa.Table) -> pa.Table:
    agg = (events.group_by(["day", "event_type"])
           .aggregate([("event_id", "count"), ("user_id", "count_distinct"),
                       ("value", "sum")]))
    return agg.select(["day", "event_type", "event_id_count",
                       "user_id_count_distinct", "value_sum"])


def _rollup_rows(events: pa.Table) -> list[tuple]:
    return sorted(tuple(r.values()) for r in _rollup_table(events).to_pylist())


def _rows(agg: pa.Table) -> list[tuple]:
    cols = ["day", "event_type", "events", "users", "value_sum"]
    return sorted(tuple(r[c] for c in cols) for r in agg.to_pylist())


def _same_rollup(got: list[tuple], want: list[tuple]) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if g[:4] != tuple(w[:4]) or not math.isclose(g[4], w[4], rel_tol=1e-9, abs_tol=1e-6):
            return False
    return True


def _load_oracle_gate():
    """``canon`` and the ulp-tolerant row comparison of the repo's
    oracle gate, tools/check_oracles.py."""
    spec = importlib.util.spec_from_file_location(
        "check_oracles", ROOT / "tools" / "check_oracles.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon, mod._rows_close


#: the corpus_ops pass, in order: (operator, module under operators/)
OPERATORS = (
    ("dedup_exact", "dedup"),
    ("minhash_lsh_near_dups", "dedup"),
    ("text_quality", "textops"),
    ("bm25_search", "textops"),
    ("tfidf_top_terms", "textops"),
    ("cosine_topk", "similarity"),
)


class CorpusOps:
    name = "corpus_ops"
    note = "session-cache hit share 0 by design: each pass reads a fresh shard"
    # the check shard is smaller than a timed one: the portable-hash
    # MinHash and its DuckDB oracle cost seconds even on a small shard
    # (the oracle took 14 s on a 90% shard of an sf0.1-sized corpus)
    check_share = 0.15
    passes_per_second = 1 / 8
    jvm_options = ""

    def __init__(self, spark, work: Path, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.operators: list[tuple[str, Callable]] = [
            (name, getattr(importlib.import_module(
                f"dagster_delta_spark.operators.{module}"), name))
            for name, module in OPERATORS
        ]
        self.shards = 0

    def setup(self, root: Path) -> None:
        """Generate the corpus and write the shard the output check
        runs on."""
        self.root = root
        self.documents = datagen.documents(np.random.default_rng([self.seed, 2]))
        self.embeddings = datagen.embeddings(np.random.default_rng([self.seed, 3]))
        self.shards = 0
        self.check_dir = self._next_shard(self.check_share)

    def _next_shard(self, share: float = 0.9) -> Path:
        """A fresh directory holding a new seeded shard of the corpus."""
        rng = np.random.default_rng([self.seed, 4, self.shards])
        d = self.root / f"shard{self.shards}"
        self.shards += 1
        d.mkdir(parents=True)
        pq.write_table(datagen.shard(self.documents, rng, share), d / "documents.parquet")
        pq.write_table(datagen.shard(self.embeddings, rng, share), d / "embeddings.parquet")
        return d

    def warm_up(self, runner) -> None:
        """One untimed pass pays the JVM's and the Python workers'
        first-use costs.  The DuckDB oracles for the output check run
        meanwhile in a second thread: the cold pass leaves cores idle."""
        from concurrent.futures import ThreadPoolExecutor

        import __spark_entry__ as entry

        sql = entry.oracle_sql()
        with ThreadPoolExecutor(1) as pool:
            oracle = pool.submit(self._oracle_rows, {n: sql[n] for n, _ in OPERATORS})
            runner.run_pass(self, "warmup")
            self.oracle_rows = oracle.result()

    def check(self, runner) -> list[str]:
        """Run each operator once more on the check shard, collecting its
        rows, and compare them with the DuckDB oracle of the repo's
        query registry.  MinHash runs under the portable hash family
        the oracle recomputes."""
        errors = []
        canon, rows_close = _load_oracle_gate()
        for name, fn in self.operators:
            kwargs = {"portable_hash": True} if name == "minhash_lsh_near_dups" else {}

            def collect(fn=fn, kwargs=kwargs):
                df = fn(self.spark, str(self.check_dir), **kwargs)
                return df.columns, [tuple(r) for r in df.collect()]

            got = runner.op(name, collect)
            if got is None:
                errors.append(f"corpus_ops: {name} failed on the check shard")
                continue
            (scols, srows), (dcols, drows) = got, self.oracle_rows[name]
            if sorted(scols) != sorted(dcols):
                errors.append(f"corpus_ops: {name} columns {scols} != {dcols}")
                continue
            s_idx = sorted(range(len(scols)), key=lambda i: scols[i])
            d_idx = sorted(range(len(dcols)), key=lambda i: dcols[i])
            s_c = canon([tuple(r[i] for i in s_idx) for r in srows])
            d_c = canon([tuple(r[i] for i in d_idx) for r in drows])
            if len(s_c) != len(d_c) or (s_c != d_c and not rows_close(s_c, d_c)):
                errors.append(
                    f"corpus_ops: {name} differs from its oracle "
                    f"({len(s_c)} vs {len(d_c)} rows)")
        return errors

    def _oracle_rows(self, sql: dict[str, str]) -> dict[str, tuple]:
        import duckdb

        con = duckdb.connect(config={"threads": 2})
        try:
            for t in ("documents", "embeddings"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.check_dir / f'{t}.parquet'}'")
            out = {}
            for name, q in sql.items():
                res = con.sql(q)
                out[name] = (res.columns, [tuple(r) for r in res.fetchall()])
            return out
        finally:
            con.close()

    def run_pass(self, runner) -> None:
        shard = str(self._next_shard())
        for name, fn in self.operators:
            runner.op(name, lambda fn=fn: _noop(fn(self.spark, shard)))

    def extra(self) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (AssetChain, CorpusOps)}


def discard(path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)
    if os.path.exists(path):
        raise RuntimeError(f"could not remove {path}")
