"""Benchmark of dagster_delta_spark through its public API.

    python3 perfbench/run.py --workload asset_chain --seed 1 --seconds 16 --trace 0

Run from anywhere; the library is imported from the directory above
this one.  Workloads are described in workloads.py.  Each run:

1. starts a pinned SparkSession on local[nproc];
2. sets the workload up three times from seeded inputs (``setup_s``
   is the median) and keeps the last set-up;
3. warms up untimed, then times a fixed number of passes derived from
   ``--seconds``, recording each op's Spark job count;
4. checks outputs and fails the run if any timed op's job count
   differs from its op type's mode;
5. prints a report, then as the last stdout line one JSON object.

``--trace 0`` reports end-to-end metrics.  ``--trace 1`` turns on an
uncompressed Spark event log, follows each timed pass with a traced
one that runs with layer wrappers installed (spans.py), and reports
per-layer metrics of the traced passes plus the wrappers' overhead.  Full results, host
diagnostics and spans are written under .perfbench_work/results/.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time
import traceback
from collections import Counter, defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPEATS = 3
DRIVER_MEMORY = "2g"
YOUNG_GEN = "512m"
PROBES_PER_RUN = 10


def tail(samples: list[float]):
    """(percentile, value) of the highest percentile with at least ten
    samples above it, or None when even p75 has fewer (n < 40): a p50
    would only repeat the median."""
    xs = sorted(samples)
    for p in (99.9, 99, 95, 90, 75):
        k = max(0, -(-len(xs) * p // 100) - 1)  # nearest-rank index
        if len(xs) - 1 - int(k) >= 10:
            return p, xs[int(k)]
    return None


class Runner:
    """Runs ops under their own Spark job group and records wall time,
    process-tree CPU and Spark job count of each."""

    def __init__(self, spark, nproc: int) -> None:
        import host

        self._host = host
        self.spark = spark
        self.nproc = nproc
        self.sc = spark.sparkContext
        self.bus = self.sc._jsc.sc().listenerBus()
        self.recorder = None
        self.phase = "warmup"
        self.pass_no = 0
        self.records: list[dict] = []
        self.probe_ms: list[float] = []

    def op(self, op_type: str, fn):
        op_id = f"{self.phase}:{len(self.records)}:{op_type}"
        self.sc.setJobGroup(op_id, op_type)
        if self.recorder is not None:
            self.recorder.op_id = op_id
        cpu0 = self._host.tree_cpu_s()
        wall0 = time.time()
        t0 = time.perf_counter()
        try:
            result, ok = fn(), True
        except Exception:  # a failed op is counted, reported and skipped
            traceback.print_exc(file=sys.stderr)
            result, ok = None, False
        t1 = time.perf_counter()
        wall1 = time.time()
        cpu1 = self._host.tree_cpu_s()
        # later jobs (checks, the next op's set-up) must not join this group
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.bus.waitUntilEmpty()
        jobs = len(self.sc.statusTracker().getJobIdsForGroup(op_id))
        self.records.append({
            "id": op_id, "type": op_type, "phase": self.phase, "pass": self.pass_no,
            "ms": (t1 - t0) * 1e3, "cpu_s": cpu1 - cpu0, "jobs": jobs, "ok": ok,
            "wall": (wall0 * 1e3, wall1 * 1e3),
        })
        return result

    def run_pass(self, workload, phase: str) -> None:
        self.phase = phase
        workload.run_pass(self)
        self.pass_no += 1

    def probe(self, repeats: int = 1) -> None:
        """Time a fixed Spark job that does not touch the library,
        ``repeats`` times, and keep the median: a pass's time over the
        probe's, taken right after it, cancels most of the shared host's
        swings (steal, co-tenant load)."""
        runs = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            (self.spark.range(0, 20_000, 1, self.nproc).selectExpr("id % 10 AS k")
             .groupBy("k").count().collect())
            runs.append((time.perf_counter() - t0) * 1e3)
        self.probe_ms.append(statistics.median(runs))

    def timed(self, workload, passes: int, recorder=None) -> None:
        """``passes`` timed passes, each followed by a probe (at least
        ten probe jobs per run); with a recorder, each is also followed
        by a traced pass, so both sets span the same stretch of the run."""
        from spans import install_layers

        repeats = -(-PROBES_PER_RUN // passes)
        for _ in range(passes):
            self.run_pass(workload, "timed")
            self.probe(repeats)
            if recorder is None:
                continue
            self.recorder = recorder
            install_layers(recorder)
            try:
                self.run_pass(workload, "traced")
            finally:
                recorder.uninstall()
                self.recorder = None

    def phase_ops(self, phase: str) -> list[dict]:
        return [r for r in self.records if r["phase"] == phase]


def build_session(work: Path, trace: bool, nproc: int, jvm_options: str):
    from pyspark.sql import SparkSession

    b = (SparkSession.builder.master(f"local[{nproc}]").appName("perfbench")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.shuffle.partitions", str(nproc))
         .config("spark.driver.memory", DRIVER_MEMORY)
         .config("spark.local.dir", str(work / "spark-local"))
         .config("spark.sql.warehouse.dir", str(work / "warehouse"))
         # a fixed heap and young generation, so peak RSS does not follow
         # the collector's timing-driven resizing; the JVM's temp files
         # stay in the work directory (without -XX:-UsePerfData it also
         # writes /tmp/hsperfdata_<user>)
         .config("spark.driver.extraJavaOptions",
                 f"-Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN} -Djava.io.tmpdir={work / 'tmp'} "
                 f"-XX:-UsePerfData {jvm_options}")
         .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"]))
    if trace:
        (work / "eventlog").mkdir()
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", str(work / "eventlog"))
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit (it exits
    when its stdin pipe closes), also when stopping fails."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def passes_by_number(ops: list[dict]) -> dict[int, list[dict]]:
    out: dict[int, list[dict]] = defaultdict(list)
    for r in ops:
        out[r["pass"]].append(r)
    return out


def job_count_errors(ops: list[dict]) -> list[str]:
    """Steady-state guard: every timed op does its type's usual work."""
    errors = []
    by_type: dict[str, list[int]] = defaultdict(list)
    for r in ops:
        by_type[r["type"]].append(r["jobs"])
    for t, counts in by_type.items():
        mode = Counter(counts).most_common(1)[0][0]
        odd = [c for c in counts if c != mode]
        if odd:
            errors.append(f"{t}: Spark job counts {sorted(set(odd))} differ from mode {mode}")
    return errors


def end_to_end(ops: list[dict], probe_ms: list[float]) -> dict:
    passes = passes_by_number(ops)
    pass_ms = [sum(r["ms"] for r in p) for p in passes.values()]
    out = {
        "pass_p50_ms": (statistics.median(pass_ms), "ms"),
        "pass_p50_rel": (statistics.median(p / q for p, q in zip(pass_ms, probe_ms)), "ratio"),
        "probe_p50_ms": (statistics.median(probe_ms), "ms"),
        "ops_per_s": (len(ops) / (sum(r["ms"] for r in ops) / 1e3), "1/s"),
        "cpu_ms_per_op": (sum(r["cpu_s"] for r in ops) * 1e3 / len(ops), "ms"),
        "failed_op_ratio": (sum(not r["ok"] for r in ops) / len(ops), "ratio"),
    }
    tails = {"pass": (pass_ms, len(pass_ms))}
    for t in ("write", "read", "merge"):
        xs = [r["ms"] for r in ops if r["type"] == t]
        if xs:
            out[f"{t}_p50_ms"] = (statistics.median(xs), "ms")
            tails[t] = (xs, len(xs))
    for t, (xs, n) in tails.items():
        tl = tail(xs)
        out[f"{t}_tail_ms"] = ((tl[1], "ms", f"p{tl[0]:g}", n) if tl
                               else (None, "ms", f"omitted: {n} samples, p75 needs 40", n))
    return out


def per_layer(ops: list[dict], rec, log: dict) -> dict:
    """Layer metrics of the traced passes.  Wrappers are installed only
    for those passes, so every span belongs to one of ``ops``."""
    import sparklog
    from spans import self_ns

    spans = rec.spans
    selfs = self_ns(spans)
    passes = passes_by_number(ops)
    op_pass = {r["id"]: r["pass"] for r in ops}
    n_ops = len(ops)

    def per_pass_ms(name: str, use_self: bool = False) -> float:
        tot: dict[int, int] = {p: 0 for p in passes}
        for s, own in zip(spans, selfs):
            if s["name"] == name:
                tot[op_pass[s["op"]]] += own if use_self else s["end"] - s["start"]
        return statistics.median(tot.values()) / 1e6

    def calls(name: str) -> list[dict]:
        return [s for s in spans if s["name"] == name]

    m: dict[str, tuple] = {
        "io_manager.handle_output.self_ms": (per_pass_ms("io_manager.handle_output", True), "ms"),
        "io_manager.load_input.ms": (per_pass_ms("io_manager.load_input"), "ms"),
        "plans.dnf.ms": (per_pass_ms("plans.dnf"), "ms"),
    }
    for t in ("write", "merge", "read", "pruned_files", "partition_stats"):
        m[f"table.{t}.ms"] = (per_pass_ms(f"table.{t}"), "ms")
    writes, merges = len(calls("table.write")), len(calls("table.merge"))
    m["table.merge.files_rewritten"] = (
        rec.counts["table.merge.files_rewritten"] / merges if merges else 0, "count")
    m["table.write.files_added"] = (
        rec.counts["table.write.files_added"] / writes if writes else 0, "count")
    cand = rec.counts["table.pruned_files.candidates"]
    m["table.pruned_files.kept_ratio"] = (
        rec.counts["table.pruned_files.kept"] / cand if cand else 0, "ratio")
    for t in ("load_snapshot", "commit"):
        m[f"tablelog.{t}.ms"] = (per_pass_ms(f"tablelog.{t}"), "ms")
    for t in ("load_snapshot", "read_version_actions", "latest_version"):
        m[f"tablelog.{t}.calls_per_op"] = (len(calls(f"tablelog.{t}")) / n_ops, "count")
    commits = calls("tablelog.commit")
    ok = sum(s["ok"] for s in commits)
    m["tablelog.commit.calls_per_commit"] = (len(commits) / ok if ok else 0, "count")
    ckpt = calls("tablelog.write_checkpoint")
    m["tablelog.write_checkpoint.ms"] = (
        statistics.fmean(s["end"] - s["start"] for s in ckpt) / 1e6 if ckpt else 0, "ms")
    m["tablelog.checkpoints"] = (len(ckpt), "count")

    # Spark work per op type, folded from the event log; for
    # "pass" the unit is one whole pass (a chain, or six operators)
    zero = {f: 0 for f in sparklog.FIELDS}
    groups: dict[str, list[list[dict]]] = defaultdict(list)
    for r in ops:
        groups[r["type"]].append([r])
    groups["pass"] = list(passes.values())
    for t in ("write", "read", "merge", "pass"):
        vals: dict[str, list[float]] = defaultdict(list)
        for unit in groups.get(t, []):
            acc = dict(zero)
            driver_only = 0.0
            for r in unit:
                g = log.get(r["id"], {"job_spans": [], **zero})
                for f in sparklog.FIELDS:
                    acc[f] += g[f]
                lo, hi = r["wall"]
                driver_only += (hi - lo) - sparklog.union_ms(g["job_spans"], lo, hi)
            for f in sparklog.FIELDS:
                vals[f].append(acc[f])
            vals["driver_only_ms"].append(driver_only)
        # compressed shuffle bytes vary by a few bytes between identical
        # runs (row order within a block); records repeat exactly
        for f in ("jobs", "stages", "tasks", "exchanges", "shuffle_write_records",
                  "shuffle_write_bytes"):
            unit_name = "bytes" if f == "shuffle_write_bytes" else "count"
            m[f"spark.{t}.{f}_per_op"] = (statistics.fmean(vals[f]) if vals[f] else 0, unit_name)
        for f in ("executor_run_ms", "gc_ms", "driver_only_ms"):
            m[f"spark.{t}.{f}_per_op"] = (statistics.median(vals[f]) if vals[f] else 0, "ms")
    return m


def operator_metrics(ops: list[dict], log: dict, names) -> dict:
    m = {}
    for name in names:
        rs = [r for r in ops if r["type"] == name]
        m[f"operators.{name}.ms"] = (statistics.median(r["ms"] for r in rs) if rs else 0, "ms")
        m[f"operators.{name}.jobs"] = (
            statistics.fmean(log.get(r["id"], {}).get("jobs", 0) for r in rs) if rs else 0,
            "count")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # SIGTERM unwinds like an exception, so the JVM is stopped and the
    # work directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "dagster_delta_spark" / "__init__.py").is_file():
        print(f"error: no dagster_delta_spark package in {ROOT}", file=sys.stderr)
        return 2
    from workloads import OPERATORS, WORKLOADS, discard

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    import host

    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    base = ROOT / ".perfbench_work"
    work = base / f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    results_dir = base / "results"
    results_dir.mkdir(parents=True, exist_ok=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    nproc = len(os.sched_getaffinity(0))
    diag = {"start": host.diagnostics()}
    trace = bool(args.trace)
    try:
        workload = WORKLOADS[args.workload]
        spark = build_session(work, trace, nproc, workload.jvm_options)
        try:
            wl = workload(spark, work, args.seed)
            setup_s = []
            for k in range(SETUP_REPEATS):
                if k:
                    discard(work / f"setup{k - 1}")
                t0 = time.perf_counter()
                wl.setup(work / f"setup{k}")
                setup_s.append(time.perf_counter() - t0)
            phases = {"setup": sum(setup_s)}
            runner = Runner(spark, nproc)
            t0 = time.perf_counter()
            runner.phase = "warmup"
            wl.warm_up(runner)
            runner.probe()  # the probe's own first run is cold
            runner.probe_ms.clear()
            phases["warm_up"] = time.perf_counter() - t0
            passes = max(2, round(args.seconds * wl.passes_per_second))
            rec = None
            if trace:
                from spans import Recorder

                rec = Recorder()
            t0 = time.perf_counter()
            runner.timed(wl, passes, rec)
            phases["timed"] = time.perf_counter() - t0
            timed, traced = runner.phase_ops("timed"), runner.phase_ops("traced")
            t0 = time.perf_counter()
            runner.phase = "check"
            errors = wl.check(runner)
            errors += job_count_errors(timed + traced)
            extra = wl.extra()
            jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
            peak_rss = host.vm_hwm_mb(jvm_pid) + host.vm_hwm_mb(os.getpid())
            phases["check"] = time.perf_counter() - t0
        finally:
            stop_session(spark)
        e2e = end_to_end(timed, runner.probe_ms)
        e2e["setup_s"] = (statistics.median(setup_s), "s")
        e2e["peak_rss_mb"] = (peak_rss, "MB")
        if "storage_amplification" in extra:
            e2e["storage_amplification"] = (extra["storage_amplification"], "ratio")
        layers, log = {}, {}
        if trace:
            import sparklog

            log = sparklog.fold(str(work / "eventlog"))
            layers = per_layer(traced, rec, log)
            layers["table.snapshot_files"] = (extra.get("snapshot_files", 0), "count")
            layers.update(operator_metrics(traced, log, [n for n, _ in OPERATORS]))
            traced_pass = statistics.median(
                sum(r["ms"] for r in p) for p in passes_by_number(traced).values())
            layers["trace.overhead_ms_per_pass"] = (traced_pass - e2e["pass_p50_ms"][0], "ms")
            with open(results_dir / f"{work.name}-spans.json", "w") as f:
                json.dump(rec.spans, f)
        diag["end"] = host.diagnostics()
        all_ops = timed + traced
        result = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "passes": passes, "setup_s_all": setup_s, "phases_s": phases, "errors": errors,
            "end_to_end": e2e, "per_layer": layers, "host": diag,
            "ops": runner.records, "spark_by_op": log,
        }
        with open(results_dir / f"{work.name}.json", "w") as f:
            json.dump(result, f, indent=1, default=str)
    finally:
        discard(work)

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    for name, v in sorted(e2e.items()):
        note = f"  ({v[2]}, n={v[3]})" if len(v) > 2 else ""
        shown = "-" if v[0] is None else f"{v[0]:.4f}"
        print(f"{args.workload} {name} = {shown} {v[1]}{note}")
    for name, v in sorted(layers.items()):
        print(f"{args.workload} {name} = {v[0]:.4f} {v[1]}")
    print(f"{args.workload} host start={diag['start']} end={diag['end']}")
    print(f"{args.workload} passes={passes} ops={len(timed)} {wl.note}")
    for e in errors:
        print(f"{args.workload} CHECK FAILED: {e}")
    source = layers if trace else e2e
    metrics = {m["name"]: {"value": source[m["name"]][0], "unit": m["unit"]} for m in wanted}
    failed = sum(not r["ok"] for r in all_ops)
    print(json.dumps({"correct": not errors and not failed, "attempted": len(all_ops),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
