"""Fold an uncompressed Spark event log into per-job-group counts.

The benchmark tags every op with ``SparkContext.setJobGroup(op_id)``;
each job's start event carries that group, so jobs, stages, tasks,
task metrics and the SQL plans they executed can all be charged to
the op that caused them.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_EXCHANGES = ("Exchange", "BroadcastExchange")

FIELDS = ("jobs", "stages", "tasks", "executor_run_ms", "gc_ms",
          "shuffle_write_records", "shuffle_write_bytes", "exchanges")


def _count_exchanges(plan: dict) -> int:
    n = 0
    stack = [plan]
    while stack:
        node = stack.pop()
        if node.get("nodeName") in _EXCHANGES:
            n += 1
        stack.extend(node.get("children", []))
    return n


def fold(log_dir: str) -> dict[str, dict]:
    """Per job group: the ``FIELDS`` counts plus ``job_spans``, the
    (submit, complete) epoch-ms interval of each of its jobs."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {paths}")
    job_group: dict[int, str] = {}
    job_exec: dict[int, int] = {}
    job_submit: dict[int, int] = {}
    stage_group: dict[int, str] = {}
    plans: dict[int, dict] = {}
    out: dict[str, dict] = defaultdict(lambda: {**{f: 0 for f in FIELDS}, "job_spans": []})
    with open(paths[0], encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                if group is None:
                    continue
                jid = ev["Job ID"]
                job_group[jid] = group
                job_submit[jid] = ev["Submission Time"]
                if "spark.sql.execution.id" in props:
                    job_exec[jid] = int(props["spark.sql.execution.id"])
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = group
                out[group]["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_group:
                    out[job_group[jid]]["job_spans"].append(
                        (job_submit[jid], ev["Completion Time"]))
            elif kind == "SparkListenerStageCompleted":
                group = stage_group.get(ev["Stage Info"]["Stage ID"])
                if group is not None:
                    out[group]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                m = ev.get("Task Metrics") or {}
                acc = out[group]
                acc["tasks"] += 1
                acc["executor_run_ms"] += m.get("Executor Run Time", 0)
                acc["gc_ms"] += m.get("JVM GC Time", 0)
                shuffle = m.get("Shuffle Write Metrics", {})
                acc["shuffle_write_records"] += shuffle.get("Shuffle Records Written", 0)
                acc["shuffle_write_bytes"] += shuffle.get("Shuffle Bytes Written", 0)
            elif kind in (_SQL_START, _SQL_UPDATE):
                # the last adaptive update is the plan that ran
                plans[ev["executionId"]] = ev["sparkPlanInfo"]
    charged: set[tuple[str, int]] = set()
    for jid, eid in job_exec.items():
        key = (job_group[jid], eid)
        if key not in charged and eid in plans:
            charged.add(key)
            out[job_group[jid]]["exchanges"] += _count_exchanges(plans[eid])
    return dict(out)


def union_ms(spans: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Milliseconds of [lo, hi] covered by at least one span."""
    covered, edge = 0, lo
    for s, e in sorted(spans):
        s, e = max(s, edge), min(e, hi)
        if e > s:
            covered += e - s
            edge = e
    return covered
