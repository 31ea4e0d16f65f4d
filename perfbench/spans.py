"""In-memory spans around calls into the library's layers.

Wrappers are installed at run time on the public functions of each
layer, so the library itself is not edited.  Each span records its
name, start, end, parent span and the id of the benchmark op it
belongs to; spans stay in memory and are written out when the run
ends.
"""

from __future__ import annotations

import functools
import time
from collections import Counter
from typing import Any, Callable, Optional


class Recorder:
    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self.counts: Counter = Counter()
        self.op_id: Optional[str] = None
        self._stack: list[int] = []
        self._patched: list[tuple[Any, str, Any]] = []

    def wrap(
        self, owner: Any, attr: str, name: str,
        on_result: Optional[Callable[["Recorder", Any, tuple], None]] = None,
    ) -> None:
        """Replace ``owner.attr`` with a timing wrapper named ``name``.
        ``on_result(recorder, result, args)`` records counts taken from
        a successful call's arguments and result."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            idx = len(self.spans)
            span = {"name": name, "op": self.op_id,
                    "parent": self._stack[-1] if self._stack else None,
                    "start": time.perf_counter_ns(), "end": None, "ok": False}
            self.spans.append(span)
            self._stack.append(idx)
            try:
                result = original(*args, **kwargs)
                span["ok"] = True
            finally:
                self._stack.pop()
                span["end"] = time.perf_counter_ns()
                self.counts[f"{name}.calls"] += 1
            if on_result is not None:
                on_result(self, result, args)
            return result

        self._patched.append((owner, attr, original))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()


def self_ns(spans: list[dict[str, Any]]) -> list[int]:
    """Each span's duration minus the part of it its direct children
    cover (children of one span never overlap: the driver is one
    thread)."""
    covered = [0] * len(spans)
    for s in spans:
        if s["parent"] is not None:
            covered[s["parent"]] += s["end"] - s["start"]
    return [s["end"] - s["start"] - c for s, c in zip(spans, covered)]


def install_layers(rec: Recorder) -> None:
    """Wrap the public entry points of io_manager, plans, table and
    tablelog."""
    from dagster_delta_spark import io_manager, tablelog
    from dagster_delta_spark.table import DeltaSparkTable

    def count_result(key: str, counter: str) -> Callable:
        def on_result(r: Recorder, res: Any, args: tuple) -> None:
            r.counts[counter] += int(res.get(key, 0))
        return on_result

    def count_pruning(r: Recorder, kept: Any, args: tuple) -> None:
        r.counts["table.pruned_files.candidates"] += len(args[1].files)
        r.counts["table.pruned_files.kept"] += len(kept)

    rec.wrap(io_manager.DeltaSparkIOManager, "handle_output", "io_manager.handle_output")
    rec.wrap(io_manager.DeltaSparkIOManager, "load_input", "io_manager.load_input")
    # io_manager imported the compiler by name; patch that binding
    rec.wrap(io_manager, "partition_dimensions_to_dnf", "plans.dnf")
    rec.wrap(DeltaSparkTable, "write", "table.write", count_result("num_added_files", "table.write.files_added"))
    rec.wrap(DeltaSparkTable, "merge", "table.merge", count_result("num_removed_files", "table.merge.files_rewritten"))
    rec.wrap(DeltaSparkTable, "read", "table.read")
    rec.wrap(DeltaSparkTable, "pruned_files", "table.pruned_files", count_pruning)
    rec.wrap(DeltaSparkTable, "partition_stats", "table.partition_stats")
    # table.py calls these through the module, and tablelog's own
    # internal calls resolve module globals, so both see the wrappers
    rec.wrap(tablelog, "load_snapshot", "tablelog.load_snapshot")
    rec.wrap(tablelog, "read_version_actions", "tablelog.read_version_actions")
    rec.wrap(tablelog, "latest_version", "tablelog.latest_version")
    rec.wrap(tablelog, "commit", "tablelog.commit")
    rec.wrap(tablelog, "write_checkpoint", "tablelog.write_checkpoint")
