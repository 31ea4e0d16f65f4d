"""Alternating A/B of the benchmark between a git revision and the
working tree, run back to back on one host.

Usage: python tools/ab.py <rev> --workload W --pairs N [--first-seed S]

Checks ``<rev>`` out into a temporary ``git worktree`` and runs
``perfbench/run.py --workload W --seed S --seconds 8 --trace 0`` from
it and from the working tree, one pair per seed, alternating which
side runs first.  Only the last stdout line of a run (the benchmark's
JSON contract) is read.  For every ``end_to_end`` metric of
``BENCHMARK.json`` it prints both medians, the parent's IQR and how
many pairs the change won, then the failed ops of each side.  Exits 1
if any run is not ``correct`` or prints no JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(root: str, workload: str, seed: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "8", "--trace", "0"],
        cwd=root, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return {"correct": False, "attempted": 0, "failed": 0,
                "metrics": {}, "error": f"exit {proc.returncode}, no JSON"}


def quartiles(xs: list[float]) -> tuple[float, float]:
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("rev", help="the parent revision, e.g. HEAD~1")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--first-seed", type=int, default=31)
    args = ap.parse_args()

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    tmp = tempfile.mkdtemp(prefix="ab-")
    parent_root = os.path.join(tmp, "parent")
    subprocess.run(["git", "worktree", "add", "--detach", parent_root,
                    args.rev], cwd=REPO, check=True,
                   stdout=subprocess.DEVNULL)
    runs: dict[str, list[dict]] = {"parent": [], "change": []}
    try:
        for i in range(args.pairs):
            seed = args.first_seed + i
            order = (["parent", "change"] if i % 2 == 0
                     else ["change", "parent"])
            for side in order:
                root = parent_root if side == "parent" else REPO
                res = run_once(root, args.workload, seed)
                runs[side].append(res)
                vals = {m["name"]: res["metrics"].get(m["name"], {})
                        .get("value") for m in metrics}
                print(f"pair {i + 1} seed {seed} {side}: "
                      f"correct={res['correct']} {vals}",
                      file=sys.stderr, flush=True)
    finally:
        subprocess.run(["git", "worktree", "remove", "--force",
                        parent_root], cwd=REPO)
        shutil.rmtree(tmp, ignore_errors=True)

    print(f"{args.workload}: {args.pairs} pairs vs {args.rev}, seeds "
          f"{args.first_seed}..{args.first_seed + args.pairs - 1}")
    print(f"{'metric':<14} {'parent':>10} {'change':>10} {'delta':>8} "
          f"{'parent IQR':>11} {'change wins':>12}")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        p = [r["metrics"].get(name, {}).get("value") for r in runs["parent"]]
        c = [r["metrics"].get(name, {}).get("value") for r in runs["change"]]
        pairs = [(a, b) for a, b in zip(p, c)
                 if a is not None and b is not None]
        if not pairs:
            print(f"{name:<14} (missing)")
            continue
        pm = statistics.median(a for a, _ in pairs)
        cm = statistics.median(b for _, b in pairs)
        q1, q3 = quartiles([a for a, _ in pairs]) if len(pairs) > 1 \
            else (pm, pm)
        wins = sum((b < a) if lower else (b > a) for a, b in pairs)
        delta = (cm - pm) / pm * 100 if pm else float("nan")
        print(f"{name:<14} {pm:>10.4g} {cm:>10.4g} {delta:>+7.1f}% "
              f"{q3 - q1:>11.4g} {wins:>6}/{len(pairs)}")
    ok = True
    for side in ("parent", "change"):
        rs = runs[side]
        bad = sum(not r.get("correct") for r in rs)
        ok &= bad == 0
        print(f"{side}: {len(rs) - bad}/{len(rs)} runs correct, failed ops "
              f"{sum(r.get('failed', 0) for r in rs)}/"
              f"{sum(r.get('attempted', 0) for r in rs)}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
