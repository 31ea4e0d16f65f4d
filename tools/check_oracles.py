"""Local stand-in for the driver's correctness gate: run each
queries() entry on Spark and its oracle_sql() on DuckDB over the same
parquet, compare row counts + sorted/rounded values.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _correctness_payloads(root: str) -> list[str]:
    """Raw JSON text of COMMITTED CORRECTNESS_r*.json files, read from
    HEAD (`git ls-tree` + `git show`, not the working tree or index) so
    neither an untracked nor a merely-staged record can satisfy a gate
    documented as requiring committed records.

    Failure semantics matter here: INSIDE a git checkout, any failure
    to read HEAD (unborn branch, transient git error) means "no
    committed records" — falling back to the working tree would accept
    exactly the files the gate exists to reject.  The glob fallback
    applies only OUTSIDE a git checkout (no repo to commit to), and
    tolerates per-file read errors like the pre-r6 code did."""
    import fnmatch
    import glob
    import subprocess

    try:
        in_repo = subprocess.run(
            ["git", "-C", root, "rev-parse", "--is-inside-work-tree"],
            capture_output=True, text=True, check=True,
        ).stdout.strip() == "true"
    except (OSError, subprocess.CalledProcessError):
        in_repo = False
    if in_repo:
        try:
            names = subprocess.run(
                ["git", "-C", root, "ls-tree", "-r", "HEAD",
                 "--name-only"],
                capture_output=True, text=True, check=True,
            ).stdout.split()
            return [
                subprocess.run(
                    ["git", "-C", root, "show", f"HEAD:{n}"],
                    capture_output=True, text=True, check=True,
                ).stdout
                for n in names
                if fnmatch.fnmatch(n, "CORRECTNESS_r*.json")
            ]
        except (OSError, subprocess.CalledProcessError):
            return []  # unreadable HEAD == nothing committed
    out = []
    for p in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        try:
            out.append(open(p).read())
        except OSError:
            continue
    return out


def recorded_entries(root: str, oracle_names: set[str]) -> set[str]:
    """Entries with a driver row on committed record that satisfies the
    rotation invariant: a GREEN row (oracle match) always counts; a
    rows-only row (``err == "no_oracle"``, spark_rows recorded) counts
    only for entries that STILL have no oracle in the registry — the
    driver can never stamp those green, so the record is the strongest
    verdict available, while converting an entry to oracle-backed
    re-demands a green row.  Shared with tests/test_misc_features.py's
    rotation-invariant mirror so the two gates cannot drift."""
    import json

    recorded: set[str] = set()
    for payload in _correctness_payloads(root):
        try:
            rows = json.loads(payload)
        except ValueError:
            continue
        for k, v in rows.items():
            if not isinstance(v, dict):
                continue
            if v.get("rows_match") and not v.get("err"):
                recorded.add(k)
            elif (v.get("err") == "no_oracle"
                  and (v.get("spark_rows") or 0) > 0
                  and k not in oracle_names):
                recorded.add(k)
    return recorded


def canon(rows, ndigits=6):
    out = []
    for row in rows:
        vals = []
        for v in row:
            if isinstance(v, float):
                if math.isnan(v):
                    vals.append("nan")
                else:
                    vals.append(round(v, ndigits))
            else:
                vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


def _rows_close(a_rows, b_rows) -> bool:
    """Fallback equality for rows that differ only by float-cast ULPs:
    at sf0.1 magnitudes (~1e10 with decimal fractions) the two
    engines' DECIMAL->DOUBLE casts round the same exact value to
    adjacent doubles, and the 6-digit canon then prints .1 vs .099999.

    rel_tol=1e-12 covers a handful of ulps ONLY (1 ulp is rel ~2e-16);
    anything looser would mask real value regressions behind the
    tolerance.  Rows are zip-paired after each side's repr-sort, so an
    ulp divergence in a sort-significant float can misalign pairs —
    that direction FAILS loudly (conservative), never silently passes.
    The DRIVER's gate (exact 6-digit canon at sf0.01) is unaffected."""
    for a, b in zip(a_rows, b_rows):
        if a == b:
            continue
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if x == y:
                continue
            if isinstance(x, float) and isinstance(y, float) and math.isclose(
                x, y, rel_tol=1e-12, abs_tol=1e-9
            ):
                continue
            return False
    return True


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    # Entry names are POSITIONAL — there are no flags.  A typo'd name
    # or an imagined `--only a,b` used to silently match nothing and
    # print a vacuous "0 failures" (cost a round-trip in r14); refuse
    # anything flag-shaped or not in the registry BEFORE Spark spins up.
    flagged = sorted(a for a in only if a.startswith("-"))
    if flagged:
        print(f"ERROR: unknown flags {flagged} — entry names are "
              "positional: check_oracles.py SF_DIR [entry ...]")
        sys.exit(2)

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    unknown = sorted(only - set(entry.queries()))
    if unknown:
        print(f"ERROR: not in the registry: {unknown} — check "
              "__spark_entry__.py:queries() for the exact names.")
        sys.exit(2)

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    # registry invariant: the driver records only the FIRST 50 entries
    # (observed r01-r05), and the window ROTATES across rounds so union
    # coverage driver-verifies everything (round 5+).  An entry may sit
    # past the cap only if a committed CORRECTNESS_r*.json already
    # records it (green; or rows-only for oracle-less entries) — i.e.
    # no entry is ever *permanently* unrecorded.  Checked on full runs
    # only (a targeted `check_oracles.py dir q` debug run shouldn't
    # gate).
    if not only:
        recorded = recorded_entries(ROOT, set(oracles))
        never_recorded = [
            n for n in list(qs)[50:] if n not in recorded
        ]
        if never_recorded:
            print(f"REGISTRY VIOLATION: {never_recorded} sit past the "
                  "driver's 50-entry recording cap and have no committed "
                  "CORRECTNESS_r*.json row (green, or rows-only for "
                  "oracle-less entries); rotate them into the first 50.")
            sys.exit(2)
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            res = con.sql(oracles[name])
            dcols = res.columns
            drows = [tuple(r) for r in res.fetchall()]
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        # column-name-ordered comparison like the driver
        s_idx = sorted(range(len(scols)), key=lambda i: scols[i])
        d_idx = sorted(range(len(dcols)), key=lambda i: dcols[i])
        if sorted(scols) != sorted(dcols):
            failures.append(name)
            print(f"FAIL {name}: columns {sorted(scols)} != {sorted(dcols)}")
            continue
        s_c = canon([tuple(r[i] for i in s_idx) for r in srows])
        d_c = canon([tuple(r[i] for i in d_idx) for r in drows])
        if len(s_c) != len(d_c):
            failures.append(name)
            print(f"FAIL {name}: rowcount {len(s_c)} != {len(d_c)}")
            print("  spark:", s_c[:2], "\n  duck :", d_c[:2])
        elif s_c != d_c and not _rows_close(s_c, d_c):
            failures.append(name)
            diff = [(a, b) for a, b in zip(s_c, d_c) if a != b][:3]
            print(f"FAIL {name}: value mismatch ({len(s_c)} rows); first diffs:")
            for a, b in diff:
                print("  spark:", a, "\n  duck :", b)
        else:
            print(f"PASS {name} ({len(s_c)} rows)")
    print(f"\n{len(failures)} failures: {failures}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
