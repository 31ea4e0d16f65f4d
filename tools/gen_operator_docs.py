"""Generate docs/OPERATORS.md — the user-facing registry reference —
by introspecting __spark_entry__.queries()/oracle_sql() and each
callable's docstring.  Regenerate after registry changes:

    python tools/gen_operator_docs.py
"""

from __future__ import annotations

import inspect
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split())
    for stop in (". ", ".\n"):
        if stop in text:
            return text[: text.index(stop) + 1]
    return text if text.endswith(".") else text + "."


def target_of(fn):
    """Follow thin registry wrappers to the library function they call
    so the doc row points at the real implementation."""
    mod = inspect.getmodule(fn)
    name = getattr(fn, "__name__", "?")
    if mod and mod.__name__ == "__spark_entry__":
        return f"`__spark_entry__.{name}`"
    return f"`{mod.__name__.replace('dagster_delta_spark.', '')}.{name}`"


def main() -> None:
    import __spark_entry__ as entry

    qs = entry.queries()
    oracles = set(entry.oracle_sql())
    lines = [
        "# Operator registry reference",
        "",
        "Every driver-visible operator: its registry entry name, the",
        "implementing function, verification mode (DuckDB oracle vs",
        "rows-only), and a one-line description from the docstring.",
        "Generated by `tools/gen_operator_docs.py` — do not edit by",
        "hand.  The FIRST 50 entries form the current driver recording",
        "window (see CLAUDE.md, registry rotation).",
        "",
        "| # | entry | impl | check | description |",
        "|---|---|---|---|---|",
    ]
    for i, (name, fn) in enumerate(qs.items(), start=1):
        check = "oracle" if name in oracles else "rows-only"
        desc = first_sentence(inspect.getdoc(fn)) or "—"
        desc = desc.replace("|", "\\|")
        if len(desc) > 180:
            desc = desc[:177] + "..."
        lines.append(f"| {i} | `{name}` | {target_of(fn)} | {check} | {desc} |")
    lines.append("")
    with open(os.path.join(ROOT, "docs", "OPERATORS.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"wrote docs/OPERATORS.md ({len(qs)} entries, "
          f"{len(oracles & set(qs))} oracle-backed)")


if __name__ == "__main__":
    main()
