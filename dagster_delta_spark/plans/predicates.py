"""Partition-predicate mini-compiler (reference §2.4, P1-P6).

Compiles partition dimensions into DNF conjunctions and lowers them to
one Spark SQL predicate string: the write path's ``replaceWhere``
scope, MERGE-condition narrowing, and (parsed by ``F.expr``) the read
path's ``Column``, which Catalyst pushes into the parquet scan.  The
table layer prunes files against logged partition values with the
same DNF.

Reference behaviors re-expressed (dd/dagster_delta/handler.py):

- ``partition_dimensions_to_dnf``  handler.py:350-394
- ``_time_window_partition_dnf``   handler.py:442-480
- ``_value_dnf``                   handler.py:397-439
- ``_create_predicate``            handler.py:47-67
- date formats                     io_manager.py:30-31

Differences by design: datetimes are rendered as typed
``TIMESTAMP '...'`` literals instead of µs-epoch ints (the reference's
epoch form exists only because of a delta-rs parser quirk), and the
read path uses ``Column`` expressions rather than pyarrow compute.
"""

from __future__ import annotations

import math
import re
from datetime import date, datetime
from decimal import Decimal
from typing import Any, Optional, Sequence, Union

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DataType,
    DateType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructType,
    TimestampType,
)

from .slices import TablePartitionDimension, TimeWindow

DELTA_DATETIME_FORMAT = "%Y-%m-%d %H:%M:%S"  # reference io_manager.py:30
DELTA_DATE_FORMAT = "%Y-%m-%d"  # reference io_manager.py:31

# DNF conjunct: (column, op, value); op in {"=", "in", ">=", ">", "<", "<="}
DnfFilter = tuple[str, str, Any]


def _strip_tz(dt: datetime) -> datetime:
    """tz-strip (reference handler.py:450-458)."""
    return dt.replace(tzinfo=None) if dt.tzinfo is not None else dt


def _is_integer(dtype: DataType) -> bool:
    return isinstance(dtype, (IntegerType, LongType, ShortType))


def partition_dimensions_to_dnf(
    partition_dimensions: Sequence[TablePartitionDimension],
    schema: StructType,
    *,
    input_dnf: bool = False,
    date_formats: Optional[dict[str, str]] = None,
    legacy_window_scope: bool = False,
) -> Optional[list[DnfFilter]]:
    """Partition dimensions -> DNF conjunction (reference P1,
    handler.py:350-394).

    Time windows compile to the half-open range ``[start, end)`` on
    BOTH paths (the reference's write path pins '=' start, which
    under-deletes multi-value windows — documented divergence); the
    write path additionally rejects non-contiguous window sets.
    ``legacy_window_scope=True`` opts back into the reference's
    write-path behavior bit-for-bit (handler.py:478-479: a single
    ``(col, '=', start)`` pin, no contiguity guard) for users migrating
    workloads that depend on it.  Validates the partition column exists
    and has an allowed type (timestamp/date/string/integer only —
    reference handler.py:366-392).
    """
    parts: list[DnfFilter] = []
    fields = {f.name: f.dataType for f in schema.fields}
    for dim in partition_dimensions:
        if dim.partition_expr not in fields:
            raise ValueError(
                f"partition column {dim.partition_expr!r} not in schema "
                f"{sorted(fields)}"
            )
        dtype = fields[dim.partition_expr]
        fmt = (date_formats or {}).get(dim.partition_expr)
        if isinstance(dtype, (TimestampType, DateType)):
            conj = _time_window_partition_dnf(
                dim, dtype, input_dnf=input_dnf,
                legacy_window_scope=legacy_window_scope,
            )
            parts.extend(conj if isinstance(conj, list) else [conj])
        elif isinstance(dtype, StringType) or _is_integer(dtype):
            conj = _value_dnf(
                dim, dtype, fmt, input_dnf=input_dnf,
                legacy_window_scope=legacy_window_scope,
            )
            parts.extend(conj if isinstance(conj, list) else [conj])
        else:
            raise ValueError(
                f"partition column {dim.partition_expr!r} has unsupported "
                f"type {dtype.simpleString()}; allowed: timestamp, date, "
                "string, integer"
            )
    return parts or None


def _windows_of(dim: TablePartitionDimension) -> list[TimeWindow]:
    p = dim.partitions
    if isinstance(p, TimeWindow):
        return [p]
    return [w for w in p if isinstance(w, TimeWindow)]  # type: ignore[union-attr]


def _require_contiguous(dim: TablePartitionDimension,
                        windows: Sequence[TimeWindow]) -> None:
    """An overwrite scoped by windows with a GAP would delete the gap's
    partitions while the incoming data only covers the windows — silent
    data loss.  (The reference collapses to [min, max) unconditionally,
    handler.py:425-432/453-461; this guard is a deliberate safety
    divergence on the write path only.)"""
    spans = sorted((_strip_tz(w.start), _strip_tz(w.end)) for w in windows)
    covered_to = spans[0][1]
    for s, e in spans[1:]:
        # track the running max end: an earlier window may engulf later
        # ones, so pairwise next-start vs previous-end is too strict
        if s > covered_to:
            raise ValueError(
                f"overwrite scope for {dim.partition_expr!r} spans "
                f"non-contiguous time windows (gap between {covered_to} "
                f"and {s}); materialize each contiguous range separately"
            )
        covered_to = max(covered_to, e)


def _time_window_partition_dnf(
    dim: TablePartitionDimension,
    dtype: DataType,
    *,
    input_dnf: bool,
    legacy_window_scope: bool = False,
) -> Union[DnfFilter, list[DnfFilter]]:
    """TimeWindow(s) -> half-open range DNF (reference P2,
    handler.py:442-480).

    Multiple windows collapse to ``[min(start), max(end))``.  Both
    paths emit the half-open range: the reference's write path pins
    ``(col, "=", start)`` (handler.py:479-480), which under-deletes any
    window spanning more than one partition value — a multi-day
    overwrite would leave stale partitions alive next to their
    replacements.  Write-path collapse additionally requires the
    windows to be contiguous (see _require_contiguous).

    ``legacy_window_scope=True`` reproduces the reference write path
    exactly: a single ``(col, "=", min(start))`` pin and no contiguity
    guard — for migrating users who depend on the reference's scoping,
    under-deletion included."""
    windows = _windows_of(dim)
    if not windows:
        raise ValueError(f"no time windows for partition {dim.partition_expr!r}")
    start = _strip_tz(min(w.start for w in windows))
    end = _strip_tz(max(w.end for w in windows))
    if isinstance(dtype, DateType):
        if not input_dnf and not legacy_window_scope and (
            start.time() != start.time().min or end.time() != end.time().min
        ):
            # a DATE partition cannot express an intra-day boundary:
            # flooring would delete rows before the window start and
            # leave stale rows after its end — refuse rather than
            # silently mis-scope the overwrite/merge
            raise ValueError(
                f"time window [{start}, {end}) is not midnight-aligned; "
                f"a DATE-typed partition column ({dim.partition_expr!r}) "
                "cannot scope an intra-day write — align the window or "
                "partition by timestamp"
            )
        start_v: Any = start.date()
        # READ path: ceil a non-midnight end so every date holding
        # window rows is covered (floor would silently drop the final
        # partial day)
        end_v: Any = (
            end.date() if end.time() == end.time().min
            else date.fromordinal(end.date().toordinal() + 1)
        )
    else:
        start_v, end_v = start, end
    if not input_dnf:
        if legacy_window_scope:
            return (dim.partition_expr, "=", start_v)
        _require_contiguous(dim, windows)
    return [(dim.partition_expr, ">=", start_v), (dim.partition_expr, "<", end_v)]


def _value_dnf(
    dim: TablePartitionDimension,
    dtype: DataType,
    fmt: Optional[str],
    *,
    input_dnf: bool = True,
    legacy_window_scope: bool = False,
) -> Union[DnfFilter, list[DnfFilter]]:
    """Static keys -> ``in``/``=`` DNF; formatted time windows -> the
    half-open range (reference P3, handler.py:397-439).

    TimeWindows against string/int partition columns compile to
    ``[fmt(min start), fmt(max end))`` — the same half-open range the
    reference's ``_value_dnf`` emits (handler.py:425-432), on both the
    read and write paths.  Emitting only the window *starts* would
    silently under-read multi-partition windows and under-delete on
    overwrite.  A missing ``fmt`` raises, like the reference
    (handler.py:414).  Static keys are deduped (handler.py:435).
    """
    windows = _windows_of(dim)
    if windows:
        if fmt is None:
            raise ValueError(
                f"date format was not provided for partition column "
                f"{dim.partition_expr!r} (required to compile a TimeWindow "
                "against a string/integer column)"
            )
        if not input_dnf and not legacy_window_scope:
            # legacy flag = reference write path bit-for-bit, which has
            # no contiguity guard on any path (handler.py:397-439)
            _require_contiguous(dim, windows)
        start: Any = _strip_tz(min(w.start for w in windows)).strftime(fmt)
        end: Any = _strip_tz(max(w.end for w in windows)).strftime(fmt)
        if _is_integer(dtype):
            start, end = int(start), int(end)
        if start >= end:
            # a format whose rendered order disagrees with time order
            # (e.g. %H across midnight, %m/%d/%Y) — or one too coarse
            # for the window — would yield an always-false or inverted
            # range: reads return nothing and a scoped overwrite
            # deletes nothing, silently
            raise ValueError(
                f"date format {fmt!r} renders window start {start!r} >= "
                f"end {end!r} for partition {dim.partition_expr!r}; the "
                "format must be lexicographically monotonic over the "
                "window (and no coarser than it)"
            )
        return [
            (dim.partition_expr, ">=", start),
            (dim.partition_expr, "<", end),
        ]
    if isinstance(dim.partitions, str):
        # a bare string satisfies Sequence[str] and would silently
        # iterate character-by-character into IN ('a','b',...)
        raise TypeError(
            f"partitions for {dim.partition_expr!r} must be a list of "
            f"keys, got the bare string {dim.partitions!r} — wrap it: "
            f"[{dim.partitions!r}]"
        )
    values = list(dim.partitions)  # type: ignore[arg-type]
    if not values:
        raise ValueError(
            f"empty partitions list for {dim.partition_expr!r} — an "
            "empty IN () renders invalid SQL; omit the dimension to "
            "scope nothing"
        )
    if _is_integer(dtype):
        values = [int(v) for v in values]
    uniq = sorted(set(values), key=str)
    if len(uniq) == 1:
        return (dim.partition_expr, "=", uniq[0])
    return (dim.partition_expr, "in", uniq)


# ---------------------------------------------------------------------------
# Lowering: DNF -> Spark Column / SQL string
# ---------------------------------------------------------------------------


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted Spark SQL identifier.

    The table layer builds its per-operation plans (MERGE projections
    and markers, scan projections, partition predicates) as SQL text
    quoted with this helper instead of ``F.col``/``Column`` chains:
    each ``Column`` call is at least one py4j round trip (several with
    PySpark's default DataFrame call-site capture), while one
    ``selectExpr``/``F.expr`` string is parsed in the JVM in one."""
    return "`" + name.replace("`", "``") + "`"


_PLAIN_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")
_DNF_OPS = ("=", "in", ">=", ">", "<", "<=")


def dnf_to_column(dnf: Sequence[DnfFilter]) -> Column:
    """DNF -> PySpark ``Column`` (replaces reference P5
    ``filters_to_expression``, handler.py:543-544): the SQL lowering,
    parsed once, so the read path and the MERGE/overwrite scope can
    never disagree.  Catalyst pushes the predicate into the file
    scan."""
    if not dnf:
        raise ValueError("empty DNF")
    for _name, op, _value in dnf:
        if op not in _DNF_OPS:
            raise ValueError(f"unsupported DNF op {op!r}")
    return F.expr(dnf_to_sql(dnf))


def _sql_literal(value: Any) -> str:
    """Literal rendering (reference P4 ``_create_predicate``,
    handler.py:47-67) with typed datetime literals instead of µs epoch
    ints, in Spark SQL: a string escapes ``\\`` (Spark's escape
    character) and doubles ``'``.  Sub-second precision is preserved —
    truncating it would make the executed scope (the MERGE predicate)
    disagree with pruned_files on the same DNF.  Non-finite floats
    render as ``double('infinity')``/``double('nan')``: bare ``inf``
    parses as a column name."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, float) and math.isnan(value):
        return "double('nan')"
    if isinstance(value, float) and math.isinf(value):
        return f"double('{'-' if value < 0 else ''}infinity')"
    if isinstance(value, (int, float, Decimal)):
        return str(value)
    if isinstance(value, datetime):
        v = _strip_tz(value)
        fmt = "%Y-%m-%d %H:%M:%S.%f" if v.microsecond else DELTA_DATETIME_FORMAT
        return f"TIMESTAMP '{v.strftime(fmt)}'"
    if isinstance(value, date):
        return f"DATE '{value.strftime(DELTA_DATE_FORMAT)}'"
    if isinstance(value, str):
        escaped = value.replace("\\", "\\\\").replace("'", "''")
        return f"'{escaped}'"
    raise TypeError(f"cannot render SQL literal for {type(value)!r}")


def dnf_to_sql(dnf: Sequence[DnfFilter], *, qualifier: str = "") -> str:
    """DNF -> SQL predicate string (reference P4/P7): used for
    ``replaceWhere``-style overwrite scoping, MERGE-condition
    narrowing (M5, handler.py:92-98) and, through ``dnf_to_column``,
    the read path.  Names that are not plain identifiers are
    backtick-quoted."""
    parts = []
    q = f"{qualifier}." if qualifier else ""
    for name, op, value in dnf:
        col = q + (name if _PLAIN_IDENT.match(name) else sql_ident(name))
        if op == "in":
            lits = ", ".join(_sql_literal(v) for v in value)
            parts.append(f"{col} IN ({lits})")
        else:
            parts.append(f"{col} {op} {_sql_literal(value)}")
    return " AND ".join(parts)


def get_select_statement(
    table: str,
    schema: str,
    columns: Optional[Sequence[str]],
    dnf: Optional[Sequence[DnfFilter]],
) -> str:
    """Illustrative SELECT (reference P7, io_manager.py:234-244) —
    documents slice semantics; our read path executes the equivalent
    DataFrame plan."""
    cols = ", ".join(columns) if columns else "*"
    name = f"{schema}.{table}" if schema else table
    stmt = f"SELECT {cols} FROM {name}"
    if dnf:
        stmt += f" WHERE {dnf_to_sql(dnf)}"
    return stmt


def extract_date_format_from_partition_definition(
    fmt_by_column: Optional[dict[str, str]],
) -> Optional[dict[str, str]]:
    """P6 analogue (reference handler.py:554-597): in the reference
    this digs the ``fmt`` out of (nested) Dagster partition
    definitions; orchestrator-free, we accept the already-extracted
    ``{column: strftime_format}`` mapping and pass it through."""
    return fmt_by_column or None
