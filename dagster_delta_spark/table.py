"""DeltaSparkTable — the Spark-native transactional table.

This is the engine's core operator set (reference §2.2/§2.3): all six
write modes (W1-W6), MERGE strategies (M1-M6), partition overwrite
(O1), time travel (S3), log-scoped stats (O3), compaction and vacuum.
The reference delegates these to delta-rs (dd/dagster_delta/
handler.py:23-27, 139-291); here the *data plane is Spark* (parquet
write/read jobs, distributed) and the *metadata plane is the driver*
(transaction log in ``tablelog.py``).

Scale design (100 TB):

- Reads prune files on the driver from logged partition values and
  per-file min/max stats before Spark ever lists them; the residual
  predicate is also applied as a ``Column`` so Catalyst pushes it into
  the scan (row-group skipping inside files).
- Writes stage data with a normal distributed ``df.write.parquet``
  (hive-partitioned), then publish file names + footer stats in one
  driver-side atomic commit. Conflicts retry only the metadata step.
- MERGE rewrites only *touched* files: a semi-join of target x source
  discovers which files contain matching keys; untouched files are
  carried over by reference. Source-side broadcast is left to AQE.
"""

from __future__ import annotations

import base64
import dataclasses
import hashlib
import json
import math
import os
import re
import shutil
import time
import uuid
from datetime import date, datetime, timedelta, timezone
from functools import lru_cache
from decimal import Decimal
from typing import Any, Callable, Iterable, NamedTuple, Optional, Sequence
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    NumericType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .config import MergeConfig, MergeType, SchemaMode, WriteMode
from .plans.predicates import DnfFilter, dnf_to_column, dnf_to_sql, sql_ident
from . import delta_interop, tablelog
from .tablelog import (
    AddFile,
    CommitInfo,
    ConcurrentAppendError,
    ConcurrentDeleteError,
    Metadata,
    Snapshot,
    TableNotFoundError,
    VersionConflictError,
)

HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"
_STATS_MAX_STRING = 256
_COMMIT_RETRIES = 5
_COMMIT_BACKOFF_BASE = 0.2  # reference uses 4s REST backoff; local commits are fast


class TableExistsError(Exception):
    pass


class MergeMultipleMatchesError(Exception):
    """A MERGE target row was matched by more than one source row
    (delta-rs/Delta raise the same cardinality violation)."""


class SchemaMismatchError(Exception):
    pass


class GeneratedColumnViolationError(Exception):
    """A write PROVIDED a generated column whose values disagree with
    its generation expression."""


class ConstraintViolationError(Exception):
    """Incoming rows violate a table CHECK constraint (delta-rs /
    Delta raise the same on their ``delta.constraints.*`` metadata)."""


_CONSTRAINT_PREFIX = "dds.constraints."
#: session -> `_metadata.file_path` URI prefix for local abs paths
#: (None = non-prefix format; see _probed_uri_prefix)
_URI_PREFIX_CACHE: dict[str, Optional[str]] = {}


# ---------------------------------------------------------------------------
# typed partition-value / stats parsing
# ---------------------------------------------------------------------------


def _parse_typed(value: Optional[str], dtype: DataType) -> Any:
    if value is None:
        return None
    if isinstance(dtype, (IntegerType, LongType, ShortType, ByteType)):
        return int(value)
    if isinstance(dtype, (DoubleType, FloatType)):
        return float(value)
    if isinstance(dtype, DecimalType):
        return Decimal(value)  # stats render decimals as strings
    if isinstance(dtype, BooleanType):
        return value.lower() == "true"
    if isinstance(dtype, DateType):
        return date.fromisoformat(value[:10])
    if isinstance(dtype, TimestampType):
        v = value.replace("T", " ")
        for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
            try:
                return datetime.strptime(v, fmt)
            except ValueError:
                continue
        raise ValueError(f"cannot parse timestamp partition value {value!r}")
    return value


def _coerce_stat(value: Any, dtype: DataType) -> Any:
    if value is None:
        return None
    if isinstance(value, str):
        return _parse_typed(value, dtype)
    return value


def _coerce_dnf_literal(value: Any, dtype: DataType) -> Any:
    """Coerce a user-supplied DNF literal to the column's type before
    driver-side comparison.  Without this, ``("p", "=", "1")`` against
    a bigint partition column compares ``1 == "1"`` → silently matches
    NO files — which turns a partition overwrite into a
    duplicate-creating append (the Spark/SQL lowering of the same DNF
    casts the literal and matches, so the two paths would disagree).
    Mirrors SQL implicit-cast semantics: strings parse to the column
    type; an unparseable literal is a loud error, not an empty match."""
    if isinstance(value, str) and not isinstance(dtype, StringType):
        try:
            return _parse_typed(value, dtype)
        except (ValueError, ArithmeticError) as e:
            raise ValueError(
                f"DNF literal {value!r} is not castable to the "
                f"column type {dtype.simpleString()}"
            ) from e
    if isinstance(dtype, StringType) and not isinstance(value, str):
        return str(value)
    return value


#: table property holding the COLUMN MAPPING: JSON {logical: physical}
#: for renamed columns only (absent key = identity).  Physical names
#: are frozen at first write and never change — a rename is a pure
#: metadata commit, and concurrent writers stay consistent because
#: they stage against physicals that no rename can move.
_COLMAP_KEY = "dds.columnMapping"
#: types whose min/max stats BOTH engines render identically (the
#: convert/export stats carry-over set — ONE constant so the two
#: directions cannot silently diverge).  Dates are also identical
#: ('YYYY-MM-DD' both sides) but the import side routes them through
#: the validating re-render branch, so each site composes with
#: DateType explicitly.
_DELTA_SAFE_STATS_TYPES = (ByteType, ShortType, IntegerType, LongType,
                           FloatType, DoubleType, StringType,
                           BooleanType)
#: JSON list of physical names RESERVED by dropped columns — a
#: re-added column of the same logical name must get a fresh physical
#: or it would silently resurrect the dropped column's old file data.
_DROPPED_KEY = "dds.droppedPhysical"
#: table property holding GENERATED COLUMNS: JSON {column: sql_expr}.
#: Writes compute absent generated columns from the expression and
#: VALIDATE provided ones against it (null-safe equality) — Delta's
#: generated-column contract.  Declared via table_configuration at
#: create/first-write time; typical use is a derived partition column
#: (e.g. a date bucketing of an event timestamp).
_GENCOL_KEY = "dds.generatedColumns"
#: table property holding COLUMN DEFAULTS: JSON {column: sql_expr}.
#: A write that OMITS the column fills it from the expression (Delta's
#: allowColumnDefaults contract); a write that provides it is taken
#: as-is — unlike generated columns, no validation.  Defaults never
#: rewrite history: files written before the column existed still
#: read null.
_COLDEFAULT_KEY = "dds.columnDefaults"
#: table property holding IDENTITY COLUMNS: JSON
#: {column: {"start": 1, "step": 1}} — Delta's GENERATED ALWAYS AS
#: IDENTITY.  Writes must OMIT the column; the table assigns DENSE
#: monotonically increasing values (stronger than Delta, which allows
#: gaps).  The next unallocated value persists per column in the
#: table configuration (``dds.identity.<col>.next``) and advances in
#: the SAME commit as the data; a concurrent writer that raced the
#: allocation fails with ConcurrentAppendError instead of minting
#: duplicate ids — rerun the write to re-allocate.
_IDENTITY_KEY = "dds.identityColumns"
#: table property holding NOT NULL columns: JSON [column, ...] —
#: Delta's column invariants.  Enforced in the SAME single aggregation
#: pass as CHECK constraints on every write/merge/update; a write that
#: omits the column fails too (conform null-fills it, which violates).
_NOTNULL_KEY = "dds.notNullColumns"
#: table property pinning a CDC retention floor: vacuum keeps every
#: data file and deletion-vector sidecar referenced by the last N
#: versions' snapshots, whatever retention_ms says — so a change feed
#: lagging <= N versions can always decode, and an over-aggressive
#: vacuum surfaces at vacuum time (files reported as retained) instead
#: of as a decode failure in the consumer.
_CDC_RETAIN_KEY = "dds.cdcRetainVersions"
#: table property freezing the table append-only (Delta's
#: ``delta.appendOnly``): overwrite / replace / DELETE / UPDATE /
#: row-modifying MERGE / RESTORE refuse pointedly while set —
#: the audit-log / event-stream contract.  Compaction (OPTIMIZE /
#: Z-order / auto-compact), vacuum, appends, insert-only merges and
#: metadata commits stay allowed: none removes a live row.
_APPEND_ONLY_KEY = "dds.appendOnly"
#: table property declaring per-file BLOOM FILTER indexes (the Delta
#: / Databricks bloom-filter-index analogue, re-expressed for the JSON
#: log): JSON ``{column: {"fpp": 0.01, "maxBits": 131072}}``.  Every
#: staged file gets a per-column bitmap built from its distinct values
#: at footer-stats-harvest time and carried INLINE in
#: ``AddFile.stats["bloom"]``; point (``=`` / ``in``) predicates probe
#: it in ``_file_matches`` to skip files whose min/max range cannot
#: prune (high-cardinality keys scattered across files).  Sound by
#: construction: a bloom only ever says "definitely absent" — a
#: saturated or missing bitmap degrades to no skipping, never to a
#: wrong result.  Bitmaps cap at ``maxBits`` (default 16 KiB) so the
#: log stays bounded; parquet-native row-group bloom filters
#: (``parquet.bloom.filter.enabled#col``) are written alongside so the
#: scan skips row groups inside the files the log could not skip.
_BLOOM_KEY = "dds.bloomFilterColumns"
_BLOOM_DEFAULT_FPP = 0.01
_BLOOM_DEFAULT_MAX_BITS = 1 << 17  # 16 KiB bitmap / column / file
#: types a bloom index supports: exact canonical string rendering on
#: both the build side (harvester) and the probe side (driver literal)
_BLOOM_SUPPORTED_TYPES = (ByteType, ShortType, IntegerType, LongType,
                          StringType)


#: Delta autoOptimize analogues.  ``dds.optimizeWrite`` = "true"
#: hash-colocates incoming rows on the partition columns before
#: staging, so every write lands ONE file per hive partition instead
#: of one per task per partition — the small-file fix at the source
#: (huge single partitions stay one file; use cluster_by for range
#: splitting).  ``dds.autoCompact`` = "true" runs a synchronous
#: OPTIMIZE as its own follow-up commit whenever a write/merge leaves
#: >= ``dds.autoCompact.minFiles`` (default 50) files under
#: ``dds.autoCompact.targetFileSize`` (default 128 MiB) — the
#: streaming-ingest small-file treadmill handled at the table, not by
#: an external janitor job.
_OPTWRITE_KEY = "dds.optimizeWrite"
_AUTOCOMPACT_KEY = "dds.autoCompact"
_AUTOCOMPACT_MINFILES_KEY = "dds.autoCompact.minFiles"
_AUTOCOMPACT_TARGET_KEY = "dds.autoCompact.targetFileSize"


def _append_only(configuration: Optional[dict[str, str]]) -> bool:
    """True when the table is frozen append-only.  Malformed values
    raise — at SET time via set_properties, and pointedly at use time
    otherwise (a typo'd 'ture' silently unfreezing an audit table is
    the failure mode this refuses)."""
    raw = (configuration or {}).get(_APPEND_ONLY_KEY)
    if raw is None:
        return False
    v = str(raw).strip().lower()
    if v not in ("true", "false"):
        raise ValueError(
            f"table property {_APPEND_ONLY_KEY} must be 'true' or "
            f"'false', got {raw!r}")
    return v == "true"


#: _commit_rewrite operations that remove or rewrite live rows — the
#: set the per-retry append-only re-check refuses (OPTIMIZE / ZORDER /
#: FSCK / SET-UNSET TBLPROPERTIES flow through the same loop and are
#: allowed on frozen tables)
_APPEND_ONLY_FORBIDDEN_OPS = frozenset(
    {"DELETE", "UPDATE", "RESTORE", "REPLACE WHERE"})


def _refuse_append_only(
    table_uri: str, configuration: Optional[dict[str, str]], op: str
) -> None:
    if _append_only(configuration):
        raise ValueError(
            f"{op} refused: table {table_uri} is append-only "
            f"({_APPEND_ONLY_KEY}=true) and {op} removes or rewrites "
            "existing rows; UNSET the property first")


def _auto_compact_spec(
    configuration: Optional[dict[str, str]],
) -> Optional[tuple[int, int]]:
    """(min_files, target_file_size) when auto-compaction is on, else
    None.  Malformed numbers raise — at SET time via set_properties,
    and pointedly at trigger time otherwise."""
    cfg = configuration or {}
    if str(cfg.get(_AUTOCOMPACT_KEY, "")).lower() != "true":
        return None
    try:
        min_files = int(cfg.get(_AUTOCOMPACT_MINFILES_KEY, 50))
        target = int(cfg.get(_AUTOCOMPACT_TARGET_KEY, 128 * 1024 * 1024))
    except (TypeError, ValueError) as exc:
        raise ValueError(
            f"{_AUTOCOMPACT_MINFILES_KEY}/{_AUTOCOMPACT_TARGET_KEY} "
            f"must be integers: {exc}")
    if min_files < 2:
        raise ValueError(
            f"{_AUTOCOMPACT_MINFILES_KEY} must be >= 2, got {min_files}")
    if target < 1:
        raise ValueError(
            f"{_AUTOCOMPACT_TARGET_KEY} must be >= 1, got {target}")
    return min_files, target


def _bloom_columns(configuration: Optional[dict[str, str]]) -> dict[str, dict]:
    """Parse ``dds.bloomFilterColumns`` -> {column: {"fpp", "maxBits"}}.
    Raises on malformed specs so a bad property fails every write
    loudly instead of silently indexing nothing."""
    raw = (configuration or {}).get(_BLOOM_KEY)
    if not raw:
        return {}
    try:
        spec = json.loads(raw)
    except (TypeError, ValueError) as exc:
        raise ValueError(
            f"{_BLOOM_KEY} must be JSON {{column: {{fpp, maxBits}}}}, "
            f"got {raw!r}: {exc}")
    if not isinstance(spec, dict):
        raise ValueError(
            f"{_BLOOM_KEY} must be a JSON object keyed by column, "
            f"got {raw!r}")
    out: dict[str, dict] = {}
    for col, opts in spec.items():
        opts = opts or {}
        try:
            fpp = float(opts.get("fpp", _BLOOM_DEFAULT_FPP))
            max_bits = int(opts.get("maxBits", _BLOOM_DEFAULT_MAX_BITS))
        except (TypeError, ValueError) as exc:
            raise ValueError(
                f"{_BLOOM_KEY}[{col!r}] has non-numeric options: {exc}")
        if not 0.0 < fpp < 0.5:
            raise ValueError(
                f"{_BLOOM_KEY}[{col!r}].fpp must be in (0, 0.5), got {fpp}")
        if max_bits < 64:
            raise ValueError(
                f"{_BLOOM_KEY}[{col!r}].maxBits must be >= 64, got {max_bits}")
        out[col] = {"fpp": fpp, "maxBits": max_bits}
    return out


def _bloom_render(value: Any) -> Optional[str]:
    """Canonical string a value hashes under, or None for a value shape
    blooms do not index.  The one renderer of both sides: the harvest
    (``_footer_stats``) sets bits for it and the pruning probe
    (``_bloom_maybe_contains``) tests them."""
    if isinstance(value, bool):  # bool is an int subclass; not indexed
        return None
    if isinstance(value, int):
        return str(value)
    if isinstance(value, str):
        return value
    return None


def _bloom_hash(canonical: str) -> tuple[int, int]:
    """(h1, h2) double-hashing seeds of a canonical value.  Uncached:
    the harvest hashes every distinct value of a file once, and must
    not evict the probe literals ``_bloom_digest`` memoizes."""
    d = hashlib.md5(canonical.encode("utf-8")).digest()
    # odd h2: full-cycle stride
    return int.from_bytes(d[:8], "big"), int.from_bytes(d[8:], "big") | 1


@lru_cache(maxsize=4096)
def _bloom_digest(canonical: str) -> tuple[int, int]:
    """``_bloom_hash`` of a probe literal, memoized because the digest
    depends only on the LITERAL, while the driver pruning loop probes
    it against every candidate file (10k files x an in-list would
    otherwise md5 the same values 10k times)."""
    return _bloom_hash(canonical)


def _bloom_maybe_contains(entry: dict, value: Any, dtype: DataType) -> bool:
    """Probe one file's bloom entry. True = cannot rule the value out
    (including every unsupported/undecodable case — soundness means
    only a definite miss skips)."""
    if not isinstance(dtype, _BLOOM_SUPPORTED_TYPES):
        return True
    canonical = _bloom_render(value)
    if canonical is None:
        return True
    try:
        bits = base64.b64decode(entry["b64"])
        m = int(entry["m"])
        k = int(entry["k"])
    except (KeyError, TypeError, ValueError):
        return True  # undecodable entry -> no skip
    if m <= 0 or k <= 0 or len(bits) * 8 < m:
        return True
    h1, h2 = _bloom_digest(canonical)
    for i in range(k):
        pos = (h1 + i * h2) % m
        if not (bits[pos >> 3] >> (pos & 7)) & 1:
            return False
    return True


def _not_null_columns(configuration: dict[str, str]) -> list[str]:
    raw = (configuration or {}).get(_NOTNULL_KEY)
    return _json_loads(raw) if raw else []


def _identity_columns(configuration: dict[str, str]) -> dict[str, dict]:
    raw = (configuration or {}).get(_IDENTITY_KEY)
    return _json_loads(raw) if raw else {}


def _identity_next_key(col: str) -> str:
    return f"dds.identity.{col}.next"


def _plan_is_materialized(df: DataFrame) -> bool:
    """True when the frame's analyzed plan is already a materialized
    scan (LogicalRDD from a localCheckpoint, or a LocalRelation),
    possibly under narrow Project/Filter wrappers — re-evaluating such
    a plan is cheap, and a second localCheckpoint would only copy the
    rows again.  Used by merge() to materialize its source exactly
    once (callers like the CDC replication sink already hand over a
    checkpointed frame)."""
    try:
        p = df._jdf.queryExecution().analyzed()
        while (p.nodeName() in ("Project", "Filter", "SubqueryAlias")
               and p.children().size() == 1):
            p = p.children().apply(0)
        return p.nodeName() in ("LogicalRDD", "LocalRelation")
    except Exception:
        return False


#: logical-plan node names whose re-evaluation is NOT scan-cheap — a
#: merge source containing any of these is materialized once instead
#: of being re-derived per consumer pass
_EXPENSIVE_PLAN_NODES = (
    "Join", "Aggregate", "Window", "Generate", "Distinct",
    "Deduplicate", "Sort", "Union", "Intersect", "Except",
    "MapInPandas", "MapInArrow", "PythonMapInArrow", "FlatMapGroups",
    "Repartition", "MapElements",
)


def _plan_is_expensive(df: DataFrame) -> bool:
    """True when the frame's analyzed plan contains a wide or
    Python-boundary operator (``_EXPENSIVE_PLAN_NODES``) — i.e. when
    re-running the plan once per merge pass costs real work beyond a
    rescan.  A plain scan + projections/filters re-evaluates about as
    cheaply as a materialized copy reads back (A/B'd at parity in
    r16), so those skip the checkpoint."""
    try:
        s = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return True  # unknown plan: materialize defensively
    return any(n in s for n in _EXPENSIVE_PLAN_NODES)


def _assign_identity(
    df: DataFrame, col: str, spec: dict, configuration: dict[str, str]
) -> tuple[DataFrame, Optional[str], int]:
    """Assign dense identity values ``next, next+step, ...`` to every
    row.  The batch is pinned with localCheckpoint (the count pass and
    the staged write must see identical row placement), per-partition
    counts (bounded by the batch's partition count, never its rows)
    prefix-sum on the driver, and each row's value is
    ``next + (offset[pid] + local_index) * step`` — the local index
    recovered from ``monotonically_increasing_id``'s low 33 bits, all
    codegen'd, no shuffle.  Returns (df_with_ids, the configuration
    value the allocation assumed (None on first allocation), the new
    next value)."""
    start = int(spec.get("start", 1))
    step = int(spec.get("step", 1))
    if step == 0:
        raise ValueError(f"identity column {col}: step must be nonzero")
    assumed = (configuration or {}).get(_identity_next_key(col))
    nxt = int(assumed) if assumed is not None else start
    df = df.localCheckpoint(eager=True)
    counts = sorted(
        (r["_pid"], r["count"])
        for r in df.groupBy(
            F.spark_partition_id().alias("_pid")).count().collect()
    )
    offsets, acc = [], 0
    for pid, n in counts:
        offsets.append((pid, acc))
        acc += n
    omap = (
        F.create_map(*[F.lit(x) for kv in offsets for x in kv])
        if offsets else F.create_map()
    )
    local = F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
    out = df.withColumn(
        col,
        (F.lit(nxt)
         + (omap[F.spark_partition_id()] + local) * F.lit(step)
         ).cast("long"),
    )
    return out, assumed, nxt + acc * step


def _generated_columns(configuration: dict[str, str]) -> dict[str, str]:
    raw = (configuration or {}).get(_GENCOL_KEY)
    return _json_loads(raw) if raw else {}


def _column_defaults(configuration: dict[str, str]) -> dict[str, str]:
    raw = (configuration or {}).get(_COLDEFAULT_KEY)
    return _json_loads(raw) if raw else {}


#: int-class widening order for delta.typeWidening validation
_INT_WIDENING_ORDER = {"byte": 0, "short": 1, "integer": 2, "long": 3}
_TW_DECIMAL_RE = re.compile(r"^decimal\((\d+),\s*(-?\d+)\)$")


def _validate_type_widening(col: str, records: Any) -> None:
    """Refuse ``delta.typeWidening`` promotions outside the classes
    this engine's parquet reads are VERIFIED to perform (int-class
    ups, int→double, float→double, decimal precision/scale widening
    with a non-shrinking integer part).  A spec-legal-but-unverified
    pair (int→decimal, date→timestampNtz) must refuse AT CONVERT —
    accepting and crashing at first read would violate the
    pointed-refusal contract (and the commit would already have
    mutated the source dir)."""
    if not isinstance(records, list):
        raise ValueError(
            f"column {col!r}: delta.typeWidening metadata is not the "
            f"spec's record list ({type(records).__name__})")
    for rec in records:
        frm = str((rec or {}).get("fromType", ""))
        to = str((rec or {}).get("toType", ""))
        ok = False
        if frm in _INT_WIDENING_ORDER and to in _INT_WIDENING_ORDER:
            ok = _INT_WIDENING_ORDER[frm] < _INT_WIDENING_ORDER[to]
        elif frm in _INT_WIDENING_ORDER and to == "double":
            ok = True
        elif frm == "float" and to == "double":
            ok = True
        else:
            mf = _TW_DECIMAL_RE.match(frm)
            mt = _TW_DECIMAL_RE.match(to)
            if mf and mt:
                pf, sf = int(mf[1]), int(mf[2])
                pt, st = int(mt[1]), int(mt[2])
                ok = (pt >= pf and st >= sf
                      and (pt - st) >= (pf - sf))
        if not ok:
            raise ValueError(
                f"column {col!r} records a type widening "
                f"{frm!r} -> {to!r} this engine's reads are not "
                "verified to perform; refusing at convert rather "
                "than misreading (or crashing) at first scan")


def _hive_layout(rel: str) -> dict[str, Optional[str]]:
    """Partition values a relative file path's hive directory
    components encode ({col: value}, __HIVE_DEFAULT_PARTITION__ →
    None) — ONE parser for every layout-agreement check (head-state
    convert validation and the history replay must stay in
    lockstep)."""
    layout: dict[str, Optional[str]] = {}
    for comp in rel.replace(os.sep, "/").split("/")[:-1]:
        k, eq, val = comp.partition("=")
        if eq:
            layout[k] = (None if val == HIVE_DEFAULT_PARTITION
                         else unquote(val))
    return layout


def _column_mapping(configuration: dict[str, str]) -> dict[str, str]:
    raw = configuration.get(_COLMAP_KEY)
    return _json_loads(raw) if raw else {}


def _physical_schema(schema: StructType, mapping: dict[str, str]) -> StructType:
    return StructType([
        StructField(mapping.get(f.name, f.name), f.dataType, f.nullable)
        for f in schema.fields
    ])


def _evolve_mapping(
    configuration: dict[str, str], schema: StructType
) -> tuple[dict[str, str], dict[str, str]]:
    """Column-mapping entries for a write against ``schema``: existing
    entries pass through, and a NEW column whose name collides with a
    RESERVED physical (a renamed-away original or a dropped column's
    physical) gets a fresh unique physical — writing it under the
    colliding name would silently resurrect the old column's file
    data.  Returns (mapping for staging, configuration updates to
    persist).  Unmapped tables return ({}, {}) — the zero-overhead
    fast path."""
    mapping = _column_mapping(configuration)
    dropped = set(_json_loads(configuration.get(_DROPPED_KEY) or "[]"))
    if not mapping and not dropped:
        return {}, {}
    reserved = set(mapping.values()) | dropped
    out = dict(mapping)
    changed = False
    for f in schema.fields:
        if f.name in out or f.name not in reserved:
            continue
        fresh = f"{f.name}_{uuid.uuid4().hex[:8]}"
        while fresh in reserved:
            fresh = f"{f.name}_{uuid.uuid4().hex[:8]}"
        out[f.name] = fresh
        reserved.add(fresh)
        changed = True
    updates = (
        {_COLMAP_KEY: json.dumps(out, sort_keys=True)} if changed else {}
    )
    return out, updates


def _file_matches(
    add: AddFile,
    dnf: Sequence[DnfFilter],
    schema: StructType,
    partition_columns: Sequence[str],
    mapping: Optional[dict[str, str]] = None,
    use_bloom: bool = True,
) -> bool:
    """Driver-side file pruning: exact partition-value match plus
    min/max data skipping (the Spark-side analogue of Delta data
    skipping; reference relies on delta-rs for this), plus per-file
    BLOOM probes for ``=`` / ``in`` predicates on columns declared in
    ``dds.bloomFilterColumns`` (``use_bloom=False`` measures what
    min/max alone would keep).  ``mapping`` translates logical DNF
    column names to the PHYSICAL names footer stats are keyed by
    (partition columns refuse renames, so their branch never needs
    it)."""
    fields = {f.name: f.dataType for f in schema.fields}
    for name, op, value in dnf:
        dtype = fields.get(name)
        if dtype is None:
            continue
        if op == "in":
            value = [_coerce_dnf_literal(v, dtype) for v in list(value)]
        else:
            value = _coerce_dnf_literal(value, dtype)
        if name in partition_columns:
            pv = _parse_typed(add.partition_values.get(name), dtype)
            if pv is None:
                return False
            if op == "=" and not pv == value:
                return False
            if op == "in" and pv not in list(value):
                return False
            if op == ">=" and not pv >= value:
                return False
            if op == ">" and not pv > value:
                return False
            if op == "<" and not pv < value:
                return False
            if op == "<=" and not pv <= value:
                return False
        else:
            mins = add.stats.get("minValues", {})
            maxs = add.stats.get("maxValues", {})
            pname = mapping.get(name, name) if mapping else name
            bloom = (add.stats.get("bloom") or {}).get(pname) \
                if use_bloom else None
            if bloom is not None and op == "=":
                if not _bloom_maybe_contains(bloom, value, dtype):
                    return False
            if bloom is not None and op == "in":
                if not any(_bloom_maybe_contains(bloom, v, dtype)
                           for v in list(value)):
                    return False
            lo = _coerce_stat(mins.get(pname), dtype)
            hi = _coerce_stat(maxs.get(pname), dtype)
            if lo is None or hi is None:
                continue  # no stats -> cannot prune
            if op == "=" and (value < lo or value > hi):
                return False
            if op == "in" and all(v < lo or v > hi for v in list(value)):
                return False
            if op == ">=" and hi < value:
                return False
            if op == ">" and hi <= value:
                return False
            if op == "<" and lo >= value:
                return False
            if op == "<=" and lo > value:
                return False
    return True


_MERGE_EQ_RE = re.compile(r"^(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)$")


def _strip_balanced_parens(s: str) -> str:
    """Strip outer parens only while they wrap the WHOLE fragment.  A
    fragment like ``t.y = s.y)`` (produced by splitting inside a group)
    keeps its dangling paren and will not parse as an equality."""
    s = s.strip()
    while s.startswith("(") and s.endswith(")"):
        depth = 0
        for i, ch in enumerate(s):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0 and i != len(s) - 1:
                    return s  # closes before the end: not a full wrap
        s = s[1:-1].strip()
    return s


def _merge_equi_keys(
    predicate: str, target_alias: str, source_alias: str
) -> list[tuple[str, str]]:
    """(target_col, source_col) pairs from the predicate's top-level
    equality conjuncts — the keys merge discovery can data-skip on.
    Conservative by construction: OR or NOT anywhere disables
    extraction (an equality under NOT means out-of-range rows DO
    match), a fragment with unbalanced parens (split inside a group)
    never parses, and non-equality conjuncts are ignored (they only
    narrow the match set further, so skipping on the equality keys
    alone still yields a superset of the touched files)."""
    if re.search(r"\bor\b|\bnot\b|!", predicate, re.IGNORECASE):
        return []
    pairs = []
    for part in re.split(r"\band\b",
                         _strip_balanced_parens(predicate),
                         flags=re.IGNORECASE):
        m = _MERGE_EQ_RE.match(_strip_balanced_parens(part))
        if not m:
            continue
        a1, c1, a2, c2 = m.groups()
        if {a1, a2} == {target_alias, source_alias}:
            pairs.append((c1, c2) if a1 == target_alias else (c2, c1))
    return pairs


#: sentinel: a token that did not parse as a plain SQL literal
_NO_LITERAL = object()

_DML_NUM_RE = re.compile(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$")
_DML_STR_RE = re.compile(r"^'(?:[^']|'')*'$", re.S)
_DML_TYPED_RE = re.compile(
    r"^(?:date|timestamp)\s+('(?:[^']|'')*')$", re.I | re.S)
_DML_CMP_RE = re.compile(r"^(\w+)\s*(=|<=|>=|<|>)\s*(.+)$", re.S)
_DML_IN_RE = re.compile(r"^(\w+)\s+in\s*\((.+)\)$", re.I | re.S)


def _blank_string_literals(s: str) -> Optional[str]:
    """``s`` with every quoted string literal replaced by a space, so
    keyword guards never trigger on (or miss because of) literal
    content.  None on an unterminated quote — malformed for our
    purposes; callers skip extraction."""
    out = []
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch in ("'", '"'):
            q = ch
            i += 1
            while i < n:
                if s[i] == q:
                    if q == "'" and i + 1 < n and s[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
            if i >= n:
                return None
            out.append(" ")
            i += 1
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def _top_level_split(s: str, sep: str) -> Optional[list[str]]:
    """Split ``s`` on top-level occurrences of ``sep`` — an alphabetic
    keyword (case-insensitive, word-bounded) or a single character —
    ignoring content inside string literals and parenthesized groups.
    None on an unterminated quote."""
    parts: list[str] = []
    depth, start, i, n = 0, 0, 0, len(s)
    word = sep.isalpha()
    low = s.lower()
    while i < n:
        ch = s[i]
        if ch in ("'", '"'):
            q = ch
            i += 1
            while i < n:
                if s[i] == q:
                    if q == "'" and i + 1 < n and s[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
            if i >= n:
                return None
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            if word:
                if (low.startswith(sep, i)
                        and (i == 0
                             or not (s[i - 1].isalnum() or s[i - 1] == "_"))
                        and (i + len(sep) >= n
                             or not (s[i + len(sep)].isalnum()
                                     or s[i + len(sep)] == "_"))):
                    parts.append(s[start:i])
                    i += len(sep)
                    start = i
                    continue
            elif ch == sep:
                parts.append(s[start:i])
                start = i + 1
        i += 1
    parts.append(s[start:])
    return parts


def _parse_sql_literal(tok: str) -> Any:
    """A plain SQL literal as a Python value, or ``_NO_LITERAL``.
    Handles quoted strings (with ``''`` escapes), ``DATE``/
    ``TIMESTAMP`` typed literals (the string payload — the DNF
    coercion parses it against the column type), numbers, and
    booleans.  Column references, expressions, and anything else
    deliberately fail."""
    tok = tok.strip()
    m = _DML_TYPED_RE.match(tok)
    if m:
        tok = m.group(1)
    if _DML_STR_RE.match(tok):
        return tok[1:-1].replace("''", "'")
    if _DML_NUM_RE.match(tok):
        try:
            return int(tok)
        except ValueError:
            return float(tok)
    low = tok.lower()
    if low == "true":
        return True
    if low == "false":
        return False
    return _NO_LITERAL


def _prunable_literal(value, dtype: DataType) -> bool:
    """Type-class compatibility gate for DML pruning conjuncts: the
    pruner's stats/bloom/partition comparisons run in the COLUMN's
    type, so a literal is only prunable when SQL would compare in
    that same type.  A string literal casts to any column type (the
    SQL rule — ``_coerce_dnf_literal`` validates the parse); a
    numeric literal may prune only numeric columns (Spark evaluates
    ``string_col = 5`` by casting the STRING side to a number, while
    the pruner would compare ``str(5)`` lexicographically against
    string stats — a file holding '05' would be pruned as a definite
    miss and the matching row would silently survive a DELETE); a
    boolean literal only boolean columns."""
    if isinstance(value, bool):
        return isinstance(dtype, BooleanType)
    if isinstance(value, str):
        return True
    if isinstance(value, (int, float)):
        return isinstance(dtype, NumericType)
    return False


def _predicate_prune_dnf(
    predicate: Optional[str], schema: StructType
) -> list[DnfFilter]:
    """Conservative file-pruning conjuncts extracted from a row-level
    DML predicate: top-level AND'ed ``col = lit`` / ``col IN (...)`` /
    range comparisons against plain literals become DnfFilters that
    feed the SAME driver-side pruner the read path uses
    (``pruned_files`` → partition values, min/max stats, per-file
    blooms) BEFORE the DML discovery scan — a point DELETE on a
    bloom-indexed key then scans only the files that might hold the
    key instead of every live file (Delta's DML data skipping).

    Soundness rules (same school as ``_merge_equi_keys``): dropping a
    conjunct only WIDENS the candidate set, so every unparsable
    fragment is simply ignored; ``OR``/``NOT``/``!``/``<>`` outside
    string literals, or any backslash (escape-sequence ambiguity),
    disables extraction entirely (a negated comparison DOES match
    out-of-stats rows); literals whose TYPE CLASS doesn't match the
    column's are skipped (``_prunable_literal`` — SQL compares
    ``string_col = 5`` numerically while stats compare as strings),
    as are literals that don't coerce to the column type
    (ANSI errors row-side; pruning must not pre-empt
    that); names not matching a schema field exactly fall through to
    ``_file_matches``' own skip-unknown rule.  Extraction can never
    error — its result only ever SHRINKS the discovery scan."""
    if not predicate:
        return []
    if "\\" in predicate:
        return []
    blanked = _blank_string_literals(predicate)
    if blanked is None:
        return []
    if re.search(r"\bor\b|\bnot\b|!|<>", blanked, re.I):
        return []
    parts = _top_level_split(predicate, "and")
    if parts is None:
        return []
    fields = {f.name: f.dataType for f in schema.fields}
    out: list[DnfFilter] = []
    for raw in parts:
        frag = _strip_balanced_parens(raw)
        m = _DML_IN_RE.match(frag)
        if m:
            name, body = m.group(1), m.group(2)
            dtype = fields.get(name)
            toks = _top_level_split(body, ",")
            if dtype is None or toks is None:
                continue
            vals = [_parse_sql_literal(t) for t in toks]
            if not vals or any(v is _NO_LITERAL for v in vals):
                continue
            if not all(_prunable_literal(v, dtype) for v in vals):
                continue
            try:
                for v in vals:
                    _coerce_dnf_literal(v, dtype)
            except ValueError:
                continue
            out.append((name, "in", vals))
            continue
        m = _DML_CMP_RE.match(frag)
        if m:
            name, op, rest = m.groups()
            dtype = fields.get(name)
            val = _parse_sql_literal(rest)
            if dtype is None or val is _NO_LITERAL:
                continue
            if not _prunable_literal(val, dtype):
                continue
            try:
                _coerce_dnf_literal(val, dtype)
            except ValueError:
                continue
            out.append((name, op, val))
    return out


def _render_stat(value: Any) -> Any:
    """The stored rendering of one footer min/max value, or None when
    the value is not representable (bytes, long strings, NaN) —
    ``_parse_typed``/``_coerce_stat`` must keep round-tripping every
    shape this emits."""
    if isinstance(value, datetime):
        # pyarrow yields TZ-AWARE datetimes for INT64 timestamp columns
        # (isAdjustedToUTC) — normalize to naive UTC so the stored
        # rendering matches what _parse_typed reads back (timestamps
        # stage as INT64 micros)
        if value.tzinfo is not None:
            value = value.astimezone(timezone.utc).replace(tzinfo=None)
        return value.isoformat(sep=" ")
    if isinstance(value, date):
        return value.isoformat()
    if isinstance(value, Decimal):
        # json.dumps rejects Decimal; stringify and let _parse_typed's
        # DecimalType branch parse it back
        return str(value)
    if isinstance(value, bytes):
        return None
    if isinstance(value, str) and len(value) > _STATS_MAX_STRING:
        return None
    if isinstance(value, float) and value != value:  # NaN
        return None
    return value


def _footer_stats(
    abs_path: str, bloom_phys: Optional[dict[str, dict]] = None,
) -> tuple[int, dict]:
    """(numRecords, stats) of one parquet file: per-column
    min/max/nullCount from the footer (row-group metadata only — no
    data read).  ``bloom_phys`` ({physical column: {"fpp", "maxBits"}})
    additionally builds per-file BLOOM bitmaps from those columns'
    distinct values (one column read each — the only part that touches
    data, and a just-staged file is page-hot)."""
    import pyarrow.compute as pc_
    import pyarrow.parquet as pq_

    pf = pq_.ParquetFile(abs_path)
    md = pf.metadata
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    names = [md.schema.column(i).name for i in range(md.num_columns)]
    for i, name in enumerate(names):
        col_min = None
        col_max = None
        col_nulls = 0
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(i).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            col_nulls += st.null_count or 0
            try:
                mn, mx = st.min, st.max
            except NotImplementedError:
                # pyarrow (16.x) cannot extract min/max for some
                # logical types — DECIMAL columns raise
                # ArrowNotImplementedError (a NotImplementedError
                # subclass) even with has_min_max=True.  Degrade to no
                # min/max for the column: costs file skipping, never
                # correctness — and never crashes the write that
                # staged the data.
                ok = False
                break
            # fold on RAW values (_render_stat may stringify — e.g.
            # Decimal — and string comparison would mis-fold across row
            # groups); rendering only decides representability
            if _render_stat(mn) is None or _render_stat(mx) is None:
                ok = False
                break
            col_min = mn if col_min is None or mn < col_min else col_min
            col_max = mx if col_max is None or mx > col_max else col_max
        if ok and col_min is not None:
            mins[name] = _render_stat(col_min)
            maxs[name] = _render_stat(col_max)
            nulls[name] = col_nulls
    stats = {"minValues": mins, "maxValues": maxs, "nullCount": nulls}
    blooms: dict = {}
    for col, opts in (bloom_phys or {}).items():
        if col not in names:
            continue
        uniq = pc_.unique(
            pf.read(columns=[col]).column(0).combine_chunks()).to_pylist()
        rendered = [_bloom_render(v) for v in uniq if v is not None]
        if any(r is None for r in rendered):
            continue  # unsupported value shape -> no bloom, no skip
        n = max(1, len(rendered))
        m = int(math.ceil(-n * math.log(opts["fpp"]) / (math.log(2) ** 2)))
        m = ((max(64, min(m, opts["maxBits"])) + 7) // 8) * 8
        k = max(1, min(16, round(m / n * math.log(2))))
        buf = bytearray(m // 8)
        for r in rendered:
            h1, h2 = _bloom_hash(r)
            for j in range(k):
                pos = (h1 + j * h2) % m
                buf[pos >> 3] |= 1 << (pos & 7)
        blooms[col] = {
            "b64": base64.b64encode(bytes(buf)).decode("ascii"),
            "m": m,
            "k": k,
        }
    if blooms:
        stats["bloom"] = blooms
    return md.num_rows, stats


def _harvest_stats(
    paths: Sequence[str], bloom_phys: Optional[dict[str, dict]] = None,
) -> dict[str, tuple[int, dict]]:
    """Footer stats for every staged file, read serially on the driver:
    about 0.27 ms a footer on 4 vCPUs, so a Spark job's fixed ~2 s only
    pays past ~8,000 files a commit (docs/SCALE.md)."""
    return {p: _footer_stats(p, bloom_phys) for p in paths}


# ---------------------------------------------------------------------------
# staging: distributed parquet write -> AddFile actions
# ---------------------------------------------------------------------------


def _writer_options(
    writer_properties: Optional[dict[str, str]],
) -> Optional[dict[str, str]]:
    """W10: reference WriterProperties -> per-write DataFrameWriter
    options.  Per-write (not session confs): two managers sharing one
    SparkSession must not clobber each other's codec."""
    if not writer_properties:
        return None
    out: dict[str, str] = {}
    comp = writer_properties.get("compression")
    if comp:
        out["compression"] = comp.lower()
    mrpf = writer_properties.get("max_records_per_file")
    if mrpf:
        out["maxRecordsPerFile"] = str(mrpf)
    return out or None


def _stage_dataframe(
    df: DataFrame,
    table_uri: str,
    partition_columns: Sequence[str],
    schema: StructType,
    writer_options: Optional[dict[str, str]] = None,
    mapping: Optional[dict[str, str]] = None,
    bloom_spec: Optional[dict[str, dict]] = None,
) -> list[AddFile]:
    """Write ``df`` (the distributed part) into a staging dir inside the
    table, then move the parquet files into place and return their add
    actions.  File names carry a fresh UUID from Spark, so moves never
    collide and time travel keeps old files intact.

    ``mapping`` (column mapping, {logical: physical}): files are
    written under PHYSICAL column names so every file in the table —
    pre- and post-rename — carries the same physical layout and the
    read path's one aliasing projection recovers the logical view.

    ``bloom_spec`` ({LOGICAL column: {"fpp", "maxBits"}}, from
    ``dds.bloomFilterColumns``): the stats harvest builds per-file
    bloom bitmaps (keyed by PHYSICAL name, like min/max), and the
    parquet writer gets ``parquet.bloom.filter.enabled#col`` so the
    files carry native row-group blooms for the scan layer too."""
    if mapping:
        df = df.select([
            F.col(f.name).alias(mapping.get(f.name, f.name))
            for f in schema.fields
        ])
    bloom_phys = {
        (mapping.get(c, c) if mapping else c): opts
        for c, opts in (bloom_spec or {}).items()
    }
    staging = os.path.join(table_uri, f"_staging-{uuid.uuid4().hex}")
    # ENGINE CONVENTION (r14): timestamps stage as INT64 micros, not
    # Spark's legacy INT96 default.  INT96 is deprecated, carries no
    # usable footer statistics (pyarrow reports has_min_max=False →
    # the stats harvest stored NOTHING for timestamp columns, so
    # time-range predicates — the hottest predicate class on
    # time-series tables — never file-skipped), and every modern
    # Delta writer emits INT64.  Set-and-leave: the value is a
    # constant, so concurrent stagings in one session cannot clobber
    # each other with different values.
    df.sparkSession.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    writer = df.write.mode("overwrite")
    for k, v in (writer_options or {}).items():
        writer = writer.option(k, v)
    for c in bloom_phys:
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
    if partition_columns:
        writer = writer.partitionBy(*partition_columns)
    writer.parquet(staging)

    staged: list[tuple[str, str, str]] = []  # (src_path, rel_dir, filename)
    for dirpath, _dirnames, filenames in os.walk(staging):
        for fn in filenames:
            if not fn.endswith(".parquet"):
                continue
            rel_dir = os.path.relpath(dirpath, staging)
            staged.append((
                os.path.join(dirpath, fn),
                "" if rel_dir == "." else rel_dir,
                fn,
            ))

    stats_by_path = _harvest_stats([s[0] for s in staged], bloom_phys)

    adds: list[AddFile] = []
    now = int(time.time() * 1000)
    for src, rel_dir, fn in staged:
        num_rows, stats = stats_by_path[src]
        if num_rows == 0:
            continue
        rel = os.path.join(rel_dir, fn)
        dest_dir = os.path.join(table_uri, rel_dir)
        os.makedirs(dest_dir, exist_ok=True)
        size = os.path.getsize(src)
        os.replace(src, os.path.join(table_uri, rel))
        adds.append(AddFile(
            path=rel,
            size=size,
            num_records=num_rows,
            partition_values=_hive_layout(rel),
            stats=stats,
            modification_time=now,
        ))
    shutil.rmtree(staging, ignore_errors=True)
    return adds


def _schemas_equivalent(a: StructType, b: StructType) -> bool:
    fa = {f.name: f.dataType.simpleString() for f in a.fields}
    fb = {f.name: f.dataType.simpleString() for f in b.fields}
    return fa == fb


def _merge_schemas(table_schema: StructType, df_schema: StructType) -> StructType:
    """mergeSchema semantics: table columns keep position/type; new df
    columns are appended.  Type conflicts raise."""
    fields = list(table_schema.fields)
    have = {f.name: f.dataType.simpleString() for f in fields}
    for f in df_schema.fields:
        if f.name in have:
            if f.dataType.simpleString() != have[f.name]:
                raise SchemaMismatchError(
                    f"column {f.name!r}: table type {have[f.name]} != "
                    f"incoming {f.dataType.simpleString()}"
                )
        else:
            fields.append(f)
    return StructType(fields)


def _sql_type(dt: DataType) -> str:
    """``dt`` as a SQL type, with struct field names quoted."""
    if isinstance(dt, StructType):
        return "struct<" + ",".join(
            f"{sql_ident(f.name)}:{_sql_type(f.dataType)}" for f in dt.fields
        ) + ">"
    if isinstance(dt, ArrayType):
        return f"array<{_sql_type(dt.elementType)}>"
    if isinstance(dt, MapType):
        return f"map<{_sql_type(dt.keyType)},{_sql_type(dt.valueType)}>"
    return dt.simpleString()


def _conform(df: DataFrame, schema: StructType) -> DataFrame:
    """Project ``df`` onto ``schema`` order, null-filling absent columns."""
    have = set(df.columns)
    return df.selectExpr(*[
        sql_ident(f.name) if f.name in have
        else f"CAST(NULL AS {_sql_type(f.dataType)}) AS {sql_ident(f.name)}"
        for f in schema.fields
    ])


# -- optimistic transaction -----------------------------------------------------

#: A declared conflict check: called on every commit attempt with
#: ``(read, fresh)`` -- the snapshot the operation planned against and
#: the head it is about to commit on top of (each None while there is
#: no table) -- and raises to abort the commit.
Check = Callable[[Optional[Snapshot], Optional[Snapshot]], None]


class CommitSkipped(Exception):
    """Raised by a check when the fresh head already holds this
    operation's effect (a replayed micro-batch; ``WriteMode.ignore``
    on a table created meanwhile).  Nothing is committed."""

    def __init__(self, fresh: Snapshot):
        super().__init__(f"already committed as of version {fresh.version}")
        self.fresh = fresh


def _head_snapshot(table_uri: str) -> Optional[Snapshot]:
    """The head snapshot, or None when there is no table: one log
    listing (``load_snapshot`` lists the log to find its head)."""
    try:
        return tablelog.load_snapshot(table_uri)
    except TableNotFoundError:
        if tablelog.latest_version(table_uri) < 0:
            return None
        return tablelog.load_snapshot(table_uri)  # created meanwhile


class Transaction:
    """One optimistic commit, after Delta's OptimisticTransaction.

    ``read`` is the snapshot the operation planned against (None when
    it found no table).  The caller declares its conflict ``checks``
    and hands its staged files to :meth:`commit`.  Each attempt reads
    the head once, re-runs every check against it, folds removes
    before adds into the post-commit snapshot (carrying the txn ledger
    and protocol forward) and publishes head + 1 through
    ``tablelog.commit``.  A lost race backs off exponentially and
    tries again on the new head.  ``operationMetrics`` records
    ``executionTimeMs`` (since the transaction started) and
    ``attempts``."""

    def __init__(
        self,
        table_uri: str,
        read: Optional[Snapshot],
        operation: str,
        parameters: Optional[dict[str, Any]] = None,
        user_metadata: Optional[dict[str, str]] = None,
    ):
        if read is not None:
            # the writer-protocol gate runs at start, before the caller
            # stages a byte: a future-writer table must refuse up
            # front, not strand staged files per attempt
            # (tablelog.commit re-checks at publish time)
            tablelog.check_write_support(read.protocol, table_uri)
        self.table_uri = table_uri
        self.read = read
        self.operation = operation
        self.parameters = dict(parameters or {})
        self.user_metadata = user_metadata
        self.checks: list[Check] = []
        self.metrics: dict[str, Any] = {}
        self._started = time.monotonic()

    def commit(
        self,
        adds: Sequence[AddFile] = (),
        removes: Any = (),
        metadata: Any = None,
        *,
        metrics: Optional[dict[str, Any]] = None,
        txns: Optional[dict[str, int]] = None,
    ) -> Snapshot:
        """Publish and return the committed snapshot.  ``removes`` and
        ``metadata`` may be callables of the fresh head (None when
        there is no table): a full overwrite removes whatever is live
        at commit time, and a metadata change rebuilds on top of a
        concurrent writer's.  ``metadata=None`` keeps the head's
        metadata and writes no metaData action.  ``txns`` are
        SetTransaction entries, folded the way log replay folds
        them."""
        for attempt in range(_COMMIT_RETRIES + 1):
            fresh = _head_snapshot(self.table_uri)
            if fresh is None and self.read is not None:
                raise TableNotFoundError(
                    f"the table at {self.table_uri} was deleted during "
                    f"{self.operation}")
            for check in self.checks:
                check(self.read, fresh)
            rm = list(removes(fresh) if callable(removes) else removes)
            meta = metadata(fresh) if callable(metadata) else metadata
            version = fresh.version + 1 if fresh else 0
            now = int(time.time() * 1000)
            self.metrics = {
                **(metrics or {}),
                "num_added_files": len(adds),
                "num_removed_files": len(rm),
                "num_added_bytes": sum(a.size for a in adds),
                "num_removed_bytes": sum(r.size for r in rm),
                "executionTimeMs": int(
                    (time.monotonic() - self._started) * 1000),
                "attempts": attempt + 1,
            }
            actions: list[dict[str, Any]] = [CommitInfo(
                self.operation, self.parameters, self.metrics,
                self.user_metadata, now).to_action()]
            if meta is not None:
                actions.append(meta.to_action())
            actions += [{"txn": {"appId": k, "version": v}}
                        for k, v in sorted((txns or {}).items())]
            # removes BEFORE adds: log replay applies actions in order,
            # so a rewrite that re-adds a removed log_key (deletion
            # vectors re-add the same data file with a new DV) must not
            # have its add popped by its own remove
            actions += [r.remove_action(now) for r in rm]
            actions += [a.to_action() for a in adds]
            files = {a.log_key: a for a in (fresh.files if fresh else [])}
            for r in rm:
                files.pop(r.log_key, None)
            for a in adds:
                files[a.log_key] = a
            ledger = dict(fresh.app_versions) if fresh else {}
            for k, v in (txns or {}).items():
                ledger[k] = (v if k.startswith(tablelog.COPY_INTO_APP_PREFIX)
                             else max(ledger.get(k, -1), v))
            snap = Snapshot(version, meta or fresh.metadata,
                            list(files.values()), now, app_versions=ledger,
                            protocol=fresh.protocol if fresh
                            else tablelog.Protocol())
            try:
                tablelog.commit(self.table_uri, version, actions, snap)
                return snap
            except VersionConflictError:
                if attempt >= _COMMIT_RETRIES:
                    raise
                time.sleep(_COMMIT_BACKOFF_BASE * (2**attempt) + _jitter())
        raise AssertionError("unreachable")


def _table_absent(table_uri: str, mode: WriteMode) -> Check:
    """``WriteMode.error``/``ignore``: a table created since planning
    raises, or skips the write."""
    def check(read, fresh):
        if fresh is not None:
            if mode == WriteMode.ignore:
                raise CommitSkipped(fresh)
            raise TableExistsError(f"table already exists at {table_uri}")
    return check


def _not_append_only(table_uri: str, op: str) -> Check:
    """A concurrent SET dds.appendOnly=true must not race a
    row-removing commit past the freeze."""
    def check(read, fresh):
        if fresh is not None:
            _refuse_append_only(table_uri, fresh.metadata.configuration, op)
    return check


def _identity_marks_unchanged(assumed: dict[str, Optional[str]],
                              what: str) -> Check:
    """A concurrent writer that advanced an identity high-water mark
    invalidates this commit's allocation: the staged ids would
    duplicate the winner's.  Refuse (a rerun re-allocates) -- never
    mint duplicate ids."""
    def check(read, fresh):
        for ikey, iassumed in assumed.items():
            mark = fresh.metadata.configuration.get(ikey) if fresh else None
            if mark != iassumed:
                raise ConcurrentAppendError(
                    f"identity mark {ikey} advanced concurrently "
                    f"({iassumed} -> {mark}); rerun the {what} to "
                    "re-allocate ids")
    return check


def _copy_ledger_unchanged(expected: dict[str, Optional[int]]) -> Check:
    """A racing COPY INTO that loaded one of this write's source files
    between discovery and commit would land the file twice -- refuse;
    the rerun's discovery skips it (exactly-once per file)."""
    def check(read, fresh):
        for key, want in expected.items():
            got = fresh.app_versions.get(key) if fresh else None
            if got != want:
                raise ConcurrentAppendError(
                    f"copy_into source file ledger entry {key} changed "
                    f"concurrently ({want} -> {got}); rerun copy_into to "
                    "re-discover")
    return check


def _same_layout(pcols: Sequence[str],
                 schema: Optional[StructType] = None) -> Check:
    """Files staged under one partition layout (and, for the exact-
    schema streaming sink, one schema) must not be committed under
    another: a table created or repartitioned since planning refuses
    rather than publish rows that read back wrong or not at all."""
    def check(read, fresh):
        if fresh is None:
            return
        if list(fresh.partition_columns) != list(pcols):
            raise ConcurrentAppendError(
                f"the table's partition columns changed concurrently "
                f"({list(pcols)} staged, {list(fresh.partition_columns)} "
                "committed); rerun the write to restage")
        if schema is not None and (
                {f.name: f.dataType for f in schema.fields}
                != {f.name: f.dataType for f in StructType.fromJson(
                    _json_loads(fresh.schema_json)).fields}):
            raise ConcurrentAppendError(
                "the table's schema changed concurrently; rerun the "
                "write to restage")
    return check


def _removes_live(op: str, removes: Sequence[AddFile]) -> Check:
    """Every file this commit removes must still be live: committing
    over a concurrent removal would resurrect or lose rows (Delta's
    ConcurrentDeleteReadException)."""
    keys = {r.log_key for r in removes}

    def check(read, fresh):
        missing = keys - {a.log_key for a in fresh.files}
        if missing:
            raise ConcurrentDeleteError(
                f"{op}: {len(missing)} file(s) this commit replaces were "
                f"removed concurrently (e.g. {sorted(missing)[0]})")
    return check


def _appended_since(table_uri: str, read: Snapshot,
                    fresh: Snapshot) -> list[AddFile]:
    """Files added by the commits between ``read`` and ``fresh``,
    except compactions: OPTIMIZE re-adds existing rows under new paths
    (Delta's dataChange=false), so no new data arrived."""
    added: list[AddFile] = []
    for v in range(read.version + 1, fresh.version + 1):
        operation, adds_v = "", []
        for action in tablelog.read_version_actions(table_uri, v):
            if "commitInfo" in action:
                operation = action["commitInfo"].get("operation", "")
            elif "add" in action:
                adds_v.append(AddFile.from_action(action["add"]))
        if tablelog.classify_commit(operation) != "compaction":
            added += adds_v
    return added


def _commit_mapping(configuration: dict[str, str], schema: StructType,
                    staged: dict[str, str]) -> dict[str, str]:
    """The column mapping to commit for files staged under ``staged``,
    re-validated against the fresh ``configuration``: a concurrent
    RENAME/DROP (or a racing writer re-adding the same dropped name)
    can invalidate the physical names the files were written under.
    Staged assignments are pinned (the parquet files exist under those
    names); only conflicts raise."""
    base = _column_mapping(configuration)
    taken = set(base.values()) | set(_json_loads(
        configuration.get(_DROPPED_KEY) or "[]"))
    out = dict(base)
    for f in schema.fields:
        phys = staged.get(f.name, f.name)
        if f.name in base:
            if base[f.name] != phys:
                raise ConcurrentAppendError(
                    f"column mapping for {f.name!r} changed concurrently "
                    "(rename/drop or a racing re-add); rerun the write to "
                    "restage")
        elif phys != f.name:
            # staged under a minted physical: keep it, unless a
            # concurrent writer reserved it meanwhile
            if phys in taken:
                raise ConcurrentAppendError(
                    f"physical name {phys!r} was reserved concurrently; "
                    "rerun the write")
            out[f.name] = phys
            taken.add(phys)
        elif f.name in taken:
            # staged under the bare logical name, but a concurrent
            # drop/rename reserved that physical -- committing would
            # resurrect the old column's data
            raise ConcurrentAppendError(
                f"column {f.name!r}'s physical name was reserved "
                "concurrently (drop/rename raced this write); rerun the "
                "write to restage")
    return out


class DeltaSparkTable:
    """Handle to one transactional table (reference: ``DeltaTable``
    via delta-rs; here log + Spark)."""

    def __init__(self, spark: SparkSession, table_uri: str):
        self.spark = spark
        self.table_uri = str(table_uri)

    # -- existence / snapshots ------------------------------------------------

    def exists(self) -> bool:
        return tablelog.table_exists(self.table_uri)

    def version(self) -> int:
        return tablelog.latest_version(self.table_uri)

    def snapshot(self, version: Optional[int] = None) -> Snapshot:
        return tablelog.load_snapshot(self.table_uri, version)

    def schema(self, version: Optional[int] = None) -> StructType:
        return StructType.fromJson(_json_loads(self.snapshot(version).schema_json))

    def history(self, limit: Optional[int] = None) -> list[dict[str, Any]]:
        return tablelog.history(self.table_uri, limit)

    # -- read path (S1/S2/P5/PJ1) ---------------------------------------------

    def pruned_files(
        self, snap: Snapshot, dnf: Optional[Sequence[DnfFilter]],
        use_bloom: bool = True,
    ) -> list[AddFile]:
        """Files surviving driver-side pruning.  ``use_bloom=False``
        disables the per-file bloom probes — the what-would-min/max-
        alone-keep measurement the bloom entry's skipping guard uses."""
        if not dnf:
            return list(snap.files)
        schema = StructType.fromJson(_json_loads(snap.schema_json))
        return [
            a for a in snap.files
            if _file_matches(a, dnf, schema, snap.partition_columns,
                             _column_mapping(snap.metadata.configuration),
                             use_bloom=use_bloom)
        ]

    def _read_files(
        self,
        snap: Snapshot,
        files: Sequence[AddFile],
        with_metadata: bool = False,
    ) -> DataFrame:
        """Scan the given live files.  ``with_metadata=True`` prefixes
        ``__path``/``__ri`` columns from the hidden ``_metadata``
        struct — it must be projected per scan relation, BEFORE any
        union, because ``_metadata`` does not survive a Union node.

        Files carrying a DELETION VECTOR are filtered here — the one
        choke point every consumer (read, merge, DELETE/UPDATE
        discovery, CDC, OPTIMIZE, constraints) goes through, so a DV'd
        row is invisible everywhere at once.  The filter is a
        broadcast anti-join of (file, row_index) against the DV
        sidecar rows; files without DVs pay nothing.

        COLUMN MAPPING also resolves here: files are scanned under
        their (frozen) PHYSICAL schema and one final projection
        aliases physicals back to the snapshot's logical names — so
        every consumer sees logical columns, and a rename needs no
        file rewrite.  Unmapped tables skip the projection entirely."""
        schema = StructType.fromJson(_json_loads(snap.schema_json))
        mapping = _column_mapping(snap.metadata.configuration)
        read_schema = _physical_schema(schema, mapping) if mapping else schema
        if not files:
            if with_metadata:
                out_schema = StructType(
                    [StructField("__path", StringType()),
                     StructField("__ri", LongType())]
                    + list(schema.fields)
                )
                return self.spark.createDataFrame([], out_schema)
            return self.spark.createDataFrame([], schema)
        # group by root: table-local files resolve against table_uri,
        # shallow-cloned files against their source root (each group
        # needs its own basePath for hive partition-dir discovery —
        # one mixed-root read would reject paths outside basePath)
        by_root: dict[str, list[AddFile]] = {}
        for a in files:
            root = a.base or self.table_uri
            by_root.setdefault(root, []).append(a)
        frames = []
        for root, group in by_root.items():
            # DV'd files scan as their own relation so clean files
            # never pay the mask anti-join (overhead ∝ masked files,
            # not the whole root group)
            subgroups = [
                [a for a in group if not a.dv_path],
                [a for a in group if a.dv_path],
            ]
            for dv_sub, sub in zip((False, True), subgroups):
                if not sub:
                    continue
                reader = self.spark.read.schema(read_schema)
                if snap.partition_columns:
                    reader = reader.option("basePath", root)
                df = reader.parquet(
                    *[os.path.join(root, a.path) for a in sub])
                if with_metadata or dv_sub:
                    df = df.selectExpr(
                        "_metadata.file_path AS __path",
                        "_metadata.row_index AS __ri",
                        "*",
                    )
                if dv_sub:
                    df = self._apply_deletion_vectors(df, root, sub)
                    if not with_metadata:
                        df = df.drop("__path", "__ri")
                frames.append(df)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        if mapping:
            pre = ["__path", "__ri"] if with_metadata else []
            out = out.selectExpr(
                *pre,
                *[f"{sql_ident(mapping.get(f.name, f.name))} AS "
                  f"{sql_ident(f.name)}" for f in schema.fields],
            )
        return out

    #: characters that pass through Hadoop's Path->URI untouched — an
    #: abs path matching this renders as <probed prefix> + path verbatim
    _URI_SAFE = re.compile(r"^[A-Za-z0-9/._=-]+$")

    def _probed_uri_prefix(self, sample_file: str) -> Optional[str]:
        """What ``_metadata.file_path`` prepends to an absolute local
        path (e.g. ``file://``), probed ONCE per session with a
        single-row scan and cached — lets the DV anti-join use the raw
        ``__path`` string instead of normalizing it per row (measured
        11 s/12M rows for the url_decode+regexp normalization, vs zero
        for a constant-prefix mapping).  None when the runtime format
        is not prefix+path (fall back to the normalizing plan)."""
        cache = _URI_PREFIX_CACHE
        key = self.spark.sparkContext.applicationId
        if key in cache:
            return cache[key]
        row = (
            self.spark.read.parquet(sample_file)
            .select(F.col("_metadata.file_path").alias("p")).head(1)
        )
        prefix: Optional[str] = None
        if row:
            uri, abs_p = row[0]["p"], os.path.abspath(sample_file)
            if uri.endswith(abs_p):
                prefix = uri[: len(uri) - len(abs_p)]
        cache[key] = prefix
        return prefix

    def _apply_deletion_vectors(
        self, df: DataFrame, root: str, dv_group: Sequence[AddFile]
    ) -> DataFrame:
        """Anti-join the scan (already carrying ``__path``/``__ri``)
        against the group's DV sidecar rows.

        Path identity: ``_metadata.file_path`` is a (possibly
        percent-encoded) file URI.  Fast path: the runtime URI is a
        constant prefix + the absolute path (probed once per session),
        so the MAPPING side renders the exact runtime string and the
        scan side joins on raw ``__path`` — no per-row computation.
        Paths with URI-encodable characters (or a non-prefix runtime
        format) fall back to per-row normalization, the Spark twin of
        the ``unquote(urlparse(p).path)`` rule ``_scanned_files``
        uses.  The mapping frame is one row per DV'd file and the DV
        rows are bounded by ``sum(dv_count)`` — both broadcast-sized
        by construction."""
        dv_paths = sorted({
            os.path.join(a.dv_base or self.table_uri, a.dv_path)
            for a in dv_group
        })
        # sidecar rows key on (root, path) — the data file's identity
        # that survives CLONING (a clone re-keys log_key with its base,
        # but the file's owning root + relative path never change)
        pos = self.spark.read.parquet(*dv_paths)
        return self._join_positions(df, dv_group, pos, "left_anti")

    def _join_positions(
        self,
        df: DataFrame,
        files: Sequence[AddFile],
        pos: DataFrame,
        how: str,
    ) -> DataFrame:
        """Join a ``__path``/``__ri``-bearing scan of ``files`` against
        a ``(root, path, row_index)`` position frame: ``left_anti``
        MASKS the positions (deletion vectors), ``inner`` SELECTS
        exactly those rows (the row-level CDC feed).  Shares the
        probed-URI-prefix fast path / normalization fallback with the
        DV read (see class docstring of the caller)."""
        abs_by_file = [
            (os.path.abspath(a.base or self.table_uri), a.path,
             os.path.abspath(os.path.join(
                 a.base or self.table_uri, a.path)))
            for a in files
        ]
        prefix = (
            self._probed_uri_prefix(abs_by_file[0][2])
            if all(self._URI_SAFE.match(p) for _, _, p in abs_by_file)
            else None
        )
        if prefix is not None:
            mapping = self.spark.createDataFrame(
                [(r, p, prefix + ab) for r, p, ab in abs_by_file],
                "root string, path string, __path string",
            )
            keyed = (
                pos.join(F.broadcast(mapping), ["root", "path"])
                .select("__path", F.col("row_index").alias("__ri"))
            )
            return df.join(F.broadcast(keyed), ["__path", "__ri"], how)
        mapping = self.spark.createDataFrame(
            abs_by_file, "root string, path string, __norm string")
        keyed = (
            pos.join(F.broadcast(mapping), ["root", "path"])
            .select("__norm", F.col("row_index").alias("__ri"))
        )
        return (
            df.withColumn(
                # protect literal '+' before url_decode (which would
                # form-decode it to a space; percent-escapes pass
                # through untouched) — exactly Python unquote semantics
                "__norm",
                F.expr("regexp_replace(url_decode(replace(__path, '+', "
                       "'%2B')), '^file:/*', '/')"),
            )
            .join(F.broadcast(keyed), ["__norm", "__ri"], how)
            .drop("__norm")
        )

    def version_as_of(self, timestamp) -> int:
        """Latest committed version whose commit timestamp is at or
        before ``timestamp`` — the delta-rs ``load_with_datetime``
        resolution rule, over log metadata only (no data reads).
        ``timestamp`` is a ``datetime`` (naive means UTC) or epoch
        milliseconds.  Raises if the table's first commit is later."""
        from datetime import timezone

        if isinstance(timestamp, datetime):
            ts = timestamp
            if ts.tzinfo is None:
                ts = ts.replace(tzinfo=timezone.utc)
            ts_ms = int(ts.timestamp() * 1000)
        else:
            ts_ms = int(timestamp)
        best = -1
        earliest = None
        for info in tablelog.history(self.table_uri):
            t = int(info.get("timestamp", 0))
            earliest = t if earliest is None else min(earliest, t)
            if t <= ts_ms and info["version"] > best:
                best = info["version"]
        if best < 0:
            raise ValueError(
                f"no commit at or before {timestamp!r} "
                f"(earliest commit timestamp is {earliest} ms)"
            )
        return best

    def read(
        self,
        version: Optional[int] = None,
        columns: Optional[Sequence[str]] = None,
        dnf: Optional[Sequence[DnfFilter]] = None,
        *,
        timestamp_as_of=None,
    ) -> DataFrame:
        """Lazy scan with log-driven file pruning + pushed-down residual
        predicate + column projection (reference S1/S2, handler.py:519-551,
        293-317).  ``timestamp_as_of`` resolves to a version via
        ``version_as_of`` (timestamp-based time travel, the delta-rs
        ``load_with_datetime`` counterpart to the reference's
        version-only dial)."""
        if timestamp_as_of is not None:
            if version is not None:
                raise ValueError(
                    "pass version or timestamp_as_of, not both"
                )
            version = self.version_as_of(timestamp_as_of)
        snap = self.snapshot(version)
        files = self.pruned_files(snap, dnf)
        df = self._read_files(snap, files)
        if dnf:
            df = df.where(dnf_to_column(dnf))
        if columns:
            df = df.select(*columns)
        return df

    def to_df(self) -> DataFrame:
        return self.read()

    def _newly_masked_rows(
        self,
        snap: Snapshot,
        re_adds: list[AddFile],
        prev_by_key: dict[str, AddFile],
    ) -> DataFrame:
        """The rows a DV commit newly masked: this commit's sidecar
        positions minus the pre-commit sidecar positions (sidecars
        carry the full union mask), read back from the untouched data
        files — the exact row-level DELETE/preimage feed.  Cost ∝ the
        masked files' rows, never the table."""
        fk = self.spark.createDataFrame(
            [(os.path.abspath(a.base or self.table_uri), a.path)
             for a in re_adds],
            "root string, path string")
        new_paths = sorted({
            os.path.join(a.dv_base or self.table_uri, a.dv_path)
            for a in re_adds
        })
        olds = [
            prev_by_key[a.log_key] for a in re_adds
            if a.log_key in prev_by_key and prev_by_key[a.log_key].dv_path
        ]
        old_paths = sorted({
            os.path.join(a.dv_base or self.table_uri, a.dv_path)
            for a in olds
        })
        gone = [p for p in (*new_paths, *old_paths)
                if not os.path.exists(p)]
        if gone:
            raise ValueError(
                f"row-level decode needs {len(gone)} deletion-vector "
                f"sidecar(s) no longer on disk (vacuumed past "
                f"retention?): {gone[:3]} — read() the snapshot for a "
                "backfill and resume the feed from a later version"
            )
        pos = (self.spark.read.parquet(*new_paths)
               .join(F.broadcast(fk), ["root", "path"]))
        if olds:
            old_pos = (self.spark.read.parquet(*old_paths)
                       .join(F.broadcast(fk), ["root", "path"]))
            # the pre-commit mask is sidecar-sized (∝ masked rows) —
            # broadcast the diff instead of a sort-merge exchange
            pos = pos.join(F.broadcast(old_pos),
                           ["root", "path", "row_index"], "left_anti")
        clean = [
            dataclasses.replace(a, dv_path=None, dv_count=0, dv_base=None)
            for a in re_adds
        ]
        scan = self._read_files(snap, clean, with_metadata=True)
        return self._join_positions(scan, clean, pos, "inner").drop(
            "__path", "__ri")

    def read_changes(
        self,
        starting_version: int,
        ending_version: Optional[int] = None,
        *,
        allow_rewrites: bool = False,
        row_level: bool = False,
    ) -> DataFrame:
        """Incremental scan: rows in files ADDED in versions
        ``(starting_version, ending_version]``, tagged with a
        ``_commit_version`` column — the resume-from-checkpoint feed an
        incremental pipeline reads instead of rescanning the table
        (process only data that arrived since the last processed
        version; the reference has no equivalent, delta-lake calls the
        idea Change Data Feed).

        Semantics by commit type:

        - append-like commits (``WRITE append`` / initial create,
          streaming sink batches) contribute their rows exactly once —
          a pure delta;
        - version 0 is always a pure delta (nothing preceded it);
        - data REWRITES (``WRITE overwrite``, ``CREATE OR REPLACE``,
          ``MERGE``) re-add surviving rows, so their added files are
          NOT new-rows-only: they raise unless ``allow_rewrites=True``,
          which emits their added files verbatim (file-level CDC — the
          consumer dedups or reconciles);
        - ``OPTIMIZE``/``ZORDER`` compactions add files whose rows are
          all old: always skipped, never an error.

        ``row_level=True`` upgrades the feed to Delta-CDF-style
        row-change semantics, adding a ``_change_type`` column:
        appends emit ``insert`` rows; MERGE-ON-READ (deletion-vector)
        DELETE commits emit their newly-masked rows as ``delete``
        (sidecars carry the full union mask, so this commit's delta is
        new-mask minus pre-commit mask — read back from the untouched
        data files at exactly those positions); DV UPDATE commits emit
        ``update_preimage`` (newly masked) + ``update_postimage`` (the
        commit's fresh files); partition-scoped and fully-matched-file
        deletes emit the dropped files' pre-commit LIVE rows.
        COPY-REWRITE flavors (``use_dv=False`` DELETE/UPDATE, MERGE,
        overwrite, RESTORE) are not row-level decodable and raise —
        merge-on-read is precisely what makes row-level CDC cheap.
        The feed needs superseded sidecars still on disk (vacuum
        reclaims them past retention, like time travel).

        Cost: log metadata + a scan of ONLY the added files; no
        snapshot diff, no full-table read.  Late schema columns read as
        null for early files (same widening rule as ``read``).
        """
        head = self.version()
        end = head if ending_version is None else ending_version
        if not (-1 <= starting_version <= end <= head):
            raise ValueError(
                f"need -1 <= starting_version <= ending_version <= {head}, "
                f"got ({starting_version}, {end})"
            )
        end_snap = self.snapshot(end)
        parts: list[DataFrame] = []

        def emit(df: DataFrame, v: int, change: str) -> None:
            if row_level:
                df = df.withColumn("_change_type", F.lit(change))
            parts.append(df.withColumn("_commit_version", F.lit(v)))

        for v in range(starting_version + 1, end + 1):
            operation = ""
            op_params: dict[str, Any] = {}
            adds: list[AddFile] = []
            removed_keys: set[str] = set()
            for action in tablelog.read_version_actions(self.table_uri, v):
                if "commitInfo" in action:
                    operation = action["commitInfo"].get("operation", "")
                    op_params = action["commitInfo"].get(
                        "operationParameters") or {}
                elif "add" in action:
                    adds.append(AddFile.from_action(action["add"]))
                elif "remove" in action:
                    removed_keys.add(tablelog.remove_key(action["remove"]))
            kind = tablelog.classify_commit(operation)
            if kind == "compaction":
                continue
            is_rewrite = v > 0 and kind == "rewrite"
            base_op = operation.split(" ")[0]
            # decodable flavors: DV commits self-identify via their
            # "mode" parameter; a DELETE with no adds is pure metadata
            # (partition-scoped / fully-matched files dropped) and its
            # deleted rows are exactly the dropped files' live rows
            is_dv = op_params.get("mode") == "deletion_vector"
            decodable = is_dv or (base_op == "DELETE" and not adds)
            if (row_level and is_rewrite
                    and base_op in ("DELETE", "UPDATE") and decodable):
                prev = self.snapshot(v - 1)
                prev_by_key = {a.log_key: a for a in prev.files}
                re_adds = [a for a in adds if a.log_key in removed_keys]
                fresh = [a for a in adds if a.log_key not in removed_keys]
                dropped = [
                    prev_by_key[k]
                    for k in removed_keys - {a.log_key for a in adds}
                    if k in prev_by_key
                ]
                pre = []
                if re_adds:
                    pre.append(self._newly_masked_rows(
                        end_snap, re_adds, prev_by_key))
                if dropped:
                    # dropped files' LIVE rows apply their pre-commit
                    # DV sidecars — same vacuumed-sidecar check as
                    # _newly_masked_rows, so a reclaimed sidecar is a
                    # pointed feed error, not a raw executor path error
                    gone = [
                        p for p in sorted({
                            os.path.join(a.dv_base or self.table_uri,
                                         a.dv_path)
                            for a in dropped if a.dv_path
                        })
                        if not os.path.exists(p)
                    ]
                    if gone:
                        raise ValueError(
                            f"row-level decode needs {len(gone)} "
                            f"deletion-vector sidecar(s) no longer on "
                            f"disk (vacuumed past retention?): "
                            f"{gone[:3]} — read() the snapshot for a "
                            "backfill and resume the feed from a later "
                            "version"
                        )
                    pre.append(self._read_files(end_snap, dropped))
                # a zero-matched DML still commits (no adds, no
                # removes) — it contributes nothing, but must not wedge
                # the feed
                pre_df = None
                for p in pre:
                    pre_df = p if pre_df is None else pre_df.unionByName(p)
                if base_op == "DELETE":
                    if pre_df is not None:
                        emit(pre_df, v, "delete")
                else:
                    if pre_df is not None:
                        emit(pre_df, v, "update_preimage")
                    if fresh:
                        emit(self._read_files(end_snap, fresh), v,
                             "update_postimage")
                continue
            if is_rewrite and (not allow_rewrites or row_level):
                # the row-level feed has NO file-level escape hatch: a
                # rewrite's added files re-add old rows, and labeling
                # them "insert" would be wrong by construction
                extra = (" (row_level decodes only merge-on-read "
                         "DELETE/UPDATE)") if row_level else ""
                raise ValueError(
                    f"version {v} is a data rewrite ({operation}); its added "
                    "files are not new-rows-only — pass allow_rewrites=True "
                    f"for a file-level feed, or read() the snapshot{extra}"
                )
            if adds:
                emit(self._read_files(end_snap, adds), v, "insert")
        if not parts:
            schema = StructType.fromJson(_json_loads(end_snap.schema_json))
            if row_level:
                schema = schema.add("_change_type", StringType(), False)
            schema = schema.add("_commit_version", IntegerType(), False)
            return self.spark.createDataFrame([], schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # -- write path (W1-W5, O1) -----------------------------------------------

    def write(
        self,
        df: DataFrame,
        mode: WriteMode = WriteMode.overwrite,
        *,
        partition_columns: Optional[Sequence[str]] = None,
        partition_dnf: Optional[Sequence[DnfFilter]] = None,
        schema_mode: Optional[SchemaMode] = None,
        table_configuration: Optional[dict[str, str]] = None,
        commit_metadata: Optional[dict[str, str]] = None,
        cluster_by: Optional[Sequence[str]] = None,
        cluster_files: Optional[int] = None,
        writer_properties: Optional[dict[str, str]] = None,
        _copy_txns: Optional[dict[str, int]] = None,
        _copy_txns_expected: Optional[dict[str, Optional[int]]] = None,
    ) -> dict[str, Any]:
        """All write modes (reference handle_output dispatch,
        handler.py:190-262).

        ``partition_dnf`` scopes ``overwrite`` to matching partitions
        (replaceWhere / O1).  ``create_or_replace`` commits metadata
        only — no data write (reference handler.py:226-235).
        ``cluster_by`` range-clusters + sorts the incoming data before
        staging so per-file min/max stats are tight on those columns
        (write-time layout optimization; see also optimize(cluster_by)).
        """
        snap = _head_snapshot(self.table_uri)
        if mode == WriteMode.error and snap is not None:
            raise TableExistsError(f"table already exists at {self.table_uri}")
        if mode == WriteMode.ignore and snap is not None:
            return {"mode": "ignore", "version": snap.version, "skipped": True}
        table_schema = (
            StructType.fromJson(_json_loads(snap.schema_json)) if snap else None
        )
        pcols = list(
            partition_columns
            if partition_columns is not None
            else (snap.partition_columns if snap else [])
        )

        # generated columns: compute the ABSENT ones here (before
        # schema reconciliation, so they join the committed schema);
        # PROVIDED ones are validated against the expression after
        # conform, alongside the CHECK constraints
        merged_cfg = {
            **(snap.metadata.configuration if snap else {}),
            **(table_configuration or {}),
        }
        gencols = _generated_columns(merged_cfg)
        gen_provided: dict[str, str] = {}
        for c, gexpr in gencols.items():
            if c in df.columns:
                gen_provided[c] = gexpr
            else:
                df = df.withColumn(c, F.expr(gexpr))
        # column DEFAULTS fill absent columns only — provided values
        # pass through unvalidated (unlike generated columns)
        for c, dexpr in _column_defaults(merged_cfg).items():
            if c not in df.columns:
                df = df.withColumn(c, F.expr(dexpr))

        if mode == WriteMode.create_or_replace:
            return self._create_or_replace(
                snap, df.schema, pcols, table_configuration, commit_metadata
            )

        op_params: dict[str, Any] = {"mode": mode.value}
        if partition_dnf:
            op_params["predicate"] = dnf_to_sql(partition_dnf)
        if pcols:
            op_params["partitionBy"] = pcols
        txn = Transaction(self.table_uri, snap, f"WRITE {mode.value}",
                          op_params, commit_metadata)
        if mode in (WriteMode.error, WriteMode.ignore):
            txn.checks.append(_table_absent(self.table_uri, mode))
        if mode == WriteMode.overwrite:
            # the append-only freeze: both full and partition-scoped
            # overwrite remove live rows
            txn.checks.append(_not_append_only(self.table_uri, "overwrite"))
        if _copy_txns_expected:
            txn.checks.append(_copy_ledger_unchanged(_copy_txns_expected))
        # a full unscoped overwrite replaces every file, so it may also
        # replace the partitioning; any other write's files must land
        # under the layout they were staged for
        replaces_all = mode == WriteMode.overwrite and partition_dnf is None
        if not replaces_all:
            txn.checks.append(_same_layout(pcols))

        # identity columns: GENERATED ALWAYS — allocate dense values
        # from the persisted high-water mark; the mark advances in the
        # same commit as the data (conflict-checked at commit)
        identity_assumed: dict[str, Optional[str]] = {}
        identity_updates: dict[str, str] = {}
        for c, ispec in _identity_columns(merged_cfg).items():
            if c in df.columns:
                raise ValueError(
                    f"column {c} is GENERATED ALWAYS AS IDENTITY; "
                    "writes must omit it"
                )
            df, assumed, new_next = _assign_identity(df, c, ispec,
                                                     merged_cfg)
            identity_assumed[_identity_next_key(c)] = assumed
            identity_updates[_identity_next_key(c)] = str(new_next)

        # repartitioning an existing table is only legal when the whole
        # table is being replaced (full unscoped overwrite): any other
        # mode would silently rewrite Metadata.partition_columns while
        # pre-existing files keep their old partition_values — every
        # later pruned read would drop them wholesale (Delta raises the
        # same way on a partitioning mismatch)
        if (
            snap is not None
            and partition_columns is not None
            and list(partition_columns) != list(snap.partition_columns)
            and not (mode == WriteMode.overwrite and partition_dnf is None)
        ):
            raise ValueError(
                f"partition_columns {list(partition_columns)} differ from "
                f"the table's {list(snap.partition_columns)}; repartitioning "
                "requires a full overwrite (or create_or_replace)"
            )
        # scoped overwrite may only reference real partition columns —
        # validated BEFORE the distributed write so a plain user error
        # doesn't strand a full set of staged-and-moved orphan files
        # (the same checks re-run at commit against the fresh head,
        # which is the exactness guarantee)
        if mode == WriteMode.overwrite and snap is not None:
            # the append-only freeze: both full and partition-scoped
            # overwrite remove live rows
            _refuse_append_only(
                self.table_uri, snap.metadata.configuration, "overwrite")
        if mode == WriteMode.overwrite and partition_dnf and snap is not None:
            bad = [
                name for name, _op, _v in partition_dnf
                if name not in snap.partition_columns
            ]
            if bad:
                raise ValueError(
                    f"overwrite partition_dnf references non-partition "
                    f"column(s) {sorted(set(bad))}; table is partitioned "
                    f"by {list(snap.partition_columns)}"
                )

        # schema reconciliation
        if table_schema is None or (
            mode == WriteMode.overwrite
            and schema_mode == SchemaMode.overwrite
            and partition_dnf is None
        ):
            final_schema = df.schema
        elif _schemas_equivalent(table_schema, df.schema):
            final_schema = table_schema
        elif schema_mode == SchemaMode.append:
            final_schema = _merge_schemas(table_schema, df.schema)
        else:
            a = {f.name: f.dataType.simpleString() for f in table_schema.fields}
            b = {f.name: f.dataType.simpleString() for f in df.schema.fields}
            raise SchemaMismatchError(
                f"incoming schema {b} != table schema {a}; set schema_mode "
                "to 'append' (mergeSchema) or 'overwrite' (overwriteSchema)"
            )

        out = _conform(df, final_schema)
        if _BLOOM_KEY in (table_configuration or {}):
            # create-time (or explicitly re-supplied) bloom spec:
            # validate against the schema this write commits, the same
            # checks set_properties runs
            self._validate_bloom_spec(
                _bloom_columns(table_configuration), final_schema, pcols)
        if {_AUTOCOMPACT_KEY, _AUTOCOMPACT_MINFILES_KEY,
                _AUTOCOMPACT_TARGET_KEY} & set(table_configuration or {}):
            # create-time autoCompact knobs: validate BEFORE staging —
            # a malformed value must fail the write up front, not
            # commit-then-raise inside the post-commit hook
            _auto_compact_spec(merged_cfg)
        if _APPEND_ONLY_KEY in (table_configuration or {}):
            _append_only(table_configuration)  # malformed value fails NOW
        self._enforce_constraints(out, {
            **(snap.metadata.configuration if snap else {}),
            **(table_configuration or {}),
        })
        if gen_provided:
            self._enforce_generated(out, gen_provided)
        if cluster_by:
            cols = [F.col(c) for c in cluster_by]
            out = (
                out.repartitionByRange(cluster_files, *cols)
                if cluster_files
                else out.repartitionByRange(*cols)
            ).sortWithinPartitions(*cluster_by)
        elif (pcols
              and str(merged_cfg.get(_OPTWRITE_KEY, "")).lower() == "true"):
            # optimizeWrite: one shuffle colocates each hive
            # partition's rows so the staged write emits one file per
            # partition value, not one per task per partition
            out = out.repartition(*[F.col(c) for c in pcols])
        # planning-time mapping for STAGING only; the committed updates
        # re-derive against the fresh head at commit
        stage_mapping, _ = _evolve_mapping(
            snap.metadata.configuration if snap else {}, final_schema)
        adds = _stage_dataframe(out, self.table_uri, pcols, final_schema,
                                _writer_options(writer_properties),
                                mapping=stage_mapping,
                                bloom_spec=_bloom_columns(merged_cfg))
        rows_written = sum(a.num_records for a in adds)
        if identity_assumed:
            txn.checks.append(_identity_marks_unchanged(identity_assumed,
                                                        "write"))

        def fresh_cfg(fresh: Optional[Snapshot]) -> dict[str, str]:
            return dict(fresh.metadata.configuration if fresh else {},
                        **(table_configuration or {}))

        # column mapping re-validates against the FRESH configuration
        txn.checks.append(lambda read, fresh: _commit_mapping(
            fresh_cfg(fresh), final_schema, stage_mapping))

        def overwritten(fresh: Optional[Snapshot]) -> list[AddFile]:
            if mode != WriteMode.overwrite or fresh is None:
                return []
            if not partition_dnf:
                return list(fresh.files)
            # scoped overwrite may only reference real partition
            # columns: stats-based (min/max) file matching is a
            # *pruning* heuristic — deleting whole files on it would
            # drop rows that don't satisfy the predicate.  Read-path
            # pruning keeps stats matching; the write path must be exact.
            bad = [name for name, _op, _v in partition_dnf
                   if name not in fresh.partition_columns]
            if bad:
                raise ValueError(
                    f"overwrite partition_dnf references non-partition "
                    f"column(s) {sorted(set(bad))}; table is partitioned "
                    f"by {list(fresh.partition_columns)}"
                )
            return self.pruned_files(fresh, partition_dnf)

        def committed_metadata(fresh: Optional[Snapshot]) -> Metadata:
            # re-merge against the FRESH table schema: a concurrent
            # commit may have evolved it while this writer staged, and
            # committing the stale final_schema would silently drop the
            # concurrently-added columns from Metadata (their data
            # files stay live but every read would project without
            # them).  A full schema-replacing overwrite skips this.
            schema = final_schema
            if fresh is not None and not (
                    replaces_all and schema_mode == SchemaMode.overwrite):
                schema = _merge_schemas(
                    StructType.fromJson(_json_loads(fresh.schema_json)),
                    final_schema)
            cfg = fresh_cfg(fresh)
            commit_map = _commit_mapping(cfg, final_schema, stage_mapping)
            if commit_map != _column_mapping(cfg):
                cfg[_COLMAP_KEY] = json.dumps(commit_map, sort_keys=True)
            return Metadata(
                schema_json=schema.json(),
                partition_columns=pcols,
                configuration={**cfg, **identity_updates},
                table_id=fresh.metadata.table_id if fresh else "",
                created_time=fresh.metadata.created_time if fresh else 0,
            )

        try:
            committed = txn.commit(
                adds, overwritten, committed_metadata,
                metrics={"num_output_rows": rows_written}, txns=_copy_txns)
        except CommitSkipped as skip:
            return {"mode": "ignore", "version": skip.fresh.version,
                    "skipped": True}
        return self._dml_compacting({
            "mode": mode.value,
            "version": committed.version,
            "num_output_rows": rows_written,
            "num_added_files": len(adds),
            "num_removed_files": txn.metrics["num_removed_files"],
        }, committed.metadata.configuration)

    def _create_or_replace(
        self,
        snap: Optional[Snapshot],
        schema: StructType,
        pcols: Sequence[str],
        table_configuration: Optional[dict[str, str]],
        commit_metadata: Optional[dict[str, str]],
    ) -> dict[str, Any]:
        """W5: recreate metadata + schema only; removes all data files,
        writes none (reference handler.py:226-235)."""
        txn = Transaction(self.table_uri, snap, "CREATE OR REPLACE",
                          {"partitionBy": list(pcols)}, commit_metadata)
        txn.checks.append(
            _not_append_only(self.table_uri, "create_or_replace"))
        committed = txn.commit(
            removes=lambda fresh: fresh.files if fresh else [],
            metadata=Metadata(
                schema_json=schema.json(),
                partition_columns=list(pcols),
                configuration=dict(table_configuration or {}),
            ))
        return {"mode": "create_or_replace", "version": committed.version,
                "num_output_rows": 0}

    # -- MERGE (M1-M6, W6) ------------------------------------------------------

    def merge(
        self,
        source: DataFrame,
        merge_config: MergeConfig,
        *,
        partition_dnf: Optional[Sequence[DnfFilter]] = None,
        partition_columns: Optional[Sequence[str]] = None,
        commit_metadata: Optional[dict[str, str]] = None,
        schema_mode: Optional[SchemaMode] = None,
        table_configuration: Optional[dict[str, str]] = None,
        writer_properties: Optional[dict[str, str]] = None,
    ) -> dict[str, Any]:
        """MERGE INTO with auto-create of a missing target (reference
        handler.py:236-262, _merge_execute 70-120).
        ``table_configuration`` applies on the auto-create path only
        (an existing target keeps its properties).

        Spark-first plan: a left-semi join discovers *touched* files
        (files containing at least one matched key); only those are
        rewritten via a single full-outer join; untouched files carry
        over by reference in the log. Inserts come from the same
        joined plan.  The partition predicate is ANDed onto the user
        condition (M5, handler.py:92-98) and also prunes candidate
        files driver-side.
        """
        if merge_config.predicate is None:
            raise ValueError("merge requires a predicate, e.g. 's.a = t.a'")
        if not self.exists():
            # auto-create from source schema (reference handler.py:241-252)
            self.write(
                source,
                WriteMode.error,
                partition_columns=partition_columns,
                commit_metadata=commit_metadata,
                table_configuration=table_configuration,
                writer_properties=writer_properties,
            )
            return {
                "mode": "merge",
                "version": self.version(),
                "auto_created": True,
            }

        snap = self.snapshot()
        txn = Transaction(self.table_uri, snap, "MERGE", {},
                          commit_metadata)
        if merge_config.merge_type != MergeType.deduplicate_insert:
            # only the insert-only strategy leaves existing rows alone
            op = f"merge({merge_config.merge_type.value})"
            _refuse_append_only(
                self.table_uri, snap.metadata.configuration, op)
            txn.checks.append(_not_append_only(self.table_uri, op))
        merge_idcols = _identity_columns(snap.metadata.configuration)
        if merge_idcols:
            # GENERATED ALWAYS: the source may never provide the
            # column (same contract as write()); matched updates keep
            # the target's id automatically (identity is not a source
            # column, so updated_row() takes the target value), and
            # the not-matched insert branch allocates dense ids below
            # — Delta's merge-with-identity semantics
            bad_src = sorted(set(merge_idcols) & set(source.columns))
            if bad_src:
                raise ValueError(
                    f"identity column(s) {bad_src} are GENERATED "
                    "ALWAYS — a MERGE source cannot provide them; "
                    "drop them from the source and let inserts "
                    "allocate"
                )
        # r16 (guide §1.2/§5): MERGE consumes the source plan up to
        # four times — the stats-pruning bounds agg, the discovery
        # join, the full-outer rewrite join, and (on generated-column
        # tables) the derivation validation agg.  Materialize an
        # EXPENSIVE source ONCE (wide/Python operators in its plan),
        # unless the caller already handed over a checkpointed/local
        # frame (the CDC replication sink does) — Delta Lake's own
        # MERGE materializes its source for the same reason, plus
        # determinism under retries.  Scan-cheap sources (plain
        # scan + projections) skip the copy: re-evaluation A/B'd at
        # parity with materialization in r16, so the checkpoint would
        # only add an RDD copy job.  Lazy: the first consumer's
        # action pays the single evaluation; the generated-column
        # withColumn derivations below stack as cheap map expressions
        # on top of the materialized rows.
        if not _plan_is_materialized(source) and _plan_is_expensive(source):
            source = source.localCheckpoint(eager=False)
        # generated columns under MERGE: matched-update takes source
        # values for source-present columns and keeps target values
        # otherwise, so consistency of the WRITTEN rows follows from
        # consistency of the SOURCE rows iff the source carries every
        # generated column AND every column its expression reads —
        # require that, then validate the source in one agg pass.
        # (A source omitting the generated column would write a stale
        # or null value silently.)
        merge_gencols = _generated_columns(snap.metadata.configuration)
        if merge_gencols:
            src_cols_set = set(source.columns)
            tbl_cols = [
                f.name for f in StructType.fromJson(
                    _json_loads(snap.schema_json)).fields]
            provided: dict[str, str] = {}
            for gcol, gexpr in merge_gencols.items():
                missing_dep = [
                    c for c in tbl_cols
                    if c not in src_cols_set
                    and re.search(rf"\b{re.escape(c)}\b", gexpr,
                                  re.IGNORECASE)
                ]
                if missing_dep:
                    raise ValueError(
                        f"MERGE on a table with generated column "
                        f"{gcol!r} needs its source column(s) "
                        f"{missing_dep} in the merge source — without "
                        "them the written rows' derivation cannot be "
                        "established")
                if gcol in src_cols_set:
                    provided[gcol] = gexpr
                else:
                    source = source.withColumn(gcol, F.expr(gexpr))
                    src_cols_set.add(gcol)
            if provided:
                self._enforce_generated(source, provided)
        table_schema = StructType.fromJson(_json_loads(snap.schema_json))
        evolved = False
        if schema_mode == SchemaMode.append:
            merged = _merge_schemas(table_schema, source.schema)
            if {f.name for f in merged.fields} != {f.name for f in table_schema.fields}:
                evolved = True
            table_schema = merged
            # read target files against the evolved schema (absent
            # columns come back null) by patching the snapshot metadata
            snap = Snapshot(
                snap.version,
                Metadata(
                    schema_json=merged.json(),
                    partition_columns=snap.metadata.partition_columns,
                    configuration=snap.metadata.configuration,
                    table_id=snap.metadata.table_id,
                    created_time=snap.metadata.created_time,
                ),
                snap.files,
                snap.timestamp,
                protocol=snap.protocol,
            )
        if merge_config.error_on_type_mismatch:
            tgt_types = {f.name: f.dataType.simpleString() for f in table_schema.fields}
            for f in source.schema.fields:
                if f.name in tgt_types and tgt_types[f.name] != f.dataType.simpleString():
                    raise SchemaMismatchError(
                        f"merge type mismatch on {f.name!r}: "
                        f"{f.dataType.simpleString()} != {tgt_types[f.name]}"
                    )

        ta, sa = merge_config.target_alias, merge_config.source_alias
        pred = merge_config.predicate
        if partition_dnf:
            # same exactness rule as write(): the dnf scopes which rows
            # the merge may touch/delete, and stats-based matching is a
            # pruning heuristic — a non-partition column here would make
            # replace_delete_unmatched silently delete out-of-scope rows
            bad = [
                name for name, _op, _v in partition_dnf
                if name not in snap.partition_columns
            ]
            if bad:
                raise ValueError(
                    f"merge partition_dnf references non-partition "
                    f"column(s) {sorted(set(bad))}; table is partitioned "
                    f"by {list(snap.partition_columns)}"
                )
            pred = f"({pred}) AND ({dnf_to_sql(partition_dnf, qualifier=ta)})"

        candidates = self.pruned_files(snap, partition_dnf)
        # stats-based discovery pruning (delta-rs prunes scanned files
        # from the merge predicate; this is the Spark-side analogue):
        # for equality merge keys, a file whose min/max range is
        # disjoint from the source's key range cannot contain a match —
        # drop it BEFORE the discovery join, so discovery cost scales
        # with the touched fraction, not the table.  One tiny agg job
        # (map-side partial + single reduce) computes the source
        # bounds.  replace_delete_unmatched must keep every candidate:
        # its unmatched rows are deleted, so out-of-range files are
        # still rewritten.
        # the bounds agg RESULT is tiny but it re-evaluates the full
        # source plan once — only worth paying when there are enough
        # candidate files for pruning to matter (callers with expensive
        # source pipelines should cache/localCheckpoint the source)
        def source_key_ranges() -> Optional[list[DnfFilter]]:
            """Min/max DNF over the source's equality merge keys (one
            tiny agg job), or None when the predicate yields no usable
            keys.  Shared by discovery pruning and the commit-time
            concurrent-append conflict check."""
            tfields = {f.name for f in table_schema.fields}
            eq = [
                (tc, sc)
                for tc, sc in _merge_equi_keys(merge_config.predicate, ta, sa)
                if tc in tfields and sc in source.columns
            ]
            if not eq:
                return None
            aggs = []
            for i, (_tc, sc) in enumerate(eq):
                aggs += [f"min({sql_ident(sc)}) AS __lo{i}",
                         f"max({sql_ident(sc)}) AS __hi{i}"]
            bounds = source.selectExpr(*aggs).first()
            rng: list[DnfFilter] = []
            for i, (tc, _sc) in enumerate(eq):
                lo, hi = bounds[f"__lo{i}"], bounds[f"__hi{i}"]
                if lo is not None and hi is not None:
                    rng += [(tc, ">=", lo), (tc, "<=", hi)]
            return rng

        rng_memo: list = []  # shared with the commit-time conflict check

        if (
            len(candidates) >= 8
            and merge_config.merge_type != MergeType.replace_delete_unmatched
        ):
            rng_memo.append(source_key_ranges())
            rng0 = rng_memo[0]
            if rng0:
                try:
                    candidates = [
                        a for a in candidates
                        if _file_matches(
                            a, rng0, table_schema, snap.partition_columns,
                            _column_mapping(snap.metadata.configuration))
                    ]
                except TypeError:
                    pass  # incomparable stat/bound types: no pruning
        src = source.selectExpr("*", "1 AS __s_m")
        cond = F.expr(pred)

        mtype = merge_config.merge_type
        needs_update = mtype in (
            MergeType.update_only,
            MergeType.upsert,
            MergeType.replace_delete_unmatched,
        )
        needs_insert = mtype in (MergeType.deduplicate_insert, MergeType.upsert)

        if candidates:
            # ONE discovery join yields both products: the touched-file
            # set AND (for update modes) the delta-rs cardinality check
            # (a target row matched by >1 source row must raise, not
            # silently duplicate).  Keys are FULL file paths — a
            # partitioned write names files identically across partition
            # dirs, so basenames collide and would both mis-scope the
            # rewrite and false-trigger the cardinality error.  The
            # result is one row per touched file, collected.
            tgt = self._read_files(snap, candidates, with_metadata=True)
            per_file = self._merge_discovery(
                tgt.alias(ta).join(src.alias(sa), cond), ta, needs_update)
            touched_paths = set()
            max_matches = 0
            for r in per_file.collect():
                touched_paths.add(r["__path"])
                max_matches = max(max_matches, r["__max_n"])
            if needs_update and max_matches > 1:
                raise MergeMultipleMatchesError(
                    "MERGE: a target row is matched by more than one source "
                    "row; deduplicate the source on the merge keys first"
                )
        else:
            # empty target (or fully-pruned): nothing to touch; merge
            # degenerates to the insert branches
            touched_paths = set()
        touched_adds = self._scanned_files(candidates, touched_paths)

        # rows that participate in the rewrite join: touched files only
        # (for M4 all candidate files are rewritten/deleted)
        if mtype == MergeType.replace_delete_unmatched:
            rewrite_scope = candidates
        else:
            rewrite_scope = touched_adds

        t_scope = self._read_files(snap, rewrite_scope).selectExpr(
            "*", "1 AS __t_m")
        joined = t_scope.alias(ta).join(src.alias(sa), cond, "full_outer")
        T, S = sql_ident(ta), sql_ident(sa)
        src_cols = set(source.columns)

        def row(source_value) -> list[str]:
            # the target schema as one SQL projection: a column the
            # source has renders ``source_value``, the rest keep the
            # target value
            out = []
            for f in table_schema.fields:
                c = sql_ident(f.name)
                v = source_value(c) if f.name in src_cols else f"{T}.{c}"
                out.append(f"{v} AS {c}")
            return out

        # when_matched_update_all on matched rows; on source-only rows
        # the target side is all NULL, so the same projection is the
        # inserted row
        updated_row = row(lambda c: f"{S}.{c}")
        # ONE projection covering matched-update, target-only and
        # (when reachable) source-only rows at once: on a FULL-OUTER
        # join the missing side's columns are NULL, so "take source
        # when the source side is present, else target" reproduces
        # updated_row on matched rows, the plain target row on
        # target-only rows, and the inserted row on source-only rows
        # (target side all-NULL) — exactly the branch semantics,
        # without re-executing the join once per branch (r15, guide
        # §2.4: unionByName of per-branch filters re-runs the join's
        # sort+merge+project per branch; only the Exchanges are
        # reused).
        folded_row = row(
            lambda c: f"CASE WHEN {S}.__s_m IS NOT NULL THEN {S}.{c} "
                      f"ELSE {T}.{c} END")

        # the insert branch folds into the carried projection only when
        # no identity column needs per-branch allocation
        fold_insert = needs_update and needs_insert and not merge_idcols
        branches: list[DataFrame] = []
        if mtype == MergeType.replace_delete_unmatched:
            # matched -> updated; not-matched-by-source -> deleted
            branches.append(joined.where(
                f"{T}.__t_m IS NOT NULL AND {S}.__s_m IS NOT NULL"
            ).selectExpr(*updated_row))
        elif needs_update and fold_insert:
            # upsert without identity: every full-outer row lands in
            # exactly one branch, so no filter and no union at all
            branches.append(joined.selectExpr(*folded_row))
        elif needs_update:
            # matched + target-only in one pass (within target-present
            # rows, "source side present" IS the matched predicate)
            branches.append(
                joined.where(f"{T}.__t_m IS NOT NULL").selectExpr(*folded_row))
        else:
            # M2: target rows never rewritten
            pass
        merge_id_assumed: dict[str, Optional[str]] = {}
        merge_id_updates: dict[str, str] = {}
        if needs_insert and not fold_insert:
            ins_b = joined.where(
                f"{T}.__t_m IS NULL AND {S}.__s_m IS NOT NULL"
            ).selectExpr(*updated_row)
            # identity allocation for merge-inserts: the same
            # prefix-sum allocator as write(), on the insert branch
            # only (matched/carried rows keep their target ids); the
            # mark advances in the SAME merge commit, and a racing
            # allocator fails the commit loudly (checked per attempt)
            for c, ispec in merge_idcols.items() if merge_idcols else ():
                ins_b, assumed, new_next = _assign_identity(
                    ins_b, c, ispec, snap.metadata.configuration)
                merge_id_assumed[_identity_next_key(c)] = assumed
                merge_id_updates[_identity_next_key(c)] = str(new_next)
            branches.append(ins_b)

        result: Optional[DataFrame] = None
        for b in branches:
            result = b if result is None else result.unionByName(b)

        removes: list[AddFile]
        if mtype == MergeType.replace_delete_unmatched:
            removes = list(candidates)
        elif mtype == MergeType.deduplicate_insert:
            removes = []
        else:
            removes = touched_adds

        adds: list[AddFile] = []
        if result is not None:
            self._enforce_constraints(
                result, snap.metadata.configuration)
            adds = _stage_dataframe(
                result, self.table_uri, snap.partition_columns, table_schema,
                _writer_options(writer_properties),
                mapping=_column_mapping(snap.metadata.configuration),
                bloom_spec=_bloom_columns(snap.metadata.configuration),
            )

        rows_written = sum(a.num_records for a in adds)
        txn.parameters.update({"predicate": pred, "mergeType": mtype.value})
        txn.checks += [_removes_live("merge", removes),
                       _same_layout(snap.partition_columns)]

        def no_matching_appends(read: Snapshot, fresh: Snapshot) -> None:
            """Read-set conflict (Delta's ConcurrentAppendException):
            files added since planning may hold rows matching the merge
            keys — rows this merge classified as not-matched
            (duplicate-key insert) or never saw (lost update,
            wrongly-surviving M4 rows).  Stats narrow the check: a new
            file disjoint from the source's key range (and outside the
            partition scope) cannot conflict.  M4 conflicts on ANY
            in-scope add — its delete semantics consider every target
            row."""
            fresh_files = _appended_since(self.table_uri, read, fresh)
            mapping = _column_mapping(fresh.metadata.configuration)
            if partition_dnf:
                fresh_files = [
                    a for a in fresh_files
                    if _file_matches(a, partition_dnf, table_schema,
                                     fresh.partition_columns, mapping)]
            if not fresh_files:
                return
            conflict = True
            if mtype != MergeType.replace_delete_unmatched:
                # memoized: re-running the source's min/max agg per
                # retry would re-execute the whole source plan (and a
                # non-deterministic source could yield different bounds
                # than discovery used)
                if not rng_memo:
                    rng_memo.append(source_key_ranges())
                rng = rng_memo[0]
                if rng is not None:
                    try:
                        conflict = any(
                            _file_matches(a, rng, table_schema,
                                          fresh.partition_columns, mapping)
                            for a in fresh_files)
                    except TypeError:
                        pass
            if conflict:
                raise ConcurrentAppendError(
                    "merge conflicts with a concurrent commit: "
                    f"{len(fresh_files)} file(s) added since the planning "
                    "snapshot may contain matching keys; re-run the merge "
                    "against the new table state")

        txn.checks.append(no_matching_appends)
        if merge_id_assumed:
            txn.checks.append(_identity_marks_unchanged(merge_id_assumed,
                                                        "merge"))

        def merged_metadata(fresh: Snapshot) -> Optional[Metadata]:
            if not (evolved or merge_id_updates):
                return None
            base = snap.metadata if evolved else fresh.metadata
            return dataclasses.replace(base, configuration={
                **base.configuration, **merge_id_updates})

        committed = txn.commit(adds, removes, merged_metadata,
                               metrics={"num_output_rows": rows_written})
        return self._dml_compacting({
            "mode": "merge",
            "version": committed.version,
            "num_output_rows": rows_written,
            "num_added_files": len(adds),
            "num_removed_files": len(removes),
        }, committed.metadata.configuration)

    # -- stats (O3/A1/A2/J1) ----------------------------------------------------

    def _scoped_condition(
        self,
        predicate: Optional[str],
        partition_dnf: Optional[Sequence[DnfFilter]],
    ):
        """The row-level match condition of a DELETE/UPDATE scope:
        SQL predicate AND partition DNF, null-safe (a NULL predicate
        result means the row does NOT match — SQL DELETE semantics)."""
        cond = F.lit(True)
        if predicate is not None:
            cond = cond & F.expr(predicate)
        if partition_dnf:
            cond = cond & dnf_to_column(partition_dnf)
        return cond.eqNullSafe(F.lit(True))

    @staticmethod
    def _merge_discovery(
        matches: DataFrame, ta: str, needs_update: bool
    ) -> DataFrame:
        """One row per file touched by a MERGE discovery join:
        ``__path`` and ``__max_n``, the most source rows matching one
        target row (1 for insert-only merges, which discard the
        count).  One shuffle: hash-partitioning on ``__path`` also
        satisfies the ``(__path, __ri)`` grouping, so both aggregation
        levels run without a second Exchange, and one file's matched
        rows aggregate in one task."""
        keyed = matches.selectExpr(f"{sql_ident(ta)}.__path AS __path",
                                   f"{sql_ident(ta)}.__ri AS __ri")
        if not needs_update:
            return keyed.select("__path").distinct().selectExpr(
                "__path", "1 AS __max_n")
        return (
            keyed.repartition("__path")
            .groupBy("__path", "__ri").agg(F.expr("count(1) AS __n"))
            .groupBy("__path").agg(F.expr("max(__n) AS __max_n"))
        )

    def _scanned_files(
        self, candidates: Sequence[AddFile], paths: Iterable[str]
    ) -> list[AddFile]:
        """The candidate ``AddFile`` behind each scanned
        ``_metadata.file_path``.  That path is a (possibly
        percent-encoded) URI, so both sides normalize to absolute
        filesystem paths.  Every scanned path is by construction a
        candidate: a miss means the normalization broke (e.g. a
        non-local URI scheme), and failing loudly beats silently
        skipping a rewrite and duplicating every matched row."""
        by_abs = {
            os.path.abspath(os.path.join(a.base or self.table_uri, a.path)): a
            for a in candidates
        }
        out = []
        for p in paths:
            add = by_abs.get(os.path.abspath(unquote(urlparse(p).path)))
            if add is None:
                raise AssertionError(
                    f"scanned file {p!r} did not map back to a candidate "
                    "AddFile (path normalization mismatch)")
            out.append(add)
        return out

    def delete(
        self,
        predicate: Optional[str] = None,
        *,
        partition_dnf: Optional[Sequence[DnfFilter]] = None,
        writer_properties: Optional[dict[str, Any]] = None,
        use_dv: bool = False,
    ) -> dict[str, Any]:
        """Row-level DELETE (delta-rs ``DeltaTable.delete`` analogue —
        the reference's engine exposes it; dagster-delta users reach it
        through the table object).  Scope = ``predicate`` AND
        ``partition_dnf``; no scope deletes every row.

        Scale shape: files whose partition values alone decide the
        scope are dropped as pure metadata (no bytes read); the rest go
        through ``_rewrite_matching`` — one discovery scan, fully
        matched files dropped as metadata, only partially-matched files
        rewritten (keep-rows copy). At 100 TB a partition-scoped delete
        touches no data at all, and a needle predicate rewrites only
        the files whose min/max straddle the needle.

        ``use_dv=True`` switches partially-matched files to
        MERGE-ON-READ deletion vectors (the Delta DV analogue): instead
        of copying the keep-rows, the commit re-adds the SAME data file
        with a sidecar parquet of masked (file, row_index) positions —
        write cost ∝ deleted rows, zero data rewritten — and every
        read path filters through the one `_read_files` choke point.
        Successive DV deletes on a file union their positions; a file
        whose last live row dies is dropped as metadata like any fully
        matched file; OPTIMIZE (or a later rewriting delete) compacts
        the mask away naturally.  The write-cost/read-cost trade is the
        user's dial — exactly Delta's."""
        snap = self.snapshot()
        tablelog.check_write_support(snap.protocol, self.table_uri)
        _refuse_append_only(
            self.table_uri, snap.metadata.configuration, "DELETE")
        if predicate is None and not partition_dnf:
            dropped, params = list(snap.files), {"predicate": "true"}
        elif predicate is None and all(
                name in snap.partition_columns
                for name, _op, _v in partition_dnf):
            # partition-column conjuncts decide whole files; a
            # data-column conjunct may match a file partially and
            # needs the row scan
            dropped = self.pruned_files(snap, partition_dnf)
            params = {"partition_filter": dnf_to_sql(partition_dnf)}
        else:
            return self._rewrite_matching(
                snap, "DELETE", predicate, partition_dnf, use_dv=use_dv,
                writer_properties=writer_properties)
        return self._commit_rewrite(
            snap, dropped, [], "DELETE", operation_parameters=params,
            extra_metrics={
                "num_deleted_rows": sum(a.live_records for a in dropped),
                "num_copied_rows": 0,
            },
        )

    def _dml_candidates(
        self,
        snap: Snapshot,
        schema: StructType,
        predicate: Optional[str],
        partition_dnf: Optional[Sequence[DnfFilter]] = None,
    ) -> list[AddFile]:
        """Candidate files for a DML discovery scan: the explicit
        partition DNF plus whatever pruning conjuncts
        ``_predicate_prune_dnf`` can soundly extract from the row-level
        predicate, fed through the read path's driver-side pruner
        (partition values + min/max stats + blooms).  Files pruned
        here provably contain no matching row, so they are untouched
        survivors — the discovery scan shrinks from every-live-file to
        only the files that might match."""
        dnf = list(partition_dnf or []) + _predicate_prune_dnf(
            predicate, schema)
        return (self.pruned_files(snap, dnf) if dnf
                else list(snap.files))

    def _discover_matches(
        self,
        snap: Snapshot,
        candidates: Sequence[AddFile],
        match,
        keep: Optional[Sequence[str]] = None,
    ) -> tuple[dict[str, int], list[AddFile], list[AddFile],
               Optional[DataFrame]]:
        """The one discovery scan of a row-level rewrite: (per-file hit
        counts keyed by log_key, fully-matched files, partially-matched
        files, matched rows).  Filtering BEFORE the aggregate pushes
        the predicate into the parquet scan (row-group skipping).  The
        scan is DV-filtered, so hits count LIVE rows — a DV'd file
        whose remaining rows all match is a full drop.

        ``keep=None`` counts per file with one aggregate over the scan.
        Otherwise the matched rows' ``keep`` columns are checkpointed
        first and the counts derive from the checkpoint, so a DV
        rewrite reads its candidates exactly once; the checkpoint holds
        the matched rows, the quantity a DV rewrite is sized by."""
        if not candidates:
            return {}, [], [], None
        matched = self._read_files(
            snap, candidates, with_metadata=True).where(match)
        if keep is not None:
            matched = matched.select(*keep).localCheckpoint()
        hits = self._hits_from_frame(candidates, matched)
        return (hits, *self._classify_hits(candidates, hits), matched)

    @staticmethod
    def _classify_hits(
        candidates: Sequence[AddFile], hits: dict[str, int]
    ) -> tuple[list[AddFile], list[AddFile]]:
        """(fully-matched, partially-matched) candidates from per-file
        hit counts; a file absent from ``hits`` has none."""
        full = [a for a in candidates
                if 0 < hits.get(a.log_key, 0) == a.live_records]
        partial = [a for a in candidates
                   if 0 < hits.get(a.log_key, 0) < a.live_records]
        return full, partial

    def _hits_from_frame(
        self, candidates: Sequence[AddFile], frame: DataFrame,
    ) -> dict[str, int]:
        """Per-file hit counts keyed by log_key from a frame carrying
        ``__path`` — one aggregate, collected (one row per file, the
        same scheme as merge discovery)."""
        rows = frame.groupBy("__path").agg(
            F.count(F.lit(1)).alias("__hits")).collect()
        files = self._scanned_files(candidates, [r["__path"] for r in rows])
        return {a.log_key: r["__hits"] for a, r in zip(files, rows)}

    def _rewrite_matching(
        self,
        snap: Snapshot,
        op: str,
        predicate: Optional[str],
        partition_dnf: Optional[Sequence[DnfFilter]],
        *,
        assignments: Optional[dict[str, str]] = None,
        inserts: Optional[DataFrame] = None,
        use_dv: bool,
        writer_properties: Optional[dict[str, Any]],
        dry_run: bool = False,
    ) -> dict[str, Any]:
        """The one row-level rewrite, planned against ``snap``: DELETE
        is it with no assignments and no inserts, UPDATE passes
        ``assignments``, REPLACE WHERE passes its conformed input as
        ``inserts``.

        ONE discovery scan over the pruned candidates finds the files
        holding a matching row; a file whose every live row matches
        drops as metadata.  In copy mode, a partially-matched file is
        rewritten without its matching rows, and UPDATE instead
        rewrites every touched file through a ``CASE WHEN match``
        projection.  With ``use_dv`` the discovery scan checkpoints the
        matched positions (plus the row values when assignments need
        them): partially-matched files are re-added with a deletion
        vector, and UPDATE's new rows project off the same checkpoint,
        so the candidates are read once.  Rewritten and inserted rows
        stage in one write and commit in one transaction.

        Rules that ``read_changes`` and the tests depend on:
        - UPDATE with ``use_dv`` always records ``mode =
          "deletion_vector"``; DELETE and REPLACE WHERE record it (and
          DELETE ``num_deletion_vectors``) only when they write a
          sidecar;
        - a DELETE that writes a sidecar does not auto-compact; every
          other rewrite does;
        - ``dry_run`` uses counting discovery and reports the would-be
          commit without writing anything."""
        cfg = snap.metadata.configuration
        schema = StructType.fromJson(_json_loads(snap.schema_json))
        params: dict[str, Any] = (
            {"assignments": dict(assignments)} if assignments else {})
        if predicate is not None:
            params["predicate"] = predicate
        if partition_dnf:
            params["partition_filter"] = dnf_to_sql(partition_dnf)
        match = self._scoped_condition(predicate, partition_dnf)
        keep = None
        if use_dv and not dry_run:
            keep = ["*"] if assignments else ["__path", "__ri"]
        candidates = self._dml_candidates(
            snap, schema, predicate, partition_dnf)
        hits, full, partial, matched = self._discover_matches(
            snap, candidates, match, keep)
        rows_key = "num_updated_rows" if assignments else "num_deleted_rows"
        if not hits and (inserts is None or inserts.limit(1).head() is None):
            # nothing to remove or insert: a commit would publish an
            # empty REWRITE version that every incremental consumer
            # must refuse or rebuild for
            res = {"version": snap.version, rows_key: 0,
                   "num_copied_rows": 0, "num_added_files": 0,
                   "num_removed_files": 0}
            if inserts is None:
                res["rewritten_files"] = 0
            else:
                res["num_inserted_rows"] = 0
            return {**res, "dry_run": True} if dry_run else res
        sidecar = use_dv and bool(partial)
        copied = sum(a.live_records - hits[a.log_key] for a in partial)
        if dry_run:
            return {
                "version": snap.version,
                "dry_run": True,
                "num_deleted_rows": sum(hits.values()),
                "num_copied_rows": copied,
                "num_inserted_rows": inserts.count(),
                "num_removed_files": len(full) + len(partial),
                "full_file_drops": len(full),
                "partial_rewrites": len(partial),
                "mode": "deletion_vector" if sidecar else "copy",
            }

        rows: Optional[DataFrame] = None
        if assignments:
            # assigned values cast to the column type; generated
            # columns recompute over the post-update projection of
            # matched rows, unmatched rows keep theirs
            src, cond = ((matched, F.lit(True)) if use_dv
                         else (self._read_files(snap, full + partial), match))
            rows = src.select(*[
                F.when(cond, F.expr(assignments[f_.name]).cast(f_.dataType))
                .otherwise(F.col(f_.name)).alias(f_.name)
                if f_.name in assignments else F.col(f_.name)
                for f_ in schema.fields
            ], cond.alias("__m"))
            dtypes = {f_.name: f_.dataType for f_ in schema.fields}
            for gcol, gexpr in _generated_columns(cfg).items():
                rows = rows.withColumn(
                    gcol, F.when(F.col("__m"),
                                 F.expr(gexpr).cast(dtypes[gcol]))
                    .otherwise(F.col(gcol)))
            rows = rows.drop("__m")
            self._enforce_constraints(rows, cfg)
        elif partial and not use_dv:
            rows = self._read_files(snap, partial).where(~match)
        if inserts is not None:
            rows = inserts if rows is None else rows.unionByName(inserts)
        dv_adds = (self._write_deletion_vector(partial, hits, matched)
                   if sidecar else [])
        staged = [] if rows is None else _stage_dataframe(
            rows, self.table_uri, snap.partition_columns, schema,
            _writer_options(writer_properties),
            mapping=_column_mapping(cfg), bloom_spec=_bloom_columns(cfg))
        metrics = {rows_key: sum(hits.values()),
                   "num_copied_rows": 0 if use_dv else copied}
        if inserts is not None:
            metrics["num_inserted_rows"] = (
                sum(a.num_records for a in staged)
                - metrics["num_copied_rows"])
        if use_dv and (assignments or sidecar):
            params["mode"] = "deletion_vector"
            if inserts is None:
                metrics["num_deletion_vectors"] = len(dv_adds)
        res = self._commit_rewrite(
            snap, full + partial, dv_adds + staged, op,
            operation_parameters=params, extra_metrics=metrics)
        # a DV DELETE adds no data file, so there is nothing to compact
        return res if sidecar and rows is None else self._dml_compacting(
            res, cfg)

    def replace_where(
        self,
        df: DataFrame,
        predicate: str,
        *,
        use_dv: bool = False,
        dry_run: bool = False,
        writer_properties: Optional[dict[str, Any]] = None,
    ) -> dict[str, Any]:
        """Arbitrary-predicate replaceWhere (the Databricks Delta
        ``replaceWhere`` that accepts ANY column, not just partition
        columns — ``write(mode=overwrite, partition_dnf=...)`` covers
        the partition-only classic): atomically delete every existing
        row matching ``predicate`` and insert ``df``, in ONE commit —
        readers see the old slice or the new slice, never both and
        never neither.

        Write conformance (Delta's rule): every incoming row must
        satisfy ``predicate`` — checked in one early-exit scan BEFORE
        any file moves, so a mis-scoped replacement cannot silently
        widen itself.  NULL predicate results count as non-matching on
        both sides (SQL DELETE semantics, via the same null-safe
        condition DELETE/UPDATE use).

        Scale shape = DELETE's (``_rewrite_matching``): one discovery
        scan; fully-matched files drop as metadata; only
        partially-matched files rewrite their keep-rows (``use_dv=True``
        switches those to merge-on-read deletion vectors — write cost
        ∝ replaced rows, zero old data copied).  The commit classifies
        as a REWRITE for incremental consumers
        (tablelog.classify_commit), exactly like overwrite/MERGE.

        ``dry_run=True`` (mirrors vacuum's): run the FULL validation
        surface — write conformance, constraints, generated-column
        checks, discovery — and report what the commit WOULD do
        (rows deleted/copied/inserted, files dropped/rewritten)
        without moving a byte or publishing a version.  The
        operability probe users reach for before an
        arbitrary-predicate rewrite.

        Identity tables refuse (inserts would need id allocation —
        route through write/merge, which allocate); generated columns
        compute-if-absent / validate-if-provided, same as write."""
        if not predicate or not str(predicate).strip():
            raise ValueError(
                "replace_where requires a non-empty predicate; use "
                "write(mode=overwrite) to replace the whole table")
        snap = self.snapshot()
        tablelog.check_write_support(snap.protocol, self.table_uri)
        _refuse_append_only(
            self.table_uri, snap.metadata.configuration, "replace_where")
        schema = StructType.fromJson(_json_loads(snap.schema_json))
        cfg = snap.metadata.configuration
        if _identity_columns(cfg):
            raise ValueError(
                "replace_where on an identity table is not supported: "
                "inserted rows need id allocation — use write(append) "
                "or merge, which allocate from the high-water mark")
        # write()'s type rule for every column the caller supplies:
        # _conform only reorders and null-fills, so a mismatched input
        # would stage files of another type inside the table
        shared = [f.name for f in schema.fields if f.name in df.columns]
        table_part = StructType([schema[c] for c in shared])
        given = StructType([df.schema[c] for c in shared])
        if not _schemas_equivalent(table_part, given):
            raise SchemaMismatchError(
                f"replace_where input types {given.simpleString()} != "
                f"table types {table_part.simpleString()}; cast the "
                "input to the table's types")
        gencols = _generated_columns(cfg)
        gen_provided: dict[str, str] = {}
        for c, gexpr in gencols.items():
            if c in df.columns:
                gen_provided[c] = gexpr
            else:
                df = df.withColumn(c, F.expr(gexpr))
        for c, dexpr in _column_defaults(cfg).items():
            if c not in df.columns:
                df = df.withColumn(c, F.expr(dexpr))
        # one compute of the caller's (possibly expensive) input feeds
        # the conformance probe, the constraint pass, the optional
        # generated-column validation AND the staged write
        out = _conform(df, schema).localCheckpoint(eager=False)
        match_in = F.expr(predicate).eqNullSafe(F.lit(True))
        if out.where(~match_in).limit(1).head() is not None:
            raise ValueError(
                f"replace_where data must all match the predicate "
                f"{predicate!r}; found non-matching row(s) — widen the "
                "predicate or filter the input")
        self._enforce_constraints(out, cfg)
        if gen_provided:
            self._enforce_generated(out, gen_provided)
        return self._rewrite_matching(
            snap, "REPLACE WHERE", predicate, None, inserts=out,
            use_dv=use_dv, writer_properties=writer_properties,
            dry_run=dry_run)

    def _write_deletion_vector(
        self,
        partial: list[AddFile],
        hits: dict[str, int],
        positions: DataFrame,
    ) -> list[AddFile]:
        """Write ONE DV sidecar parquet for this rewrite and return the
        re-add entries: each partially-matched file keeps its physical
        data untouched but points at the sidecar with an updated
        ``dv_count``.  Prior DV positions (local or cloned) are folded
        into the new sidecar so a file always has at most one live DV
        reference.

        ``positions`` is the checkpointed discovery frame of matched
        live rows (``__path``, ``__ri``); rows of fully-matched files
        fall out in the mapping join below."""
        rel = os.path.join("_dv", f"dv-{uuid.uuid4().hex}")
        out_dir = os.path.join(self.table_uri, rel)
        # sidecar identity is (root, path) — clone-stable, see
        # _apply_deletion_vectors
        mapping = self.spark.createDataFrame(
            [(os.path.abspath(a.base or self.table_uri), a.path,
              os.path.abspath(os.path.join(a.base or self.table_uri,
                                           a.path)))
             for a in partial],
            "root string, path string, __norm string",
        )
        doomed = (
            positions.select("__path", F.col("__ri").alias("row_index"))
            .withColumn(
                "__norm",
                F.expr("regexp_replace(url_decode(replace(__path, '+', "
                       "'%2B')), '^file:/*', '/')"),
            )
            .join(F.broadcast(mapping), "__norm")
            .select("root", "path", "row_index")
        )
        carried = [a for a in partial if a.dv_path]
        if carried:
            old = (
                self.spark.read.parquet(*sorted({
                    os.path.join(a.dv_base or self.table_uri, a.dv_path)
                    for a in carried
                }))
                .join(F.broadcast(mapping.select("root", "path")),
                      ["root", "path"])
                .select("root", "path", "row_index")
            )
            doomed = doomed.unionByName(old)
        # sorted by file identity: per-row-group min/max stats on
        # (root, path) become disjoint ranges, so a consumer probing
        # ONE file's positions (the streaming CDC decode reads the
        # sidecar once per touched file) prunes to that file's row
        # groups instead of scanning the whole commit's mask
        doomed.sortWithinPartitions("root", "path", "row_index") \
            .write.mode("error").parquet(out_dir)
        return [
            dataclasses.replace(
                a, dv_path=rel, dv_base=None,
                dv_count=a.dv_count + hits[a.log_key],
            )
            for a in partial
        ]

    def update(
        self,
        assignments: dict[str, str],
        predicate: Optional[str] = None,
        *,
        partition_dnf: Optional[Sequence[DnfFilter]] = None,
        writer_properties: Optional[dict[str, Any]] = None,
        use_dv: bool = False,
    ) -> dict[str, Any]:
        """Row-level UPDATE (delta-rs ``DeltaTable.update`` analogue).
        ``assignments`` maps column name → SQL expression (evaluated
        against the pre-update row, so ``{"a": "a + 1"}`` increments);
        assigned values cast to the column's declared type.  Rows in
        scope (``predicate`` AND ``partition_dnf``; default all) are
        updated; only files containing a matching row are rewritten —
        same touched-file-only shape as DELETE and MERGE
        (``_rewrite_matching``).

        ``use_dv=True`` = MERGE-ON-READ update (Delta's DV-based
        update): matched rows are MASKED in place via deletion vectors
        and their updated copies append as new files — write cost
        ∝ updated rows instead of ∝ touched-file bytes.  A file whose
        every live row matches needs no mask (plain remove); OPTIMIZE
        compacts masks away as usual."""
        snap = self.snapshot()
        tablelog.check_write_support(snap.protocol, self.table_uri)
        _refuse_append_only(
            self.table_uri, snap.metadata.configuration, "UPDATE")
        schema = StructType.fromJson(_json_loads(snap.schema_json))
        names = {f.name for f in schema.fields}
        bad = sorted(set(assignments) - names)
        if bad:
            raise ValueError(
                f"UPDATE assigns unknown column(s) {bad}; table columns "
                f"are {sorted(names)}")
        if not assignments:
            raise ValueError("UPDATE requires at least one assignment")
        ident = sorted(
            set(assignments)
            & set(_identity_columns(snap.metadata.configuration)))
        if ident:
            raise ValueError(
                f"column(s) {ident} are GENERATED ALWAYS AS IDENTITY; "
                "UPDATE cannot assign them")
        # generated columns: direct assignment refuses; updated rows
        # RECOMPUTE every generated column over the post-update
        # projection (Delta's behavior) — expression-text substitution
        # was tried and rejected: it corrupts string literals, misses
        # case-insensitive references, and can't chase transitive
        # generated-on-generated dependencies.  Recomputation in
        # declaration order is exact for all three (the same order
        # write() computes absent columns in, so any constructible
        # config is dependency-ordered), and is idempotent for rows
        # whose derivation already held.
        gen_direct = sorted(
            set(assignments)
            & set(_generated_columns(snap.metadata.configuration)))
        if gen_direct:
            raise ValueError(
                f"column(s) {gen_direct} are generated; UPDATE their "
                "source columns instead — the generation expression "
                "recomputes them")
        return self._rewrite_matching(
            snap, "UPDATE", predicate, partition_dnf,
            assignments=assignments, use_dv=use_dv,
            writer_properties=writer_properties)

    def restore(self, version: Optional[int] = None, *,
                timestamp_as_of=None) -> dict[str, Any]:
        """RESTORE the table to an earlier version as a NEW commit
        (delta-rs ``DeltaTable.restore`` analogue): re-add the target
        snapshot's files missing from the head, remove head files the
        target doesn't have, and restore the target's metadata (schema
        and configuration).  Pure metadata — no bytes move — so history
        is preserved and the restore itself is time-travelable.  Raises
        if a file the target references was vacuumed away.

        ``timestamp_as_of`` (Delta's ``RESTORE ... TIMESTAMP AS OF``)
        resolves through the same rule as reads: the latest version
        committed at or before the timestamp (``version_as_of``)."""
        if (version is None) == (timestamp_as_of is None):
            raise ValueError(
                "restore needs exactly one of version / timestamp_as_of")
        if timestamp_as_of is not None:
            version = self.version_as_of(timestamp_as_of)
        cur = self.snapshot()
        _refuse_append_only(
            self.table_uri, cur.metadata.configuration, "RESTORE")
        tgt = self.snapshot(version)
        if version == cur.version:
            return {"version": cur.version, "num_restored_files": 0,
                    "num_removed_files": 0}
        cur_by_key = {a.log_key: a for a in cur.files}
        tgt_keys = {a.log_key for a in tgt.files}
        # value-aware diff, not key-only: a deletion-vector commit
        # re-adds the SAME log_key with different dv fields, so
        # restoring across it must re-publish the target's entry
        # (dataclass equality covers path/stats/dv alike)
        re_adds = [a for a in tgt.files if cur_by_key.get(a.log_key) != a]
        removes = [a for a in cur.files if a.log_key not in tgt_keys]
        missing = [
            a.path for a in re_adds
            if not os.path.exists(
                os.path.join(a.base or self.table_uri, a.path))
        ] + [
            a.dv_path for a in re_adds
            if a.dv_path is not None and not os.path.exists(
                os.path.join(a.dv_base or self.table_uri, a.dv_path))
        ]
        if missing:
            raise FileNotFoundError(
                f"RESTORE to version {version} references {len(missing)} "
                f"data file(s) no longer on disk (vacuumed?): "
                f"{missing[:3]}")
        # identity high-water marks never regress: the restore removes
        # the rows allocated after the target, but those ids live on in
        # HISTORY (time travel) — re-minting them would duplicate ids
        # across versions of the same table
        def restored_meta(fresh: Snapshot) -> Metadata:
            mark_fixes = {
                k: v for k, v in fresh.metadata.configuration.items()
                if k.startswith("dds.identity.") and k.endswith(".next")
                and (k not in tgt.metadata.configuration
                     or int(v) > int(tgt.metadata.configuration[k]))
            }
            if not mark_fixes:
                return tgt.metadata
            return Metadata(
                schema_json=tgt.metadata.schema_json,
                partition_columns=list(tgt.metadata.partition_columns),
                configuration={**tgt.metadata.configuration,
                               **mark_fixes},
                table_id=tgt.metadata.table_id,
                created_time=tgt.metadata.created_time,
            )

        res = self._commit_rewrite(
            cur, removes, re_adds, "RESTORE",
            operation_parameters={"version": version},
            extra_metrics={"num_restored_files": len(re_adds)},
            metadata=restored_meta,
        )
        return res

    # -- exactly-once streaming appends (Delta SetTransaction parity) -------

    def last_txn_version(self, app_id: str) -> Optional[int]:
        """Highest micro-batch version committed by ``app_id``, or
        None — the restart handshake of an exactly-once sink."""
        return self.snapshot().app_versions.get(app_id)

    def idempotent_append(
        self,
        df: DataFrame,
        app_id: str,
        batch_version: int,
        *,
        partition_columns: Optional[Sequence[str]] = None,
        writer_properties: Optional[dict[str, str]] = None,
    ) -> dict[str, Any]:
        """Append ``df`` exactly once per ``(app_id, batch_version)``
        (Delta's ``txn``/SetTransaction protocol — what makes
        ``foreachBatch`` sinks exactly-once across restarts: a
        replayed micro-batch sees its version already recorded and
        no-ops).  The already-committed check runs on every commit
        attempt against the head snapshot, so two workers racing
        the same batch cannot double-append.  Creates the table on the
        first batch; schema must match exactly afterwards (a streaming
        sink is not the place for silent evolution)."""
        snap = _head_snapshot(self.table_uri)
        txn = Transaction(self.table_uri, snap, "STREAMING UPDATE",
                          {"appId": app_id, "epochId": batch_version})
        if (snap is not None
                and snap.app_versions.get(app_id, -1) >= batch_version):
            return {"version": snap.version, "skipped": True,
                    "num_output_rows": 0}

        # a streaming sink typically omits generated columns — compute
        # them here so the exact-schema check below passes (provided
        # ones validate like the batch write path)
        gen_provided: dict[str, str] = {}
        identity_assumed: dict[str, Optional[str]] = {}
        identity_updates: dict[str, str] = {}
        if snap is not None:
            for c, gexpr in _generated_columns(
                    snap.metadata.configuration).items():
                if c in df.columns:
                    gen_provided[c] = gexpr
                else:
                    df = df.withColumn(c, F.expr(gexpr))
            for c, ispec in _identity_columns(
                    snap.metadata.configuration).items():
                if c in df.columns:
                    raise ValueError(
                        f"column {c} is GENERATED ALWAYS AS IDENTITY; "
                        "writes must omit it"
                    )
                df, assumed, new_next = _assign_identity(
                    df, c, ispec, snap.metadata.configuration)
                identity_assumed[_identity_next_key(c)] = assumed
                identity_updates[_identity_next_key(c)] = str(new_next)
            # column DEFAULTS fill absent columns, same as write() —
            # without this a default-omitting streaming sink dies on
            # the exact-schema check
            for c, dexpr in _column_defaults(
                    snap.metadata.configuration).items():
                if c not in df.columns:
                    df = df.withColumn(c, F.expr(dexpr))

        if snap is not None:
            final_schema = StructType.fromJson(_json_loads(snap.schema_json))
            if {f.name: f.dataType for f in df.schema.fields} != \
                    {f.name: f.dataType for f in final_schema.fields}:
                raise SchemaMismatchError(
                    "idempotent_append: incoming schema does not match "
                    "the table (streaming sinks do not evolve schemas)")
            pcols = list(snap.partition_columns)
            meta = snap.metadata
        else:
            final_schema = df.schema
            pcols = list(partition_columns or [])
            meta = Metadata(
                schema_json=final_schema.json(),
                partition_columns=pcols,
            )
        out = _conform(df, final_schema)
        self._enforce_constraints(out, meta.configuration)
        if gen_provided:
            self._enforce_generated(out, gen_provided)
        adds = _stage_dataframe(
            out, self.table_uri, pcols, final_schema,
            _writer_options(writer_properties),
            mapping=_column_mapping(meta.configuration),
            bloom_spec=_bloom_columns(meta.configuration),
        )
        rows = sum(a.num_records for a in adds)

        def replayed(read, fresh):
            # a racing worker committed this batch first; the staged
            # files are unreferenced and vacuum will collect them
            if (fresh is not None
                    and fresh.app_versions.get(app_id, -1) >= batch_version):
                raise CommitSkipped(fresh)

        txn.checks += [replayed, _same_layout(pcols, final_schema)]
        if identity_assumed:
            txn.checks.append(_identity_marks_unchanged(identity_assumed,
                                                        "batch"))

        def batch_metadata(fresh: Optional[Snapshot]) -> Optional[Metadata]:
            if fresh is None:
                return meta
            if not identity_updates:
                return None
            return dataclasses.replace(fresh.metadata, configuration={
                **fresh.metadata.configuration, **identity_updates})

        try:
            committed = txn.commit(adds, metadata=batch_metadata,
                                   metrics={"num_output_rows": rows},
                                   txns={app_id: batch_version})
        except CommitSkipped as skip:
            return {"version": skip.fresh.version, "skipped": True,
                    "num_output_rows": 0}
        # autoCompact: the streaming exactly-once sink is precisely
        # where the small-file treadmill lives — the follow-up OPTIMIZE
        # is its own commit (a compaction, so the change feed skips it)
        # and a lost race never fails the batch that already committed
        return self._dml_compacting(
            {"version": committed.version, "skipped": False,
             "num_output_rows": rows, "num_added_files": len(adds)},
            committed.metadata.configuration)

    # -- COPY INTO (file-level exactly-once batch ingest) --------------------

    def copy_into(
        self,
        source,
        *,
        file_format: str = "parquet",
        reader_options: Optional[dict[str, str]] = None,
        pattern: Optional[str] = None,
        force: bool = False,
        dry_run: bool = False,
        partition_columns: Optional[Sequence[str]] = None,
        schema_mode: Optional[SchemaMode] = None,
        writer_properties: Optional[dict[str, str]] = None,
        commit_metadata: Optional[dict[str, str]] = None,
    ) -> dict[str, Any]:
        """Idempotent file-level batch ingest (Delta's ``COPY INTO``).

        ``source`` is a landing directory (walked recursively, Spark's
        hidden-file rule: ``.``/``_``-prefixed names skipped) or an
        explicit list of file paths.  Every ingested file is recorded
        in the table's SetTransaction ledger under
        ``dds.copyInto:<sha1(path)>`` with a fingerprint of its
        (mtime_ns, size), so a re-run loads only files the ledger has
        never seen — restartable ingest jobs append each landing file
        exactly once, and an emptied landing zone (loaded files
        archived away) is a no-op run, not an error.  The ledger
        rides the existing txn machinery: it survives checkpoints and
        the already-loaded re-check runs on every commit attempt,
        so two jobs racing the same landing directory cannot double-
        load a file (the loser raises ``ConcurrentAppendError`` and its
        rerun skips).

        A previously-loaded file that has since been MODIFIED
        (mtime or size changed) raises a pointed error instead of
        silently skipping.  ``force=True`` matches Delta's COPY INTO
        FORCE: EVERY offered file re-loads regardless of prior
        ingestion — modified AND unmodified — appending its rows again
        and re-recording the fresh fingerprint.  ``dry_run`` reports
        what a real run would load/skip without reading any data.

        Scale note: the ledger is O(ingested files) — the same order as
        the table's own AddFile list — and lives in the log/checkpoint,
        never on the data path.  Discovery is a driver-side listing of
        the landing source, exactly like Delta's.
        """
        opts = dict(reader_options or {})
        if isinstance(source, (list, tuple)):
            if not source:
                raise ValueError(
                    "copy_into got an empty explicit file list")
            cand = [str(p) for p in source]
        else:
            if not os.path.isdir(str(source)):
                raise FileNotFoundError(
                    f"copy_into landing directory {source!r} does not "
                    "exist")
            cand = []
            for root, dirs, names in os.walk(str(source)):
                dirs[:] = [d for d in dirs
                           if not d.startswith((".", "_"))]
                for n in names:
                    if not n.startswith((".", "_")):
                        cand.append(os.path.join(root, n))
        if pattern is not None:
            import fnmatch
            cand = [p for p in cand
                    if fnmatch.fnmatch(os.path.basename(p), pattern)]
        files: list[tuple[str, int]] = []
        for p in sorted(cand):
            try:
                st = os.stat(p)
            except OSError as exc:
                raise FileNotFoundError(
                    f"copy_into source file {p!r} is not readable: {exc}"
                ) from None
            # ledger value = 56-bit fingerprint of (mtime_ns, size):
            # a content rewrite that lands inside the same millisecond
            # (fast regeneration, timestamp-preserving rsync of a
            # different file) still changes it, where a raw ms-mtime
            # would silently skip the changed file
            fp = int.from_bytes(
                hashlib.sha1(
                    f"{st.st_mtime_ns}:{st.st_size}".encode()
                ).digest()[:7], "big")
            files.append((os.path.abspath(p), fp))

        exists = self.exists()
        snap = self.snapshot() if exists else None
        ledger = snap.app_versions if snap else {}
        if not files:
            # an emptied landing zone is the ROUTINE state of a
            # restartable ingest whose loaded files get archived away
            # — a no-op run, not an error (explicit empty lists still
            # raise above: those are caller bugs)
            return {
                "version": snap.version if snap else -1,
                "files_loaded": 0,
                "files_skipped": 0,
                "num_output_rows": 0,
            }

        def app_id(path: str) -> str:
            return (tablelog.COPY_INTO_APP_PREFIX
                    + hashlib.sha1(path.encode()).hexdigest())

        to_load: list[tuple[str, int]] = []
        skipped = 0
        modified: list[str] = []
        expected: dict[str, Optional[int]] = {}
        for path, fp in files:
            rec = ledger.get(app_id(path))
            if rec is None:
                to_load.append((path, fp))
                expected[app_id(path)] = None
            elif force:
                # Delta COPY INTO force semantics: re-load EVERY
                # offered file, modified or not (checked before the
                # fingerprint-match skip — an unmodified file must not
                # silently win the skip branch under force)
                to_load.append((path, fp))
                expected[app_id(path)] = rec
            elif rec == fp:
                skipped += 1
            else:
                modified.append(path)
        if modified and not force:
            shown = ", ".join(repr(p) for p in modified[:5])
            raise ValueError(
                f"copy_into: {len(modified)} previously-loaded file(s) "
                f"have been modified since ingest ({shown}"
                + (", ..." if len(modified) > 5 else "")
                + "); pass force=True to re-load them (their rows append "
                "again) or restore the original files"
            )

        if dry_run:
            return {
                "dry_run": True,
                "files_loaded": len(to_load),
                "files_skipped": skipped,
                "version": snap.version if snap else -1,
            }
        if not to_load:
            return {
                "version": snap.version if snap else -1,
                "files_loaded": 0,
                "files_skipped": skipped,
                "num_output_rows": 0,
            }

        df = (self.spark.read.format(file_format).options(**opts)
              .load([p for p, _ in to_load]))
        res = self.write(
            df,
            mode=WriteMode.append,
            partition_columns=partition_columns,
            schema_mode=schema_mode,
            writer_properties=writer_properties,
            commit_metadata=commit_metadata,
            _copy_txns={app_id(p): m for p, m in to_load},
            _copy_txns_expected=expected,
        )
        res.update({
            "files_loaded": len(to_load),
            "files_skipped": skipped,
        })
        return res

    # -- CHECK constraints (delta-rs add_constraint parity) -----------------

    def constraints(self) -> dict[str, str]:
        """Active CHECK constraints: name → SQL expression (stored as
        ``dds.constraints.<name>`` table properties, the
        ``delta.constraints.*`` analogue)."""
        cfg = self.snapshot().metadata.configuration
        return {
            k[len(_CONSTRAINT_PREFIX):]: v
            for k, v in cfg.items()
            if k.startswith(_CONSTRAINT_PREFIX)
        }

    def _enforce_constraints(
        self, df: DataFrame, configuration: dict[str, str]
    ) -> None:
        """ONE aggregation pass counting violators of every constraint
        (a row violates when the expression is not TRUE — NULL counts
        as a violation, matching Delta CHECK semantics)."""
        checks = {
            k[len(_CONSTRAINT_PREFIX):]: v
            for k, v in (configuration or {}).items()
            if k.startswith(_CONSTRAINT_PREFIX)
        }
        checks.update({
            f"NOT NULL {c}": f"{c} IS NOT NULL"
            for c in _not_null_columns(configuration)
        })
        if not checks:
            return
        counts = df.select([
            F.sum(
                F.when(~F.expr(expr).eqNullSafe(F.lit(True)), 1)
                .otherwise(0)
            ).alias(name)
            for name, expr in checks.items()
        ]).collect()[0]
        bad = {n: counts[n] for n in checks if (counts[n] or 0) > 0}
        if bad:
            detail = ", ".join(
                f"{n} ({bad[n]} row(s) violate: {checks[n]!r})"
                for n in sorted(bad))
            raise ConstraintViolationError(
                f"CHECK constraint violation: {detail}")

    def _enforce_generated(
        self, df: DataFrame, gencols: dict[str, str]
    ) -> None:
        """ONE aggregation pass validating PROVIDED generated columns:
        every row must satisfy ``col <=> expr`` (null-safe, so a null
        value only passes where the expression is also null)."""
        counts = df.select([
            F.sum(
                F.when(~F.col(c).eqNullSafe(F.expr(gexpr)), 1).otherwise(0)
            ).alias(c)
            for c, gexpr in gencols.items()
        ]).collect()[0]
        bad = {c: counts[c] for c in gencols if (counts[c] or 0) > 0}
        if bad:
            detail = ", ".join(
                f"{c} ({bad[c]} row(s) != {gencols[c]!r})"
                for c in sorted(bad))
            raise GeneratedColumnViolationError(
                f"generated column mismatch: {detail}")

    def add_constraint(self, name: str, expr: str) -> dict[str, Any]:
        """ADD CONSTRAINT: validates the expression against EXISTING
        rows (full scan, like Delta's ALTER TABLE ADD CONSTRAINT),
        then commits the table property.  Subsequent write / merge /
        update calls enforce it on incoming rows."""
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(f"invalid constraint name {name!r}")
        snap = self.snapshot()
        key = _CONSTRAINT_PREFIX + name
        if key in snap.metadata.configuration:
            raise ValueError(f"constraint {name!r} already exists")
        self._enforce_constraints(
            self._read_files(snap, snap.files), {key: expr})
        return self._commit_rewrite(
            snap, [], [], "ADD CONSTRAINT",
            operation_parameters={"name": name, "expr": expr},
            metadata=lambda cur: dataclasses.replace(
                cur.metadata,
                configuration={**cur.metadata.configuration, key: expr},
            ),
        )

    def drop_constraint(
        self, name: str, *, raise_if_missing: bool = True
    ) -> dict[str, Any]:
        snap = self.snapshot()
        key = _CONSTRAINT_PREFIX + name
        if key not in snap.metadata.configuration:
            if raise_if_missing:
                raise ValueError(f"constraint {name!r} does not exist")
            return {"version": snap.version}

        def build(cur: Snapshot) -> Metadata:
            cfg = dict(cur.metadata.configuration)
            cfg.pop(key, None)
            return dataclasses.replace(cur.metadata, configuration=cfg)

        return self._commit_rewrite(
            snap, [], [], "DROP CONSTRAINT",
            operation_parameters={"name": name},
            metadata=build,
        )

    def add_columns(self, columns: dict[str, str]) -> dict[str, Any]:
        """ALTER TABLE ADD COLUMNS (delta-rs ``alter.add_columns``
        analogue): a pure METADATA commit — existing files read the new
        columns as NULL (the same late-column widening rule every read
        path already applies).  ``columns`` maps name -> Spark SQL type
        string.  Name collisions with live columns refuse; a re-added
        previously-DROPPED name gets a fresh physical via the column
        mapping (no resurrection of buried values)."""
        from pyspark.sql.types import _parse_datatype_string

        def build(cur: Snapshot) -> Metadata:
            schema = StructType.fromJson(_json_loads(cur.schema_json))
            live = {f.name for f in schema.fields}
            dup = sorted(set(columns) & live)
            if dup:
                raise ValueError(f"column(s) {dup} already exist")
            for name, typ in columns.items():
                schema = schema.add(name, _parse_datatype_string(typ),
                                    True)
            _, colmap_updates = _evolve_mapping(
                cur.metadata.configuration, schema)
            return dataclasses.replace(
                cur.metadata,
                schema_json=schema.json(),
                configuration={**cur.metadata.configuration,
                               **colmap_updates},
            )

        snap = self.snapshot()
        build(snap)  # eager validation
        return self._commit_rewrite(
            snap, [], [], "ADD COLUMNS",
            operation_parameters={"columns": json.dumps(columns)},
            metadata=build,
        )

    def set_properties(self, properties: dict[str, str]) -> dict[str, Any]:
        """ALTER TABLE SET TBLPROPERTIES — a metadata commit merging
        ``properties`` into the table configuration.  Guard rails for
        properties that ARE machinery: CHECK constraints go through
        ``add_constraint`` (it validates existing rows); the column
        mapping and its dropped-physical ledger are owned by
        rename/drop_column (hand-editing would expose buried data);
        identity specs refuse on a populated table (no high-water
        initialization → duplicate ids); NOT NULL declarations
        validate existing rows here, same as a CHECK would."""
        bad = [k for k in properties if k.startswith(_CONSTRAINT_PREFIX)]
        if bad:
            raise ValueError(
                f"{bad} are CHECK constraints — use add_constraint, "
                "which validates existing rows")
        owned = {_COLMAP_KEY, _DROPPED_KEY} & set(properties)
        if owned:
            raise ValueError(
                f"{sorted(owned)} are owned by rename_column/"
                "drop_column — setting them directly can resurrect "
                "dropped data")
        snap = self.snapshot()
        if _IDENTITY_KEY in properties and snap.files:
            raise ValueError(
                f"{_IDENTITY_KEY} on a populated table has no "
                "high-water initialization — the next write would "
                "allocate ids that may duplicate existing values; "
                "declare identity columns at create time")
        if _NOTNULL_KEY in properties and snap.files:
            self._enforce_constraints(
                self._read_files(snap, snap.files),
                {_NOTNULL_KEY: properties[_NOTNULL_KEY]})
        if _BLOOM_KEY in properties:
            # malformed specs / unsupported columns would fail every
            # later write — validate at SET time.  Setting on a
            # populated table is allowed: existing files simply carry
            # no bitmap (no skipping, still sound); OPTIMIZE rewrites
            # backfill them.
            spec = _bloom_columns({_BLOOM_KEY: properties[_BLOOM_KEY]})
            schema = StructType.fromJson(_json_loads(snap.schema_json))
            self._validate_bloom_spec(spec, schema, snap.partition_columns)
        if {_AUTOCOMPACT_KEY, _AUTOCOMPACT_MINFILES_KEY,
                _AUTOCOMPACT_TARGET_KEY} & set(properties):
            # malformed knobs would fail every later write at trigger
            # time — validate the merged spec at SET time
            _auto_compact_spec({
                **snap.metadata.configuration, **properties})
        if _APPEND_ONLY_KEY in properties:
            # malformed values must fail at SET time, not silently
            # unfreeze (or freeze) at the next DML
            _append_only({_APPEND_ONLY_KEY: properties[_APPEND_ONLY_KEY]})
        if _CDC_RETAIN_KEY in properties:
            # a malformed value would break every later vacuum —
            # validate at SET time
            try:
                window = int(properties[_CDC_RETAIN_KEY])
            except (TypeError, ValueError):
                window = -1
            if window < 0:
                raise ValueError(
                    f"{_CDC_RETAIN_KEY} must be a non-negative integer "
                    f"(versions of CDC history vacuum must retain), got "
                    f"{properties[_CDC_RETAIN_KEY]!r}")
        return self._commit_rewrite(
            snap, [], [], "SET TBLPROPERTIES",
            operation_parameters={"properties": json.dumps(properties)},
            metadata=lambda cur: dataclasses.replace(
                cur.metadata,
                configuration={**cur.metadata.configuration,
                               **properties},
            ),
        )

    def unset_properties(
        self, keys: Sequence[str], *, raise_if_missing: bool = True
    ) -> dict[str, Any]:
        owned = {_COLMAP_KEY, _DROPPED_KEY} & set(keys)
        if owned:
            raise ValueError(
                f"{sorted(owned)} are owned by rename_column/"
                "drop_column — unsetting them breaks every read of the "
                "mapped columns")
        bad = [k for k in keys if k.startswith(_CONSTRAINT_PREFIX)]
        if bad:
            raise ValueError(f"{bad} are CHECK constraints — use "
                             "drop_constraint")
        snap = self.snapshot()
        cfg = dict(snap.metadata.configuration)
        missing = [k for k in keys if k not in cfg]
        if missing and raise_if_missing:
            raise ValueError(f"propert{'y' if len(missing)==1 else 'ies'} "
                             f"{missing} not set")

        def build(cur: Snapshot) -> Metadata:
            fresh = dict(cur.metadata.configuration)
            for k in keys:
                fresh.pop(k, None)
            return dataclasses.replace(cur.metadata, configuration=fresh)

        return self._commit_rewrite(
            snap, [], [], "UNSET TBLPROPERTIES",
            operation_parameters={"properties": json.dumps(list(keys))},
            metadata=build,
        )

    def fsck(self, dry_run: bool = False) -> dict[str, Any]:
        """FSCK REPAIR TABLE (delta-rs ``FsckBuilder`` analogue):
        drop log entries whose data file — or whose deletion-vector
        sidecar — no longer exists on disk, so reads stop failing on
        externally-deleted files.  ``dry_run=True`` only reports.
        Driver-side existence probes ∝ live files (the same budget as
        snapshot loading); nothing is scanned."""
        snap = self.snapshot()
        doomed = []
        for a in snap.files:
            data = os.path.join(a.base or self.table_uri, a.path)
            dv = (os.path.join(a.dv_base or self.table_uri, a.dv_path)
                  if a.dv_path else None)
            if not os.path.exists(data) or (dv and not os.path.exists(dv)):
                doomed.append(a)
        if dry_run or not doomed:
            return {"version": snap.version, "dry_run": dry_run,
                    "num_removed_files": len(doomed),
                    "removed": [a.path for a in doomed]}
        res = self._commit_rewrite(
            snap, doomed, [], "FSCK",
            operation_parameters={"dry_run": "false"},
            extra_metrics={"num_removed_files": len(doomed)},
        )
        res["removed"] = [a.path for a in doomed]
        return res

    # -- column mapping (delta-rs ALTER TABLE RENAME/DROP COLUMN parity) ----

    @staticmethod
    def _validate_bloom_spec(
        spec: dict[str, dict],
        schema: StructType,
        partition_columns: Sequence[str],
    ) -> None:
        """A bloom column must exist, carry a supported (integral or
        string) type, and not be a partition column (partition pruning
        is already exact there)."""
        fields = {f.name: f.dataType for f in schema.fields}
        for col in spec:
            dtype = fields.get(col)
            if dtype is None:
                raise ValueError(
                    f"{_BLOOM_KEY} references unknown column {col!r} "
                    f"(have {sorted(fields)})")
            if not isinstance(dtype, _BLOOM_SUPPORTED_TYPES):
                raise ValueError(
                    f"{_BLOOM_KEY}[{col!r}]: type "
                    f"{dtype.simpleString()} is not bloom-indexable "
                    "(supported: byte/short/int/long/string — types "
                    "with an exact canonical rendering on both the "
                    "build and probe side)")
            if col in partition_columns:
                raise ValueError(
                    f"{_BLOOM_KEY}[{col!r}] is a partition column; "
                    "partition pruning is already exact — bloom "
                    "indexes are for high-cardinality data columns")

    def _check_column_alterable(self, snap: Snapshot, name: str) -> None:
        if name in snap.metadata.partition_columns:
            raise ValueError(
                f"column {name!r} is a partition column; partition columns "
                "cannot be renamed or dropped (hive directory names are "
                "physical layout)")
        ident = re.compile(rf"\b{re.escape(name)}\b", re.IGNORECASE)
        for key, expr in snap.metadata.configuration.items():
            if key.startswith(_CONSTRAINT_PREFIX) and ident.search(expr):
                raise ValueError(
                    f"column {name!r} is referenced by CHECK constraint "
                    f"{key[len(_CONSTRAINT_PREFIX):]!r}; drop the "
                    "constraint first")
        gencols = _generated_columns(snap.metadata.configuration)
        if name in gencols:
            raise ValueError(
                f"column {name!r} is a generated column; its generation "
                "expression is keyed by name — remove it from "
                f"{_GENCOL_KEY!r} first")
        for c, gexpr in gencols.items():
            if ident.search(gexpr):
                raise ValueError(
                    f"column {name!r} is referenced by generated column "
                    f"{c!r}'s expression {gexpr!r}")
        if name in _identity_columns(snap.metadata.configuration):
            raise ValueError(
                f"column {name!r} is an identity column; its spec and "
                f"high-water mark are keyed by name — remove it from "
                f"{_IDENTITY_KEY!r} first")
        if name in _bloom_columns(snap.metadata.configuration):
            raise ValueError(
                f"column {name!r} has a bloom filter index keyed by "
                f"name — unset it from {_BLOOM_KEY!r} first")
        defaults = _column_defaults(snap.metadata.configuration)
        if name in defaults:
            raise ValueError(
                f"column {name!r} has a column default keyed by name — "
                f"remove it from {_COLDEFAULT_KEY!r} first")
        for c, dexpr in defaults.items():
            if ident.search(dexpr):
                raise ValueError(
                    f"column {name!r} is referenced by column {c!r}'s "
                    f"default expression {dexpr!r}")

    def rename_column(self, old: str, new: str) -> dict[str, Any]:
        """ALTER TABLE RENAME COLUMN — a pure METADATA commit (no file
        is rewritten): the column's PHYSICAL name (the name its data
        was first written under) is frozen forever, the logical schema
        renames the field, and the mapping entry lets the read path
        alias physical -> logical.  Works across time travel (each
        snapshot reads under its own mapping), restore (files always
        carry physicals), clone, DVs (positional), and concurrent
        writers (they stage against physicals no rename can move).
        Partition and constraint-referenced columns refuse."""
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", new):
            raise ValueError(f"invalid column name {new!r}")

        def build(s: Snapshot) -> Metadata:
            schema = StructType.fromJson(_json_loads(s.schema_json))
            names = [f.name for f in schema.fields]
            if old not in names:
                raise ValueError(f"column {old!r} does not exist "
                                 f"(have {names})")
            if new in names:
                raise ValueError(f"column {new!r} already exists")
            self._check_column_alterable(s, old)
            mapping = _column_mapping(s.metadata.configuration)
            # the physical name survives the rename chain: a->b->c
            # keeps physical 'a' (first-written name), never an
            # intermediate
            physical = mapping.pop(old, old)
            mapping[new] = physical
            new_schema = StructType([
                StructField(new, f.dataType, f.nullable)
                if f.name == old else f
                for f in schema.fields
            ])
            cfg = dict(s.metadata.configuration)
            cfg[_COLMAP_KEY] = json.dumps(mapping, sort_keys=True)
            return dataclasses.replace(
                s.metadata,
                schema_json=new_schema.json(),
                configuration=cfg,
            )

        snap = self.snapshot()
        build(snap)  # eager validation against the planning snapshot
        return self._commit_rewrite(
            snap, [], [], "RENAME COLUMN",
            operation_parameters={"old": old, "new": new},
            metadata=build,
        )

    def drop_column(self, name: str) -> dict[str, Any]:
        """ALTER TABLE DROP COLUMN — metadata-only: the field leaves
        the logical schema; its file data stays on disk (older
        snapshots still read it) but its PHYSICAL name is RESERVED, so
        a later re-add of the same logical name gets a fresh physical
        and reads null for pre-drop files instead of silently
        resurrecting the dropped values (Delta's column-mapping drop
        semantics)."""
        def build(s: Snapshot) -> Metadata:
            schema = StructType.fromJson(_json_loads(s.schema_json))
            names = [f.name for f in schema.fields]
            if name not in names:
                raise ValueError(f"column {name!r} does not exist "
                                 f"(have {names})")
            if len(names) == 1:
                raise ValueError("cannot drop the table's only column")
            self._check_column_alterable(s, name)
            mapping = _column_mapping(s.metadata.configuration)
            physical = mapping.pop(name, name)
            dropped = set(_json_loads(
                s.metadata.configuration.get(_DROPPED_KEY) or "[]"))
            dropped.add(physical)
            new_schema = StructType(
                [f for f in schema.fields if f.name != name])
            cfg = dict(s.metadata.configuration)
            cfg[_COLMAP_KEY] = json.dumps(mapping, sort_keys=True)
            cfg[_DROPPED_KEY] = json.dumps(sorted(dropped))
            return dataclasses.replace(
                s.metadata,
                schema_json=new_schema.json(),
                configuration=cfg,
            )

        snap = self.snapshot()
        build(snap)  # eager validation
        return self._commit_rewrite(
            snap, [], [], "DROP COLUMN",
            operation_parameters={"name": name},
            metadata=build,
        )

    def partition_stats(
        self, dnf: Optional[Sequence[DnfFilter]] = None,
        version: Optional[int] = None,
    ) -> dict[str, Any]:
        """Log-scoped size/row-count stats (reference O3,
        handler.py:490-516: joins live files x add-actions; our log IS
        that join — zero data read).  ``version`` pins the snapshot so
        a caller reporting on its OWN commit isn't attributed a
        concurrent writer's later state."""
        snap = self.snapshot(version)
        files = self.pruned_files(snap, dnf)
        size = sum(a.size for a in files)
        rows = sum(a.live_records for a in files)
        return {
            "size_MB": size * 9.5367431640625e-07,  # same factor as handler.py:513
            "row_count": rows,
            "num_files": len(files),
        }

    # -- maintenance --------------------------------------------------------------

    def clone(
        self, target_uri: str, version: Optional[int] = None
    ) -> "DeltaSparkTable":
        """Shallow clone: create a new table at ``target_uri`` whose
        version-0 log REFERENCES this table's data files (at
        ``version``, default head) without copying a byte — the Delta
        SHALLOW CLONE analogue, and the zero-copy way to hand a 100 TB
        table to a dev/test/experiment pipeline.

        Mechanics: every cloned add action carries ``base`` = this
        table's root (absolute), so the clone's reads resolve and
        partition-prune against the original files while writes,
        merges, overwrites and OPTIMIZE on the clone land as
        clone-local files — the two tables only ever share the cloned
        bytes, and removal of a cloned file from the CLONE's log is
        pure metadata (``vacuum`` on the clone never touches foreign
        roots).  Cloning a clone re-points at the ORIGINAL roots
        (``a.base or src_root``), so chains don't daisy-chain reads.

        The clone gets a fresh table identity; provenance rides in
        table properties (``dds.cloneSource``/``dds.cloneVersion``)
        and the CLONE commit.  Caveat shared with every shallow-clone
        design: vacuum on the SOURCE can delete bytes the clone still
        references — retain the source, or re-materialize the clone
        (``create_or_replace`` + write) before dropping it.
        """
        snap = self.snapshot(version)
        target = DeltaSparkTable(self.spark, target_uri)
        if target.exists():
            raise TableExistsError(
                f"table already exists at {target_uri}")
        src_root = os.path.abspath(self.table_uri)
        adds = [
            dataclasses.replace(
                a, base=a.base or src_root,
                # deletion vectors resolve like data: a source-local DV
                # pins to the source root; a clone-local DV written
                # later overrides with dv_base=None (clone root)
                dv_base=(a.dv_base or src_root) if a.dv_path else None,
            )
            for a in snap.files
        ]
        txn = Transaction(target_uri, None, "CLONE", {
            "source": src_root, "sourceVersion": snap.version})
        txn.checks.append(_table_absent(target_uri, WriteMode.error))
        txn.commit(adds, metadata=Metadata(
            schema_json=snap.schema_json,
            partition_columns=list(snap.partition_columns),
            configuration=dict(
                snap.metadata.configuration,
                **{
                    "dds.cloneSource": src_root,
                    "dds.cloneVersion": str(snap.version),
                },
            ),
        ), metrics={
            "num_cloned_files": len(adds),
            "num_output_rows": sum(a.num_records for a in adds),
        })
        return target

    def _dml_compacting(
        self, res: dict[str, Any], configuration: Optional[dict[str, str]]
    ) -> dict[str, Any]:
        """Attach post-commit auto-compaction to a committed result:
        writes, merges and streaming batches, and copy-rewrite
        DELETE/UPDATE/REPLACE WHERE (and DV updates, whose updated
        copies append as new files), which fragment files exactly like
        writes do (Databricks triggers autoCompact after DML too).
        Best-effort on races."""
        ac = self._maybe_auto_compact(configuration)
        if ac:
            res["auto_compacted_files"] = ac.get("rewritten_files", 0)
            res["auto_compact_version"] = ac.get("version")
        return res

    def _maybe_auto_compact(
        self, configuration: Optional[dict[str, str]]
    ) -> Optional[dict[str, Any]]:
        """Post-commit auto-compaction (the Delta autoCompact
        analogue): when the just-committed table holds >= minFiles
        files under targetFileSize, run a synchronous OPTIMIZE as its
        own follow-up commit.  Best-effort by design — a concurrent
        writer beating the compaction must not fail the WRITE that
        already succeeded (Delta's auto-compact swallows the same
        race; the next write simply re-triggers)."""
        spec = _auto_compact_spec(configuration)
        if not spec:
            return None
        min_files, target = spec
        snap = self.snapshot()
        # mirror optimize()'s ACTUAL rewrite rule (size < target//2,
        # >= 2 per partition group) so the trigger never fires a
        # guaranteed no-op planning pass, and never on files optimize
        # would leave in place
        groups: dict[tuple, int] = {}
        for a in snap.files:
            if a.size < target // 2:
                key = tuple(sorted(a.partition_values.items()))
                groups[key] = groups.get(key, 0) + 1
        if sum(n for n in groups.values() if n > 1) < min_files:
            return None
        try:
            res = self.optimize(target_file_size=target)
        except (VersionConflictError, ConcurrentAppendError,
                ConcurrentDeleteError):
            # ANY lost race (incl. a concurrent compaction of the same
            # small files raising ConcurrentDeleteError) must not fail
            # the write that already committed — the next write simply
            # re-triggers
            return None
        # only report a compaction that actually committed
        return res if res.get("rewritten_files", 0) > 0 else None

    def optimize(
        self,
        target_file_size: int = 128 * 1024 * 1024,
        cluster_by: Optional[Sequence[str]] = None,
        num_files: Optional[int] = None,
        partition_dnf: Optional[Sequence[DnfFilter]] = None,
    ) -> dict[str, Any]:
        """Compaction, optionally with range-clustering.

        Without ``cluster_by``: bin-pack small files per partition.
        With ``cluster_by``: rewrite ALL files range-partitioned and
        sorted on the given columns (the Z-order-style layout
        optimization) — per-file min/max footers become tight disjoint
        ranges, so data skipping on those columns prunes most files.
        Not in the reference (delta-rs exposes optimize); essential at
        scale.

        ``partition_dnf`` scopes either mode to matching partitions —
        Delta's ``OPTIMIZE ... WHERE``: at 100 TB compaction runs on
        the partitions a pipeline just wrote (e.g. today's date), not
        the whole table, so the maintenance bill is O(fresh data).
        Like Delta, only PARTITION-column predicates are accepted
        (a data-column scope would force a row scan to decide file
        membership — the opposite of a metadata-scoped maintenance
        op); unscoped files are untouched and invisible to the
        rewrite commit."""
        snap = self.snapshot()
        tablelog.check_write_support(snap.protocol, self.table_uri)
        schema = StructType.fromJson(_json_loads(snap.schema_json))
        scoped = list(snap.files)
        op_params: Optional[dict[str, Any]] = None
        if partition_dnf:
            pcols = set(snap.partition_columns)
            bad = [n for n, _op, _v in partition_dnf if n not in pcols]
            if bad:
                raise ValueError(
                    f"optimize(partition_dnf=...) accepts only "
                    f"partition-column predicates (Delta's OPTIMIZE "
                    f"WHERE rule); {sorted(set(bad))} are not in "
                    f"partition columns {sorted(pcols)}")
            # operators must be ones the partition matcher actually
            # applies — an unknown op would constrain NOTHING and the
            # scope would silently widen to the whole table (the
            # opposite of a maintenance scope's contract)
            bad_ops = sorted({
                op for _n, op, _v in partition_dnf
                if op not in ("=", "in", ">=", ">", "<", "<=")})
            if bad_ops:
                raise ValueError(
                    f"optimize(partition_dnf=...) supports operators "
                    f"=, in, >=, >, <, <= on partition values; got "
                    f"{bad_ops}")
            scoped = self.pruned_files(snap, partition_dnf)
            op_params = {"predicate": dnf_to_sql(partition_dnf)}
        if cluster_by:
            to_rewrite = scoped
            if not to_rewrite:
                return {"rewritten_files": 0, "version": snap.version}
            n = num_files or max(
                1, sum(f.size for f in to_rewrite) // target_file_size + 1
            )
            df = (
                self._read_files(snap, to_rewrite)
                .repartitionByRange(n, *[F.col(c) for c in cluster_by])
                .sortWithinPartitions(*cluster_by)
            )
            adds = _stage_dataframe(
                df, self.table_uri, snap.partition_columns, schema,
                mapping=_column_mapping(snap.metadata.configuration),
                bloom_spec=_bloom_columns(snap.metadata.configuration),
            )
            return self._commit_rewrite(
                snap, to_rewrite, adds, "OPTIMIZE CLUSTER",
                operation_parameters=op_params)
        groups: dict[tuple, list[AddFile]] = {}
        for a in scoped:
            key = tuple(sorted(a.partition_values.items()))
            groups.setdefault(key, []).append(a)
        to_rewrite = []
        for _key, files in groups.items():
            # DV-masked files always qualify (Delta OPTIMIZE parity:
            # compaction is how merge-on-read masks leave the table —
            # a LONE masked file must still compact)
            small = [f for f in files
                     if f.size < target_file_size // 2 or f.dv_path]
            if len(small) > 1 or any(f.dv_path for f in small):
                to_rewrite.extend(small)
        if not to_rewrite:
            return {"rewritten_files": 0, "version": snap.version}
        df = self._read_files(snap, to_rewrite).coalesce(
            max(1, sum(f.size for f in to_rewrite) // target_file_size + 1)
        )
        adds = _stage_dataframe(
            df, self.table_uri, snap.partition_columns, schema,
            mapping=_column_mapping(snap.metadata.configuration),
            bloom_spec=_bloom_columns(snap.metadata.configuration))
        return self._commit_rewrite(snap, to_rewrite, adds, "OPTIMIZE",
                                    operation_parameters=op_params)

    def _commit_rewrite(
        self,
        snap: Snapshot,
        removes: list[AddFile],
        adds: list[AddFile],
        operation: str,
        operation_parameters: Optional[dict[str, Any]] = None,
        extra_metrics: Optional[dict[str, Any]] = None,
        metadata: Optional[Any] = None,
    ) -> dict[str, Any]:
        """Commit a rewrite (DML, compaction, restore, FSCK) or a
        metadata change planned against ``snap``.  The committed file
        set folds onto the fresh head, so a concurrent append survives;
        a concurrent removal of any file this rewrite replaces aborts
        it (its output would resurrect deleted rows).  ``metadata``
        may be a callable of the fresh head (see ``Transaction``)."""
        txn = Transaction(self.table_uri, snap, operation,
                          operation_parameters)
        if operation in _APPEND_ONLY_FORBIDDEN_OPS:
            # compactions, FSCK and metadata commits are allowed on a
            # frozen table and skip this
            txn.checks.append(_not_append_only(self.table_uri, operation))
        txn.checks.append(_removes_live(operation, removes))
        committed = txn.commit(adds, removes, metadata,
                               metrics=extra_metrics)
        return {"rewritten_files": len(removes),
                "version": committed.version,
                "num_added_files": len(adds),
                "num_removed_files": len(removes),
                **(extra_metrics or {})}

    def zorder(
        self,
        columns: Sequence[str],
        *,
        bits: int = 16,
        num_files: Optional[int] = None,
        target_file_size: int = 128 * 1024 * 1024,
    ) -> dict[str, Any]:
        """True multi-column Z-order: interleave the bits of each
        column's normalized rank bucket and rewrite files sorted along
        the resulting space-filling curve — every listed column gets
        useful min/max skipping (single-column range clustering only
        helps its leading column).

        Two passes: (1) per-column min/max from the log's own stats
        where available (zero data read) else a tiny agg job;
        (2) rewrite ordered by the interleaved key.  Numeric columns
        only."""
        snap = self.snapshot()
        tablelog.check_write_support(snap.protocol, self.table_uri)
        schema = StructType.fromJson(_json_loads(snap.schema_json))
        fields = {f.name: f.dataType for f in schema.fields}
        if not columns:
            raise ValueError("zorder requires at least one column")
        unknown = [c for c in columns if c not in fields]
        if unknown:
            raise ValueError(f"zorder: unknown column(s) {unknown}")
        non_numeric = [
            c for c in columns if not isinstance(fields[c], NumericType)
        ]
        if non_numeric:
            # interpolating a non-numeric bound into the bucket SQL
            # would render garbage expressions ('(name - Alice)'); fail
            # fast instead of at Spark analysis (or worse, silently)
            raise ValueError(
                f"zorder requires numeric columns; non-numeric: "
                f"{non_numeric}"
            )
        files = list(snap.files)
        if not files:
            return {"rewritten_files": 0, "version": snap.version}
        df = self._read_files(snap, files)

        # bit positions must fit a signed 64-bit long: position
        # bits*n - 1 > 62 would set the sign bit (inverting the most
        # significant curve bit) or wrap via JVM shift masking
        n = len(columns)
        bits = min(bits, 63 // n)

        # pass 1: global min/max per z column (log stats when complete)
        bounds: dict[str, tuple[float, float]] = {}
        from_log = all(
            c in a.stats.get("minValues", {}) for a in files for c in columns
        )
        if from_log:
            for c in columns:
                # stats may be string-rendered (decimals) — coerce to
                # the column type before folding and float() for SQL
                bounds[c] = (
                    min(float(_coerce_stat(a.stats["minValues"][c],
                                           fields[c])) for a in files),
                    max(float(_coerce_stat(a.stats["maxValues"][c],
                                           fields[c])) for a in files),
                )
        else:
            row = df.agg(*[F.min(c).alias(f"mn_{c}") for c in columns],
                         *[F.max(c).alias(f"mx_{c}") for c in columns]).collect()[0]
            for c in columns:
                bounds[c] = (float(row[f"mn_{c}"]), float(row[f"mx_{c}"]))

        # bucket each column into [0, 2^bits) by linear normalization
        bucket_exprs = []
        for c in columns:
            lo, hi = bounds[c]
            span = (hi - lo) or 1
            bucket_exprs.append(
                f"CAST(least(greatest(({c} - {lo}) / {span}, 0.0), 1.0) "
                f"* {(1 << bits) - 1} AS BIGINT)"
            )
        terms = []
        for j in range(bits):
            for i in range(n):
                terms.append(
                    f"(shiftleft(shiftright(__zb{i}, {j}) & 1, {j * n + i}))"
                )
        z_input = df
        for i, be in enumerate(bucket_exprs):
            z_input = z_input.withColumn(f"__zb{i}", F.expr(be))
        z = z_input.withColumn("__z", F.expr(" | ".join(terms)))
        nf = num_files or max(1, sum(f.size for f in files) // target_file_size + 1)
        ordered = (
            z.repartitionByRange(nf, F.col("__z"))
            .sortWithinPartitions("__z")
            .drop(*[f"__zb{i}" for i in range(n)], "__z")
        )
        adds = _stage_dataframe(
            ordered, self.table_uri, snap.partition_columns, schema,
            mapping=_column_mapping(snap.metadata.configuration),
            bloom_spec=_bloom_columns(snap.metadata.configuration))
        return self._commit_rewrite(snap, files, adds, "OPTIMIZE ZORDER")

    def describe_detail(self) -> dict[str, Any]:
        """DESCRIBE DETAIL analogue: table-level metadata summary from
        the log only (reference O3/O4 surface; Spark's DESCRIBE DETAIL
        on Delta)."""
        snap = self.snapshot()
        return {
            "format": "parquet+log",
            "id": snap.metadata.table_id,
            "location": self.table_uri,
            "createdAt": snap.metadata.created_time,
            "lastModified": snap.timestamp,
            "partitionColumns": list(snap.partition_columns),
            "numFiles": len(snap.files),
            "sizeInBytes": sum(a.size for a in snap.files),
            "numRecords": sum(a.live_records for a in snap.files),
            "properties": dict(snap.metadata.configuration),
            "version": snap.version,
            # log-retention visibility (r11): the oldest version still
            # replayable — 0 until cleanup_metadata truncates
            "earliestVersion": tablelog.earliest_version(self.table_uri),
            # protocol gate (r13): what reader/writer the table demands
            "minReaderVersion": snap.protocol.min_reader_version,
            "minWriterVersion": snap.protocol.min_writer_version,
            "readerFeatures": sorted(snap.protocol.reader_features),
            "writerFeatures": sorted(snap.protocol.writer_features),
        }

    def cleanup_metadata(
        self,
        retention_ms: int = 30 * 24 * 3600 * 1000,
        *,
        dry_run: bool = False,
    ) -> dict[str, Any]:
        """Expire old commit files and superseded checkpoints —
        Delta's ``delta.logRetentionDuration`` cleanup, the metadata
        sibling of :meth:`vacuum`.  Without it a long-running table's
        JSON log grows unboundedly (at one commit per streaming batch
        that is thousands of files per day at scale, and the directory
        listing in ``latest_version`` is O(log files)).

        Keeps everything a replay can still need: the boundary is the
        newest checkpoint whose deletable prefix is older than
        ``retention_ms``, clamped below ``head -
        dds.cdcRetainVersions`` so CDC feed decodes and vacuum's
        retention-floor walk keep their commit files.  Time travel,
        ``read_changes`` and streaming resumes below the boundary
        raise :class:`~.tablelog.LogTruncatedError` pointedly;
        ``history()`` simply ends at the boundary.  ``dry_run``
        reports what would be removed without deleting."""
        snap = self.snapshot()
        raw_retain = snap.metadata.configuration.get(_CDC_RETAIN_KEY)
        floor = 0
        if raw_retain is not None:
            try:
                floor = int(raw_retain)
            except (TypeError, ValueError):
                floor = -1
            if floor < 0:
                raise ValueError(
                    f"table property {_CDC_RETAIN_KEY} is malformed "
                    f"({raw_retain!r}); fix it with set_properties "
                    "before cleaning up metadata — truncating the log "
                    "under a broken retention floor could strand CDC "
                    "consumers")
        return tablelog.cleanup_log(
            self.table_uri,
            retention_ms=retention_ms,
            floor_versions=floor,
            dry_run=dry_run,
        )

    def vacuum(self, retention_ms: int = 7 * 24 * 3600 * 1000,
               *, dry_run: bool = False) -> list[str]:
        """Delete data files no longer referenced by the current
        snapshot and older than the retention window.
        ``dry_run=True`` (Delta's VACUUM DRY RUN) returns the exact
        list the real run would reclaim without touching a file —
        the operator's look-before-you-leap dial.

        If the table sets ``dds.cdcRetainVersions = N``, every data
        file and deletion-vector sidecar referenced by the snapshots
        of the last N versions is RETAINED regardless of
        ``retention_ms`` — a registered change-feed consumer lagging
        at most N versions can always decode, and an over-aggressive
        vacuum is corrected here (operator-visible: the files simply
        survive) instead of failing at decode time in the consumer."""
        snap = self.snapshot()
        # cloned (foreign-base) files live OUTSIDE this table's
        # directory — they are never deletion candidates here, and
        # their relative paths must not shadow same-named local junk
        live = {a.path for a in snap.files if a.base is None}
        live_dv = {a.dv_path for a in snap.files
                   if a.dv_path and a.dv_base is None}
        raw_retain = snap.metadata.configuration.get(_CDC_RETAIN_KEY)
        if raw_retain is not None:
            # CDC retention floor: union the protected window's live
            # sets — log replay only, one snapshot per protected
            # version, no data reads.  set_properties validates the
            # value, but create-time table_configuration bypasses it —
            # fail pointedly rather than reclaim files a feed needs.
            try:
                window = int(raw_retain)
            except (TypeError, ValueError):
                window = -1
            if window < 0:
                raise ValueError(
                    f"table property {_CDC_RETAIN_KEY} is malformed "
                    f"({raw_retain!r}); fix it with set_properties "
                    "before vacuuming — reclaiming files under a "
                    "broken retention floor could strand CDC consumers")
            # the union of live sets over [lo, head] = live(lo) plus
            # every file ADDED inside the window (a file live at some
            # window version was either live at lo or added after) —
            # ONE checkpoint-accelerated snapshot replay + an action
            # walk, not a full replay per protected version
            lo = max(0, snap.version - window)
            old = self.snapshot(lo)
            live |= {a.path for a in old.files if a.base is None}
            live_dv |= {a.dv_path for a in old.files
                        if a.dv_path and a.dv_base is None}
            for v in range(lo + 1, snap.version):
                for action in tablelog.read_version_actions(
                        self.table_uri, v):
                    if "add" not in action:
                        continue
                    a = AddFile.from_action(action["add"])
                    if a.base is None:
                        live.add(a.path)
                    if a.dv_path and a.dv_base is None:
                        live_dv.add(a.dv_path)
        cutoff = time.time() * 1000 - retention_ms
        deleted = []
        for dirpath, _dn, filenames in os.walk(self.table_uri):
            rel_dir = os.path.relpath(dirpath, self.table_uri)
            # Spark hidden-path convention: any _/.-prefixed component is
            # auxiliary (log dir, staging, streaming checkpoints, state
            # stores) — never vacuum inside those.  Hive partition dirs
            # always contain '=', so a partition COLUMN named '_x'
            # ('_x=v/') is still vacuumed.
            if rel_dir != "." and any(
                c.startswith(("_", ".")) and "=" not in c
                for c in rel_dir.split(os.sep)
            ):
                continue
            for fn in filenames:
                if not fn.endswith(".parquet"):
                    continue
                abs_p = os.path.join(dirpath, fn)
                rel = os.path.relpath(abs_p, self.table_uri)
                if rel in live:
                    continue
                if os.path.getmtime(abs_p) * 1000 > cutoff:
                    continue
                if not dry_run:
                    os.remove(abs_p)
                deleted.append(rel)
        # deletion-vector sidecars: each lives in its own dir under
        # _dv/ (hidden from the data walk above); a sidecar superseded
        # by a later delete/OPTIMIZE or dropped with its file is
        # vacuumable once past retention.  Same time-travel caveat as
        # data files — RESTORE across a vacuumed DV raises loudly.
        dv_root = os.path.join(self.table_uri, "_dv")
        if os.path.isdir(dv_root):
            for name in sorted(os.listdir(dv_root)):
                rel = os.path.join("_dv", name)
                abs_p = os.path.join(dv_root, name)
                if rel in live_dv:
                    continue
                if os.path.getmtime(abs_p) * 1000 > cutoff:
                    continue
                if not dry_run:
                    shutil.rmtree(abs_p, ignore_errors=True)
                deleted.append(rel)
        return deleted


def _jitter() -> float:
    # uniform(0,1)-ish without importing random at module scope each call
    import random

    return random.random() * 0.1


def _json_loads(s: str) -> dict[str, Any]:
    import json

    return json.loads(s)


def convert_to_table(
    spark: SparkSession,
    path: str,
    *,
    partition_columns: Optional[Sequence[str]] = None,
    partition_schema: Optional[dict[str, str]] = None,
    table_configuration: Optional[dict[str, str]] = None,
    dry_run: bool = False,
) -> dict[str, Any]:
    """``CONVERT TO DELTA`` analogue: register an EXISTING parquet
    directory as a transactional table IN PLACE — the data files stay
    exactly where they are; the conversion is a directory walk, a
    footer-stats harvest on the driver (the one every write commit
    runs), and ONE version-0 commit.  At 100 TB this is the
    onboarding path: minutes of metadata work instead of rewriting the
    dataset through a staged write.

    Hive-style partition directories (``col=value``, url-encoded,
    ``__HIVE_DEFAULT_PARTITION__`` for null) are decoded with the SAME
    rules the staged-write path uses, so a converted table's partition
    pruning, scoped overwrites and DML discovery behave identically to
    a born-transactional one.  ``partition_columns`` may be given
    explicitly (validated against the layout) or inferred from the
    directory structure; a ragged layout (files at different partition
    depths or with different keys) refuses.  Partition columns type as
    STRING unless ``partition_schema`` names their types
    (``{"year": "int"}``).

    Validation runs UP FRONT (before the footer harvest, and on
    ``dry_run`` too): the data files must agree on one schema (a
    drifted directory refuses — reads under one imposed schema would
    silently drop or null-fill the drifted columns; normalize it or
    load through ``spark.read`` + ``write()``), partition columns must
    not collide with data columns, and ``table_configuration`` may not
    carry row-semantics machinery keys (identity / constraints /
    NOT NULL / generated columns / defaults / column mapping) — those
    validate against ROWS, which conversion never reads; set them with
    ``set_properties`` afterwards, which runs the right checks.

    ``dry_run`` reports what version 0 would contain without
    committing.  Refuses if the directory already holds a table log.
    Returns a result dict either way (``DeltaSparkTable(spark, path)``
    is the handle after a real run).
    """
    root = str(path)
    if not os.path.isdir(root):
        raise FileNotFoundError(f"no directory at {root!r}")
    if tablelog.table_exists(root):
        raise TableExistsError(
            f"{root!r} already has a transaction log; convert_to_table "
            "only onboards plain parquet directories")

    rel_files: list[tuple[str, str]] = []  # (abs, rel)
    for dirpath, dirnames, filenames in os.walk(root):
        # Spark's EXACT hidden-dir rule (verified against 4.1.2's
        # HadoopFSUtils and empirically): dot-prefixed dirs are always
        # skipped — even '.tmp=1' — but underscore-prefixed dirs are
        # skipped ONLY when they contain no '=', because '_col=...'
        # hive partition dirs (a column named '_col') ARE read by
        # Spark.  Anything looser refuses stray hidden dirs as
        # ragged; anything stricter silently drops a '_'-named
        # partition column's data from the converted table.
        dirnames[:] = [d for d in dirnames
                       if not (d.startswith(".")
                               or (d.startswith("_") and "=" not in d))]
        for fn in filenames:
            if fn.endswith(".parquet") and not fn.startswith((".", "_")):
                ab = os.path.join(dirpath, fn)
                rel_files.append((ab, os.path.relpath(ab, root)))
    if not rel_files:
        raise ValueError(f"no parquet files under {root!r} to convert")
    rel_files.sort(key=lambda t: t[1])

    # decode hive partition dirs with the staged-write rules; every
    # directory level must be one col=value component
    part_values_by_rel: dict[str, dict[str, Optional[str]]] = {}
    key_seqs = set()
    for _ab, rel in rel_files:
        pv = _hive_layout(rel)
        if len(pv) != rel.count(os.sep):
            raise ValueError(
                f"non-hive subdirectory in {os.path.dirname(rel)!r} "
                f"under {root!r} (expected col=value at every level); "
                "move foreign files out or convert a clean directory")
        part_values_by_rel[rel] = pv
        key_seqs.add(tuple(pv))
    if len(key_seqs) != 1:
        raise ValueError(
            f"ragged partition layout under {root!r}: files carry "
            f"different partition key sequences {sorted(key_seqs)}")
    layout_cols = list(next(iter(key_seqs)))
    if partition_columns is not None:
        if list(partition_columns) != layout_cols:
            raise ValueError(
                f"partition_columns {list(partition_columns)} do not "
                f"match the directory layout {layout_cols}")
    pcols = layout_cols

    # data schema from the files themselves (ONE footer read — no
    # partition-type inference), partition columns appended with
    # caller-declared types (default string): the hive directory names
    # are strings, and silently re-typing them through Spark's
    # partition inference would make the converted schema depend on
    # the VALUES present at convert time (Delta's CONVERT takes the
    # partition schema explicitly for the same reason)
    from pyspark.sql.types import _parse_datatype_string

    data_schema = spark.read.parquet(rel_files[0][0]).schema
    bad_keys = set(partition_schema or {}) - set(pcols)
    if bad_keys:
        raise ValueError(
            f"partition_schema names non-partition column(s) "
            f"{sorted(bad_keys)}; layout partitions are {pcols}")
    collide = set(pcols) & {f.name for f in data_schema.fields}
    if collide:
        raise ValueError(
            f"partition column(s) {sorted(collide)} also exist INSIDE "
            f"the data files under {root!r}; committing both would "
            "produce a duplicate-column schema every read rejects — "
            "drop the physical column or convert as unpartitioned")
    fields = list(data_schema.fields)
    for c in pcols:
        typ = (partition_schema or {}).get(c, "string")
        fields.append(StructField(c, _parse_datatype_string(typ)))
    schema = StructType(fields)
    cfg = dict(table_configuration or {})

    # machinery keys validate against ROWS (identity marks, CHECK /
    # NOT NULL passes, generated-column derivations, column-mapping
    # physicals) — conversion reads no rows, so committing them would
    # advertise guarantees version 0 never established.  Refuse
    # pointedly; set_properties afterwards runs the right checks.
    _CONVERT_FORBIDDEN = (_IDENTITY_KEY, _NOTNULL_KEY, _GENCOL_KEY,
                          _COLDEFAULT_KEY, _COLMAP_KEY, _DROPPED_KEY)
    bad_cfg = sorted(
        k for k in cfg
        if k in _CONVERT_FORBIDDEN or k.startswith(_CONSTRAINT_PREFIX))
    if bad_cfg:
        raise ValueError(
            f"table_configuration key(s) {bad_cfg} cannot be set at "
            "convert time (they assert row-level guarantees the "
            "conversion never checked); convert first, then "
            "set_properties / add_constraint, which validate")
    if {_AUTOCOMPACT_KEY, _AUTOCOMPACT_MINFILES_KEY,
            _AUTOCOMPACT_TARGET_KEY} & set(cfg):
        _auto_compact_spec(cfg)  # malformed knobs fail NOW, not later
    if _CDC_RETAIN_KEY in cfg:
        try:
            ok = int(cfg[_CDC_RETAIN_KEY]) >= 0
        except (TypeError, ValueError):
            ok = False
        if not ok:
            raise ValueError(
                f"{_CDC_RETAIN_KEY} must be a non-negative integer, "
                f"got {cfg[_CDC_RETAIN_KEY]!r}")
    if _BLOOM_KEY in cfg:
        # validated BEFORE the harvest (which would build the bitmaps)
        # and on dry_run too — the write path's pre-staging rule
        DeltaSparkTable(spark, root)._validate_bloom_spec(
            _bloom_columns(cfg), schema, pcols)

    # cross-file schema agreement: the harvest opens every footer
    # anyway, and ONE imposed schema over a drifted directory silently
    # drops or null-fills the drifted columns on read.  Exact
    # (name, type) signatures — heterogeneous-but-compatible layouts
    # should be normalized through spark.read + write() instead.
    import pyarrow.parquet as pq_

    paths = [ab for ab, _ in rel_files]
    sigs = {tuple((f.name, str(f.type))
                  for f in pq_.ParquetFile(ab).schema_arrow)
            for ab in paths}
    if len(sigs) != 1:
        raise ValueError(
            f"the parquet files under {root!r} carry "
            f"{len(sigs)} different schemas; conversion imposes ONE "
            "schema on every file, which would silently drop or "
            "null-fill the drifted columns — normalize the directory "
            "or load it through spark.read + write() (mergeSchema)")

    stats_by_path = _harvest_stats(paths, _bloom_columns(cfg))
    adds: list[AddFile] = []
    total_rows = 0
    for ab, rel in rel_files:
        num_rows, stats = stats_by_path[ab]
        if num_rows == 0:
            continue
        total_rows += num_rows
        st = os.stat(ab)
        adds.append(AddFile(
            path=rel.replace(os.sep, "/"),
            size=st.st_size,
            num_records=num_rows,
            partition_values=part_values_by_rel[rel],
            stats=stats,
            modification_time=st.st_mtime_ns // 1_000_000,
        ))
    if dry_run:
        return {
            "dry_run": True,
            "num_files": len(adds),
            "num_rows": total_rows,
            "partition_columns": pcols,
        }

    txn = Transaction(root, None, "CONVERT", {"numFiles": len(adds)})
    txn.checks.append(_table_absent(root, WriteMode.error))
    txn.commit(adds, metadata=Metadata(
        schema_json=schema.json(), partition_columns=pcols,
        configuration=cfg), metrics={"num_output_rows": total_rows})
    return {
        "dry_run": False,
        "version": 0,
        "num_files": len(adds),
        "num_rows": total_rows,
        "partition_columns": pcols,
    }


#: Spark types a column-mapped Delta column may have.  Physical names
#: inside nested types would need per-level read aliasing, which this
#: engine's top-level column mapping does not do.
_DELTA_FLAT_TYPES = (ByteType, ShortType, IntegerType, LongType,
                     FloatType, DoubleType, DecimalType, StringType,
                     BooleanType, DateType, TimestampType, BinaryType)
#: Delta writer features with an exact engine equivalent; any other
#: declared feature refuses, because its guarantee would be silently
#: dropped.  v2Checkpoint is a log-format capability, not a data
#: guarantee: it describes how checkpoints in THEIR log are written,
#: and a convert replaces that log wholesale.
_DELTA_WRITER_FEATURES = frozenset({
    "appendOnly", "checkConstraints", "invariants", "columnMapping",
    "deletionVectors", "generatedColumns", "v2Checkpoint",
    "typeWidening", "typeWidening-preview"})


class _DeltaMetadata(NamedTuple):
    """A Delta head's metaData translated into this engine's terms."""

    schema: StructType
    pcols: list[str]
    cfg: dict[str, str]
    #: behaviour-claiming delta.* keys stripped from ``cfg``
    dropped: dict[str, str]
    #: delta.columnMapping.mode is 'name' or 'id'
    colmap_mode: bool
    #: (field id, physical name) per data column of an 'id'-mode table
    id_fields: list[tuple[int, str]]
    #: column type by PHYSICAL name, the key Delta stats use
    stat_types: dict[str, DataType]


def _delta_column_mapping(
    schema: StructType, mode: Optional[str], pcols: Sequence[str],
) -> tuple[StructType, dict[str, str], list[tuple[int, str]]]:
    """Translate a Delta schema's column mapping.  Returns the schema
    without ``delta.columnMapping.*`` field metadata, ``{logical:
    physical}`` for the renamed columns (the ``dds.columnMapping``
    shape), and (field id, physical name) per data column in 'id' mode.

    Refuses an unknown mode, a nested type under mode name or id, a
    renamed partition column (this engine's partition machinery —
    hive directories, partitionValues, pruning — is keyed by logical
    name), an 'id'-mode data column without an id, and a physical name
    that differs from the logical one while the mode is unset or
    'none' (reading logical names against physically-named file
    columns would return all-NULL data)."""
    if mode and mode not in ("none", "name", "id"):
        raise ValueError(
            f"delta.columnMapping.mode={mode!r} is not a Delta column "
            "mapping mode this engine decodes (spec modes: none, "
            "name, id)")
    mapped = mode in ("name", "id")
    colmap: dict[str, str] = {}
    id_fields: list[tuple[int, str]] = []
    fields = []
    for fld in schema.fields:
        md = dict(fld.metadata or {})
        phys = md.get("delta.columnMapping.physicalName")
        renamed = bool(phys) and phys != fld.name
        if not mapped:
            if renamed:
                raise ValueError(
                    f"column {fld.name!r} carries physical name "
                    f"{phys!r} but delta.columnMapping.mode is "
                    f"{mode!r}; refusing an internally inconsistent "
                    "log rather than reading the wrong columns")
            fields.append(fld)
            continue
        if not isinstance(fld.dataType, _DELTA_FLAT_TYPES):
            raise ValueError(
                f"column-mapped Delta log: column {fld.name!r} has "
                f"nested type {fld.dataType.simpleString()}; physical "
                "names inside nested types do not map to this "
                "engine's top-level column mapping")
        md.pop("delta.columnMapping.physicalName", None)
        cid = md.pop("delta.columnMapping.id", None)
        if fld.name in pcols:
            if renamed:
                raise ValueError(
                    f"partition column {fld.name!r} carries physical "
                    f"name {phys!r}: renamed partition columns do not "
                    "decode (partition directories and partitionValues "
                    "are keyed physical while this engine's partition "
                    "machinery is logical)")
        elif mode == "id":
            if cid is None:
                raise ValueError(
                    f"delta.columnMapping.mode='id' but column "
                    f"{fld.name!r} has no delta.columnMapping.id — "
                    "internally inconsistent log, refusing")
            id_fields.append((int(cid), str(phys or fld.name)))
        if renamed:
            colmap[fld.name] = str(phys)
        fields.append(StructField(fld.name, fld.dataType, fld.nullable,
                                  md))
    return StructType(fields), colmap, id_fields


def _fold_delta_head(
    root: str, log: delta_interop.LogSegment,
) -> tuple[dict[str, Any], dict[str, dict[str, Any]], dict[str, int],
           set[str]]:
    """Convert stage 1: fold the segment's actions to the head state.
    Returns the last metaData, the surviving add actions by URL-decoded
    path, the SetTransaction ledger and the head's writer features.
    Every protocol action passes the reader gate.  Adds are validated
    later and over the surviving files only: a long-removed
    absolute-path file must not refuse a table whose head converts."""
    meta: Optional[dict[str, Any]] = None
    files: dict[str, dict[str, Any]] = {}
    app_versions: dict[str, int] = {}
    writer_features: set[str] = set()
    for actions in [log.checkpoint_actions] + [a for _v, a in log.commits]:
        for action in actions:
            if "protocol" in action:
                delta_interop.check_reader_protocol(action["protocol"],
                                                    root)
                writer_features = set(
                    action["protocol"].get("writerFeatures") or [])
            elif "metaData" in action:
                meta = action["metaData"]
            elif "add" in action:
                files[unquote(action["add"]["path"])] = action["add"]
            elif "remove" in action:
                files.pop(unquote(action["remove"]["path"]), None)
            elif "txn" in action:
                t = action["txn"]
                app_versions[t["appId"]] = max(
                    app_versions.get(t["appId"], -1), int(t["version"]))
    if meta is None:
        raise ValueError(
            f"Delta log under {os.path.join(root, '_delta_log')!r} has "
            "no metaData action — not a valid table")
    return meta, files, app_versions, writer_features


def _delta_field_contracts(
    schema: StructType,
) -> tuple[StructType, dict[str, str], dict[str, str], list[str]]:
    """Per-field writer contracts of a Delta schema, which this
    engine's writers enforce once they take over.  Generation
    expressions and invariants are Spark SQL (delta-spark writes them),
    so they translate; nullable=false is Delta's NOT NULL invariant.
    Returns the schema with those contracts stripped and every field
    nullable (this engine's convention), the generation expressions,
    the invariants as ``{constraint name: expression}``, and the NOT
    NULL columns.  IDENTITY columns refuse: Delta's sparse
    high-watermark and this engine's dense prefix-sum allocate
    different ids, and a silent swap would change the ids a downstream
    join depends on."""
    gen_exprs: dict[str, str] = {}
    invariants: dict[str, str] = {}
    fields = []
    for fld in schema.fields:
        md = dict(fld.metadata or {})
        if any(k.startswith("delta.identity.") for k in md):
            raise ValueError(
                f"column {fld.name!r} is a Delta IDENTITY column; the "
                "id-allocation strategies differ between engines and "
                "a silent swap would change future ids — drop the "
                "identity contract with a Delta writer first")
        if "delta.typeWidening" in md:
            # kept inert in the stored schema (the export re-declares
            # the feature from it), but the recorded promotions must be
            # ones this engine's reads perform
            _validate_type_widening(fld.name, md["delta.typeWidening"])
        gexpr = md.pop("delta.generationExpression", None)
        if gexpr is not None:
            try:
                F.expr(str(gexpr))
            except Exception as e:
                raise ValueError(
                    f"column {fld.name!r} generation expression "
                    f"{gexpr!r} does not parse as Spark SQL: {e}"
                ) from e
            gen_exprs[fld.name] = str(gexpr)
        inv = md.pop("delta.invariants", None)
        if inv is not None:
            try:
                expr = _json_loads(inv)["expression"]["expression"]
            except Exception as e:  # incl. JSONDecodeError
                raise ValueError(
                    f"column {fld.name!r} invariant {inv!r} is not "
                    f"the spec JSON shape: {e}") from e
            try:
                F.expr(str(expr))
            except Exception as e:
                raise ValueError(
                    f"column {fld.name!r} invariant expression "
                    f"{expr!r} is not Spark SQL: {e}") from e
            invariants[f"invariant_{fld.name}"] = str(expr)
        fields.append(StructField(fld.name, fld.dataType, True, md))
    not_null = [f.name for f in schema.fields if not f.nullable]
    return StructType(fields), gen_exprs, invariants, not_null


def _translate_delta_metadata(
    root: str, meta: dict[str, Any], writer_features: set[str],
) -> _DeltaMetadata:
    """Convert stage 2: the head metaData in this engine's terms —
    writer features, field contracts, configuration and column
    mapping.  Writer-side contracts convert or refuse, never silently
    drop: the original table's writers enforced them."""
    unmappable = sorted(writer_features - _DELTA_WRITER_FEATURES)
    if unmappable:
        raise ValueError(
            f"Delta table at {root!r} declares writer feature(s) "
            f"{unmappable} this engine cannot honor; converting "
            "would silently drop a guarantee its writers enforced")
    dcfg = dict(meta.get("configuration") or {})
    mode = dcfg.pop("delta.columnMapping.mode", None)
    dcfg.pop("delta.columnMapping.maxColumnId", None)
    schema, gen_exprs, invariants, not_null = _delta_field_contracts(
        StructType.fromJson(_json_loads(meta["schemaString"])))
    pcols = list(meta.get("partitionColumns") or [])
    missing_pcols = [c for c in pcols
                     if c not in {f.name for f in schema.fields}]
    if missing_pcols:
        raise ValueError(
            f"partitionColumns {missing_pcols} are not in the schema; "
            "the log is malformed and the converted table's partition "
            "reads would silently drop those columns")
    schema, colmap, id_fields = _delta_column_mapping(schema, mode, pcols)
    foreign_dds = sorted(k for k in dcfg if k.startswith("dds."))
    if foreign_dds:
        raise ValueError(
            f"source Delta configuration carries engine-namespace "
            f"key(s) {foreign_dds}; machinery keys cannot arrive via "
            "a foreign log unvalidated — convert without them, then "
            "set_properties (which runs the right checks)")
    cfg = dict(dcfg)
    if "delta.appendOnly" in cfg:
        cfg[_APPEND_ONLY_KEY] = cfg.pop("delta.appendOnly")
        _append_only(cfg)  # malformed value fails NOW
    # delta.constraints.* have the same expression-per-key shape;
    # existing rows were checked by the Delta writer that committed them
    for k in [k for k in cfg if k.startswith("delta.constraints.")]:
        cfg[_CONSTRAINT_PREFIX + k[len("delta.constraints."):]] = \
            cfg.pop(k)
    if gen_exprs:
        cfg[_GENCOL_KEY] = json.dumps(gen_exprs, sort_keys=True)
    if not_null:
        cfg[_NOTNULL_KEY] = json.dumps(not_null)
    for cname, cexpr in invariants.items():
        if _CONSTRAINT_PREFIX + cname in cfg:
            raise ValueError(
                f"invariant name collision: {cname!r} exists both as "
                "a field invariant and a table constraint")
        cfg[_CONSTRAINT_PREFIX + cname] = cexpr
    # behaviour-claiming keys describe machinery this engine does not
    # run (no _change_data is written here, no Delta auto-optimize or
    # widening-on-write fires): carrying them would misdescribe the
    # table, and enableTypeWidening could export under a legacy
    # protocol a spec-conformant writer rejects.  The pre-convert feed
    # stays readable through read_delta_changes.
    dropped = {
        k: cfg.pop(k) for k in sorted(cfg)
        if k in ("delta.enableChangeDataFeed",
                 "delta.enableDeletionVectors",
                 "delta.enableTypeWidening")
        or k.startswith("delta.autoOptimize.")
    }
    if colmap:
        cfg[_COLMAP_KEY] = json.dumps(colmap, sort_keys=True)
    return _DeltaMetadata(
        schema, pcols, cfg, dropped, mode in ("name", "id"), id_fields,
        {colmap.get(f.name, f.name): f.dataType for f in schema.fields})


def _check_delta_file(root: str, add: dict[str, Any], pcols: Sequence[str],
                      label: str, missing_hint: str) -> str:
    """Convert stage 3: validate one Delta add action's data file and
    return its URL-decoded relative path.  The file must be
    table-relative, exist on disk, and sit in hive directories that
    encode its partitionValues: reads recover partition columns from
    the directory names while pruning uses partitionValues, and the
    two must agree.  ``label`` and ``missing_hint`` word the errors."""
    rel = unquote(add["path"])
    if "://" in add["path"] or os.path.isabs(rel):
        raise ValueError(
            f"{label} add path {add['path']!r} is absolute (shallow "
            "clone?); only table-relative files convert")
    if not os.path.isfile(os.path.join(root, rel)):
        # the spec URL-encodes add paths; a writer that stored raw
        # paths with literal %XX sequences lands here
        if rel != add["path"] and os.path.isfile(
                os.path.join(root, add["path"])):
            raise ValueError(
                f"add path {add['path']!r} exists on disk verbatim "
                "but not URL-decoded — the writer did not URL-encode "
                "its paths as the Delta spec requires; this engine "
                "cannot disambiguate literal %XX sequences, refuse "
                "rather than guess")
        raise FileNotFoundError(
            f"Delta log references {label} file {rel!r} but the file "
            f"is gone (vacuumed?); {missing_hint}")
    pv = dict(add.get("partitionValues") or {})
    layout = _hive_layout(rel)
    if list(layout) != list(pcols) or any(
            layout.get(c) != pv.get(c) for c in pcols):
        raise ValueError(
            f"{label} file {rel!r} does not encode its partition values "
            f"{pv} as hive {'/'.join(c + '=...' for c in pcols)} "
            "directories; this engine's reads recover partition "
            "columns from the directory layout — rewrite through "
            "a hive-layout writer first.  (If the values contain "
            "literal %XX sequences, a non-URL-encoding writer may "
            "be the cause — the spec requires encoded paths)")
    return rel


def _plan_delta_history(
    root: str, log: delta_interop.LogSegment, meta: _DeltaMetadata,
    files: dict[str, dict[str, Any]],
) -> list[dict[str, Any]]:
    """Convert stage 4 (``preserve_history``): one replay plan entry
    per Delta JSON commit, every refusal raised before anything is
    written.  The scope is what this engine reproduces per version:
    JSON from version 0, no column mapping, no deletion vectors,
    every historical file on disk in hive layout, no contract-carrying
    historical schemas and a stable partition layout."""
    if log.checkpoint is not None:
        raise ValueError(
            "preserve_history replays the JSON history from version 0; "
            "this log is checkpoint-reconstructed or incomplete — use "
            "the snapshot convert")
    if meta.colmap_mode:
        raise ValueError(
            "column-mapped histories do not replay (per-version "
            "schema translation); use the snapshot convert")
    if any(a.get("deletionVector") for a in files.values()):
        raise ValueError(
            "deletion-vector-carrying histories do not replay "
            "(per-version sidecar reconstruction); the snapshot "
            "convert decodes head DVs instead")
    plan = []
    for v, actions in log.commits:
        # data ops keep ACTION ORDER, as the head fold applies them
        ops: list[tuple[str, str, Optional[dict[str, Any]]]] = []
        n_adds = n_removes = 0
        txns: list[dict[str, Any]] = []
        schema: Optional[StructType] = None
        op = ""
        ts: Optional[int] = None
        all_nc = True  # all actions dataChange=false (compaction)
        for action in actions:
            if "commitInfo" in action:
                ci = action["commitInfo"]
                op = ci.get("operation", "")
                if isinstance(ci.get("timestamp"), int):
                    ts = ci["timestamp"]
            elif "add" in action:
                a = action["add"]
                if a.get("deletionVector"):
                    raise ValueError(
                        f"version {v} carries a deletion vector; DV "
                        "histories do not replay — use the snapshot "
                        "convert")
                # time travel reads every historical file, not only
                # the survivors the head check covered
                rel = _check_delta_file(
                    root, a, meta.pcols, "historical",
                    "preserve_history needs every historical file — "
                    "use the snapshot convert")
                all_nc = all_nc and not a.get("dataChange", True)
                ops.append(("add", rel, a))
                n_adds += 1
            elif "remove" in action:
                r = action["remove"]
                all_nc = all_nc and not r.get("dataChange", True)
                ops.append(("remove", unquote(r["path"]), None))
                n_removes += 1
            elif "txn" in action:
                txns.append(action["txn"])
            elif "metaData" in action:
                m = action["metaData"]
                if list(m.get("partitionColumns") or []) != meta.pcols:
                    raise ValueError(
                        f"version {v} changes the partition layout; "
                        "partition evolution does not replay")
                schema = StructType.fromJson(
                    _json_loads(m["schemaString"]))
                for fld in schema.fields:
                    if any(k.startswith("delta.")
                           for k in (fld.metadata or {})):
                        raise ValueError(
                            f"version {v} schema carries delta.* field "
                            f"metadata on {fld.name!r}; contract-"
                            "carrying historical schemas do not replay "
                            "— use the snapshot convert")
        plan.append({"ops": ops, "n_adds": n_adds,
                     "n_removes": n_removes, "txns": txns,
                     "meta_schema": schema, "op": op, "ts": ts,
                     "compaction": all_nc and bool(ops)})
    return plan


def _id_mode_divergence(path: str,
                        expected: list[tuple[int, str]]) -> Optional[str]:
    """Where a parquet file's field-id and physical-name resolution of
    ``expected`` (field id, physical name) pairs diverge, or None."""
    import pyarrow.parquet as pq_

    sch = pq_.ParquetFile(path).schema_arrow
    by_id = {int(fid): f.name for f in sch
             if (fid := (f.metadata or {}).get(b"PARQUET:field_id"))
             is not None}
    for cid, phys in expected:
        if cid in by_id:
            if by_id[cid] != phys:
                return (f"field id {cid} names column {by_id[cid]!r} "
                        f"but the schema maps it to {phys!r}")
        elif phys in sch.names:
            return (f"column {phys!r} carries no field id {cid}; an "
                    "id-mode reader would not resolve it while a name "
                    "read would")
        # absent entirely: schema evolution, both resolutions read NULL
    return None


def _prove_delta_id_mode(root: str, rels: Sequence[str],
                         id_fields: list[tuple[int, str]]) -> None:
    """Convert stage 5: an 'id'-mode reader resolves columns by parquet
    field id while this engine reads by physical name.  The two agree
    iff every live file's footer binds each mapped field id to exactly
    the schema's physical name, which is what delta-spark writes; a
    file where they diverge would read different data — refuse."""
    bad = [(rel, msg) for rel in rels
           if (msg := _id_mode_divergence(os.path.join(root, rel),
                                          id_fields))]
    if bad:
        rel0, msg0 = bad[0]
        raise ValueError(
            f"delta.columnMapping.mode='id' table does not convert: "
            f"{len(bad)} live file(s) where field-id and physical-name "
            f"resolution diverge (e.g. {rel0!r}: {msg0}); this engine "
            "reads by name and would return different data than an "
            "id-mode reader")


def _delta_stats(add: dict[str, Any]) -> dict[str, Any]:
    raw = add.get("stats")
    return _json_loads(raw) if isinstance(raw, str) else (raw or {})


def _delta_num_records(root: str, rel: str, add: dict[str, Any]) -> int:
    """A Delta add's row count: its stats' numRecords, else the parquet
    footer's."""
    num = _delta_stats(add).get("numRecords")
    if num is None:
        import pyarrow.parquet as pq_

        num = pq_.ParquetFile(os.path.join(root, rel)).metadata.num_rows
    return int(num)


def _decode_delta_dv(root: str, rel: str, dv: dict[str, Any]) -> list[int]:
    try:
        return delta_interop.decode_deletion_vector(root, dv)
    except delta_interop.DeltaInteropError as e:
        raise ValueError(
            f"cannot convert {root!r}: live file {rel!r} carries an "
            f"undecodable deletion vector — {e}") from e


def _delta_dv_counts(root: str, files: dict[str, dict[str, Any]],
                     counts: dict[str, int]) -> dict[str, int]:
    """Convert stage 6, first pass: decode and range-check every live
    deletion vector BEFORE the sidecar write (a refused convert must
    never have mutated the source directory, and the sidecar lands
    inside it).  Returns the masked-row count per DV-carrying file.
    Each decode is transient, so driver memory stays at one file's
    mask, not the total of masked rows."""
    out: dict[str, int] = {}
    for rel in sorted(files):
        dv = files[rel].get("deletionVector")
        if not dv:
            continue
        masked = _decode_delta_dv(root, rel, dv)
        if masked and masked[-1] >= counts[rel]:
            raise ValueError(
                f"deletion vector of {rel!r} masks row index "
                f"{masked[-1]} but the file has only {counts[rel]} "
                "rows — corrupted descriptor, refusing to convert")
        out[rel] = len(masked)
    return out


def _write_delta_dv_sidecar(root: str, files: dict[str, dict[str, Any]],
                            dv_rels: Sequence[str]) -> str:
    """Convert stage 6, second pass: decode the DVs again and stream
    them into ONE sidecar parquet of (root, path, row_index), the shape
    the engine's own DV deletes write, in file order so positional
    probes prune to their row groups.  Returns its relative dir."""
    import pyarrow as pa
    import pyarrow.parquet as pq_

    dv_rel = os.path.join("_dv", f"dv-{uuid.uuid4().hex}")
    os.makedirs(os.path.join(root, dv_rel))
    aroot = os.path.abspath(root)
    schema = pa.schema([("root", pa.string()), ("path", pa.string()),
                        ("row_index", pa.int64())])
    paths: list[str] = []
    ris: list[int] = []
    with pq_.ParquetWriter(os.path.join(root, dv_rel, "part-00000.parquet"),
                           schema) as writer:
        for i, rel in enumerate(dv_rels):
            masked = _decode_delta_dv(root, rel,
                                      files[rel]["deletionVector"])
            paths.extend([rel.replace(os.sep, "/")] * len(masked))
            ris.extend(masked)
            # ~1M-row row groups: bounded memory, and positional
            # probes still prune to a file's contiguous groups
            if ris and (len(ris) >= 1_048_576 or i == len(dv_rels) - 1):
                writer.write_table(pa.table(
                    {"root": pa.array([aroot] * len(ris), pa.string()),
                     "path": pa.array(paths, pa.string()),
                     "row_index": pa.array(ris, pa.int64())},
                    schema=schema))
                paths, ris = [], []
    return dv_rel


def _rerender_stat(dtype: Optional[DataType], val: Any,
                   is_max: bool) -> Optional[Any]:
    """A Delta min/max stat in this engine's rendering, or None to drop
    it (a dropped stat costs file skipping, never correctness).  Types
    both engines render alike carry over; dates validate; timestamps
    parse Delta's ISO/'Z' rendering, and a max widens by the rendered
    precision's full gap, because the writer may have truncated there
    and an under-widened bound mis-prunes rows later in the gap."""
    if isinstance(dtype, _DELTA_SAFE_STATS_TYPES):
        return val
    if isinstance(dtype, DateType):
        try:
            return date.fromisoformat(str(val)[:10]).isoformat()
        except ValueError:
            return None
    if not isinstance(dtype, TimestampType):
        return None
    s = str(val).replace("T", " ")
    for suffix in ("Z", "+00:00"):
        if s.endswith(suffix):
            s = s[: -len(suffix)]
    for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
        try:
            ts = datetime.strptime(s, fmt)
            break
        except ValueError:
            continue
    else:
        return None
    if is_max:
        # a date-only max covers the whole day; ms fractions widen
        # 999µs (the spec-norm ms truncation); exact µs are exact
        if fmt == "%Y-%m-%d":
            ts += timedelta(days=1) - timedelta(microseconds=1)
        elif fmt == "%Y-%m-%d %H:%M:%S":
            ts += timedelta(microseconds=999_999)
        elif ts.microsecond % 1000 == 0:
            ts += timedelta(microseconds=999)
    return ts.isoformat(sep=" ")


def _delta_addfile(root: str, add: dict[str, Any], rel: str, num: int,
                   stat_types: dict[str, DataType], masked: int = 0,
                   dv_rel: Optional[str] = None) -> AddFile:
    """Convert stage 7: one native AddFile from a Delta add action, its
    stats sanitized for pruning soundness — numRecords and nullCount
    always, min/max where :func:`_rerender_stat` keeps them (keyed by
    physical name, this engine's convention too)."""
    ab = os.path.join(root, rel)
    st = _delta_stats(add)
    stats: dict[str, Any] = {"numRecords": int(num)}
    if st.get("nullCount"):
        stats["nullCount"] = dict(st["nullCount"])
    for key in ("minValues", "maxValues"):
        kept = {c: rv for c, val in (st.get(key) or {}).items()
                if (rv := _rerender_stat(stat_types.get(c), val,
                                         key == "maxValues")) is not None}
        if kept:
            stats[key] = kept
    return AddFile(
        path=rel.replace(os.sep, "/"),
        size=int(add.get("size") or os.path.getsize(ab)),
        num_records=int(num),
        partition_values=dict(add.get("partitionValues") or {}),
        stats=stats,
        modification_time=int(add.get("modificationTime")
                              or os.stat(ab).st_mtime_ns // 1_000_000),
        dv_path=dv_rel if masked else None,
        dv_count=masked,
    )


def _replay_delta_history(root: str, plan: list[dict[str, Any]],
                          meta: _DeltaMetadata,
                          head_rels: Iterable[str]) -> list[AddFile]:
    """Convert stage 8 (``preserve_history``): one native commit per
    Delta version, staged into a SHADOW log and renamed into place at
    the end, so a crash or conflict mid-replay never leaves a
    valid-looking table at a stale head.  Returns the live files.

    Operation names are synthesized so this engine's classify_commit
    semantics hold (removes+adds = rewrite, removes only = metadata
    DELETE, adds only = append, all dataChange=false = compaction);
    the Delta operation rides in operationParameters.  Source commit
    timestamps carry over, holes backfilled from the next known one
    and clamped monotone so version_as_of's binary walk stays sound.
    Each version's metaData carries that version's schema with the
    HEAD's translated configuration: contracts govern future writes."""
    ts_list: list[int] = []
    nxt_ts = int(time.time() * 1000)
    for entry in reversed(plan):
        if entry["ts"] is not None:
            nxt_ts = entry["ts"]
        ts_list.append(nxt_ts)
    ts_list.reverse()
    mono = 0
    for i, tv in enumerate(ts_list):
        mono = max(mono, tv)
        ts_list[i] = mono
    shadow = os.path.join(root, f".convert-replay-{uuid.uuid4().hex}")
    os.makedirs(shadow)
    live: dict[str, AddFile] = {}
    app_v: dict[str, int] = {}
    proto: Optional[Any] = None
    cur_meta = Metadata(schema_json=meta.schema.json(),
                        partition_columns=meta.pcols,
                        configuration=meta.cfg)
    try:
        for v, entry in enumerate(plan):
            if entry["meta_schema"] is not None:
                cur_meta = Metadata(
                    schema_json=entry["meta_schema"].json(),
                    partition_columns=meta.pcols,
                    configuration=meta.cfg,
                    table_id=cur_meta.table_id)
            ts_v = ts_list[v]
            if v == 0:
                op = "CONVERT FROM DELTA"
            elif entry["compaction"]:
                op = "OPTIMIZE (replayed)"
            elif entry["n_removes"] and entry["n_adds"]:
                op = "WRITE overwrite"
            elif entry["n_removes"]:
                op = "DELETE"
            elif entry["n_adds"]:
                op = "WRITE append"
            else:
                op = "CONVERT REPLAY"
            actions: list[dict[str, Any]] = [CommitInfo(
                operation=op,
                operation_parameters={"deltaVersion": v,
                                      "deltaOperation": entry["op"]},
                timestamp=ts_v,
            ).to_action()]
            if v == 0 or entry["meta_schema"] is not None:
                actions.append(cur_meta.to_action())
            for txn in entry["txns"]:
                app_v[txn["appId"]] = max(app_v.get(txn["appId"], -1),
                                          int(txn["version"]))
                actions.append({"txn": {"appId": txn["appId"],
                                        "version": int(txn["version"])}})
            for kind, rel, a in entry["ops"]:
                if kind == "remove":
                    af = live.pop(rel.replace(os.sep, "/"), None)
                    if af is not None:
                        actions.append(af.remove_action(ts_v))
                else:
                    af = _delta_addfile(root, a, rel,
                                        _delta_num_records(root, rel, a),
                                        meta.stat_types)
                    live[af.path] = af
                    actions.append(af.to_action())
            # committed by hand, not through Transaction: Transaction
            # folds removes before adds, while a Delta commit's
            # add-then-remove of one path must replay in action order,
            # with the replayed timestamp, into the shadow path
            snap_v = Snapshot(v, cur_meta, list(live.values()), ts_v,
                              app_versions=dict(app_v))
            if proto is not None:
                snap_v.protocol = proto
            tablelog.commit(shadow, v, actions, snap_v)
            proto = snap_v.protocol
        # the replayed head must equal the folded head, checked before
        # anything becomes visible at `root`
        head = {r.replace(os.sep, "/") for r in head_rels}
        if set(live) != head:
            raise AssertionError(
                "history replay diverged from the folded head state "
                f"({sorted(live)[:3]} vs {sorted(head)[:3]}); refusing "
                "a wrong convert")
        try:
            os.rename(os.path.join(shadow, tablelog.LOG_DIR),
                      os.path.join(root, tablelog.LOG_DIR))
        except OSError as e:
            raise TableExistsError(
                f"{root!r} grew a {tablelog.LOG_DIR} during the replay "
                f"(concurrent convert?); refusing to clobber it: {e}"
            ) from e
    finally:
        shutil.rmtree(shadow, ignore_errors=True)
    return list(live.values())


def _convert_result(adds: Sequence[AddFile], meta: _DeltaMetadata,
                    delta_version: int, *, version: Optional[int] = None,
                    history: Optional[list] = None) -> dict[str, Any]:
    """Convert stage 9: the result dict; ``version`` is None on a dry
    run, ``history`` the replay plan under ``preserve_history``."""
    out: dict[str, Any] = {
        "dry_run": version is None,
        "num_files": len(adds),
        "num_rows": sum(a.live_records for a in adds),
        "partition_columns": meta.pcols,
        "delta_version": delta_version,
        "dropped_configuration": meta.dropped,
    }
    if version is not None:
        out["version"] = version
    if history is not None:
        out["history_preserved"] = True
        if version is None:
            out["num_versions"] = len(history)
    return out


def convert_from_delta(
    spark: SparkSession,
    path: str,
    *,
    dry_run: bool = False,
    preserve_history: bool = False,
) -> dict[str, Any]:
    """Onboard a REAL Delta Lake table (the public delta-io protocol's
    ``_delta_log/`` — what delta-rs, and therefore the reference I/O
    manager (dd/dagster_delta/handler.py:23-27), writes) into this
    engine's format IN PLACE: replay the Delta log to its head state,
    then publish ONE version-0 commit in OUR log referencing the SAME
    data files — no bytes move.  A user of the reference can point
    this engine at their existing Delta tables and keep querying.

    The log is read through :func:`delta_interop.read_log_segment`:
    the JSON commits from version 0, or a checkpoint (classic, complete
    multi-part, or v2 with sidecars) plus its contiguous JSON tail.
    Deletion vectors decode into this engine's sidecar masks (masked
    rows stay masked); column mapping translates into
    ``dds.columnMapping``; date/timestamp stats re-render.

    Refusals are pointed, never silent:

    - an incomplete multi-part or corrupted v2 checkpoint; a JSON tail
      contiguous neither from version 0 nor from a checkpoint; a
      checkpoint claiming a version beyond what the log reconstructs.
    - ``minReaderVersion`` > 3, or reader features outside
      :data:`delta_interop.READER_FEATURES`; writer features without an
      engine equivalent.
    - ``delta.columnMapping.mode='id'`` unless every live file's footer
      PROVES field-id and physical-name resolution agree (what
      delta-spark writes); renamed partition columns, nested types
      under column mapping, and physical names without a mapping mode.
    - corrupted deletion vectors (bad magic / CRC / cardinality /
      out-of-range row index).
    - IDENTITY columns (id-allocation strategies differ between
      engines).  Generation expressions and invariants are Spark SQL
      and translate to ``dds.generatedColumns`` /
      ``dds.constraints.invariant_<col>``; NOT NULL fields to
      ``dds.notNullColumns``.
    - absolute/URI add paths (shallow clones), live files missing on
      disk, and files whose hive directories disagree with their
      partitionValues.

    What carries over: the schema (Delta's ``schemaString`` IS the
    Spark StructType JSON this engine stores), partition columns and
    values, ``delta.appendOnly`` (as ``dds.appendOnly``),
    ``delta.constraints.*`` (as ``dds.constraints.*``), the remaining
    configuration verbatim EXCEPT behaviour-claiming keys
    (``delta.enableChangeDataFeed``, ``delta.enableDeletionVectors``,
    ``delta.enableTypeWidening``, ``delta.autoOptimize.*``), which are
    stripped and reported in ``dropped_configuration``, SetTransaction
    app versions, and per-file stats sanitized for pruning soundness.

    The original ``_delta_log`` stays untouched, but after conversion
    THIS engine's log is the table.  ``dry_run`` reports without
    committing.

    ``preserve_history=True`` replays EVERY Delta JSON commit as one
    native commit instead of folding to a single version-0 snapshot,
    so time travel, ``read_changes`` and the SetTransaction ledger
    span the pre-convert history.  It needs the JSON from version 0,
    every historical file on disk, no deletion vectors, no column
    mapping, no contract-carrying historical schemas and a stable
    partition layout; the snapshot convert covers everything the
    replay refuses."""
    root = str(path)
    if tablelog.table_exists(root):
        raise TableExistsError(
            f"{root!r} already has a {tablelog.LOG_DIR} transaction "
            "log; convert_from_delta only onboards tables not yet "
            "converted")
    log = delta_interop.read_log_segment(os.path.join(root, "_delta_log"))
    meta_action, files, app_versions, writer_features = \
        _fold_delta_head(root, log)
    meta = _translate_delta_metadata(root, meta_action, writer_features)
    for rel in sorted(files):
        _check_delta_file(root, files[rel], meta.pcols, "live",
                          "the converted table would be unreadable")
    plan = (_plan_delta_history(root, log, meta, files)
            if preserve_history else None)
    if meta.id_fields and files:
        _prove_delta_id_mode(root, sorted(files), meta.id_fields)
    counts = {rel: _delta_num_records(root, rel, a)
              for rel, a in files.items()}
    dv_counts = _delta_dv_counts(root, files, counts)
    dv_rel = (_write_delta_dv_sidecar(root, files, sorted(dv_counts))
              if dv_counts and not dry_run else None)
    adds = [_delta_addfile(root, files[rel], rel, counts[rel],
                           meta.stat_types, dv_counts.get(rel, 0), dv_rel)
            for rel in sorted(files)]
    if dry_run:
        return _convert_result(adds, meta, log.head, history=plan)
    if plan is not None:
        live = _replay_delta_history(root, plan, meta, files)
        return _convert_result(live, meta, log.head,
                               version=len(plan) - 1, history=plan)
    txn = Transaction(root, None, "CONVERT FROM DELTA", {
        "numFiles": len(adds), "deltaVersion": log.head})
    txn.checks.append(_table_absent(root, WriteMode.error))
    # the carried SetTransaction ledgers live in the COMMIT, so a
    # cold replay of version 0 keeps them
    txn.commit(adds, metadata=Metadata(
        schema_json=meta.schema.json(), partition_columns=meta.pcols,
        configuration=meta.cfg),
        metrics={"num_output_rows": sum(a.live_records for a in adds)},
        txns=app_versions)
    return _convert_result(adds, meta, log.head, version=0)


def read_delta_changes(
    spark: SparkSession,
    path: str,
    starting_version: int = -1,
    ending_version: Optional[int] = None,
) -> DataFrame:
    """Read a REAL Delta table's CHANGE DATA FEED
    (``delta.enableChangeDataFeed``, the ``_change_data`` directory +
    ``cdc`` actions — public spec) into this engine's native
    row-level CDC shape: the table columns plus ``_change_type`` /
    ``_commit_version``, the same frame
    :meth:`DeltaSparkTable.read_changes(row_level=True)` produces —
    so a pipeline consuming a native feed can consume a foreign
    Delta table's history through the identical contract
    (``convert_from_delta`` strips ``delta.enableChangeDataFeed``
    into ``dropped_configuration``; this is the read path for the
    history that key described).

    Spec semantics, per commit in ``(starting_version,
    ending_version]``:

    - a commit with ANY ``cdc`` action: the cdc files are the
      COMPLETE change description (their ``_change_type`` column
      carries insert / delete / update_preimage / update_postimage);
      add/remove actions in that commit are ignored for the feed;
    - otherwise: ``dataChange=true`` adds contribute their rows as
      ``insert``; ``dataChange=true`` removes contribute the removed
      file's rows as ``delete`` (the bytes must still be on disk —
      a vacuumed file is a pointed error, same as the native feed's
      vacuumed-sidecar rule);
    - ``dataChange=false`` actions (compaction) contribute nothing.

    The log is read with ``convert_from_delta``'s rules: the same
    segment choice, reader-protocol gate and column-mapping
    translation.  mode=name column-mapped feeds decode: change/data
    files carry physical column names, read under the physical schema
    and aliased back to logical.

    Honest scope (pointed refusals): the segment must be the JSON log
    from version 0 (a checkpoint-reconstructed log, or one whose
    checkpoint claims a version beyond its JSON tail, has no
    replayable history); deletion-vector-carrying adds/removes in a
    commit WITHOUT cdc files refuse (the writer should have emitted
    cdc files; cross-version DV diffing of a foreign log is not
    attempted); mode='id' colmap refuses (the footer equivalence
    proof is a one-shot convert cost, not a per-read one); a schema-
    or partition-layout-changing ``metaData`` action INSIDE the
    window refuses (mid-feed evolution — resume past it with a
    fresh reader, the same rule the native streaming source
    enforces)."""
    root = str(path)
    dlog = os.path.join(root, "_delta_log")
    log = delta_interop.read_log_segment(dlog)
    if log.checkpoint is not None:
        raise ValueError(
            f"Delta log under {dlog!r} replays from the checkpoint at "
            f"version {log.checkpoint}, not a contiguous JSON tail from "
            "version 0; the change feed replays JSON commits only — "
            "convert_from_delta handles checkpointed logs (snapshot, "
            "not history)")
    head = log.head
    end = head if ending_version is None else ending_version
    if not (-1 <= starting_version <= end <= head):
        raise ValueError(
            f"need -1 <= starting_version <= ending_version <= "
            f"{head}, got ({starting_version}, {end})")

    # protocol gate + schema over versions 0..end.  The schema in force
    # ENTERING the window is the feed's schema, and a schema- or
    # layout-changing metaData inside the window refuses.
    meta_entering: Optional[dict[str, Any]] = None
    for v, acts in log.commits[:end + 1]:
        for action in acts:
            if "protocol" in action:
                delta_interop.check_reader_protocol(action["protocol"],
                                                    root)
            elif "metaData" in action:
                m = action["metaData"]
                # a metaData in the window's FIRST commit is the
                # feed's schema (resuming at a change version reads
                # under the new schema — the delta-spark CDF rule);
                # a schema OR partition-layout change deeper in the
                # window refuses (pcols govern every windowed read's
                # basePath discovery, so a layout flip mid-window
                # would misread earlier commits)
                if (v > starting_version + 1
                        and meta_entering is not None
                        and (m.get("schemaString"),
                             list(m.get("partitionColumns") or []))
                        != (meta_entering.get("schemaString"),
                            list(meta_entering.get("partitionColumns")
                                 or []))):
                    raise ValueError(
                        f"version {v} changes the schema or partition "
                        "layout inside the feed window; mid-feed "
                        "evolution does not decode — read up to it, "
                        "then resume with the new metadata")
                meta_entering = m
    if meta_entering is None:
        raise ValueError(f"Delta log under {dlog!r} has no metaData "
                         "action — not a valid table")
    mode = (meta_entering.get("configuration") or {}).get(
        "delta.columnMapping.mode")
    if mode == "id":
        raise ValueError(
            "mode='id' column-mapped change feeds are not decoded "
            "(the footer field-id equivalence proof is a one-shot "
            "convert cost, not a per-feed-read one); "
            "convert_from_delta the snapshot instead")
    schema = StructType.fromJson(
        _json_loads(meta_entering["schemaString"]))
    pcols = list(meta_entering.get("partitionColumns") or [])
    _, feed_map, _ = _delta_column_mapping(schema, mode, pcols)
    plain_fields = [
        StructField(feed_map.get(f.name, f.name), f.dataType, True)
        for f in schema.fields]
    data_schema = StructType(plain_fields)
    cdc_schema = StructType(
        plain_fields + [StructField("_change_type", StringType())])
    col_order = [f.name for f in schema.fields]

    def _read(paths: list[str], read_schema: StructType) -> DataFrame:
        gone = [p for p in paths
                if not os.path.isfile(os.path.join(root, p))]
        if gone:
            raise FileNotFoundError(
                f"change feed references {gone[:3]} no longer on "
                "disk (vacuumed?); read() the snapshot for a "
                "backfill and resume from a later version")
        reader = spark.read.schema(read_schema)
        if pcols:
            reader = reader.option("basePath", root)
        return reader.parquet(
            *[os.path.join(root, p) for p in paths])

    parts: list[DataFrame] = []
    for v, acts in log.commits[starting_version + 1:end + 1]:
        cdc_paths: list[str] = []
        add_paths: list[str] = []
        remove_paths: list[str] = []
        dv_carrier = False
        for action in acts:
            if "cdc" in action:
                cdc_paths.append(unquote(action["cdc"]["path"]))
            elif "add" in action:
                a = action["add"]
                if a.get("dataChange", True):
                    add_paths.append(unquote(a["path"]))
                    dv_carrier = dv_carrier or bool(
                        a.get("deletionVector"))
            elif "remove" in action:
                r = action["remove"]
                if r.get("dataChange", True):
                    remove_paths.append(unquote(r["path"]))
                    dv_carrier = dv_carrier or bool(
                        r.get("deletionVector"))
        if cdc_paths:
            # the spec's reconciliation rule: cdc files are the
            # commit's complete change description
            parts.append(
                _read(sorted(cdc_paths), cdc_schema)
                .withColumn("_commit_version", F.lit(v)))
            continue
        if dv_carrier and (add_paths or remove_paths):
            raise ValueError(
                f"version {v} carries deletion vectors but no cdc "
                "files; a spec-conformant CDF writer emits cdc files "
                "for DV DML — cross-version DV diffing of a foreign "
                "log is not attempted")
        for paths, change in ((add_paths, "insert"),
                              (remove_paths, "delete")):
            if paths:
                parts.append(
                    _read(sorted(paths), data_schema)
                    .withColumn("_change_type", F.lit(change))
                    .withColumn("_commit_version", F.lit(v)))
    if not parts:
        empty = StructType(
            [StructField(f.name, f.dataType, True)
             for f in schema.fields]  # LOGICAL names, always
            + [StructField("_change_type", StringType(), False),
               StructField("_commit_version", IntegerType(), False)])
        return spark.createDataFrame([], empty)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        *[F.col(feed_map.get(c, c)).alias(c) for c in col_order],
        "_change_type", "_commit_version")


def export_delta_log(
    spark: SparkSession,
    path: str,
    *,
    dry_run: bool = False,
    checkpoint_threshold: int = 1000,
) -> dict[str, Any]:
    """EXPORT the table's HEAD SNAPSHOT as a real delta-io
    ``_delta_log`` (the reverse of :func:`convert_from_delta`):
    publish ONE version-0 Delta commit — protocol / metaData / add
    actions per the public spec, URL-encoded paths, JSON-string stats
    — referencing the SAME data files in place, so delta-rs (every
    reference user, dd/dagster_delta/handler.py:23-27), delta-spark
    and DuckDB's delta extension can read a table this engine
    produced.  No bytes move.

    This is a SNAPSHOT export: commits either engine makes afterwards
    are not reflected in the other log (same one-way contract as
    convert_from_delta, in the other direction).

    Past ``checkpoint_threshold`` live files (default 1000) the
    export also writes one classic parquet CHECKPOINT +
    ``_last_checkpoint`` (r15) so a foreign reader of a large table
    replays one parquet footer instead of a per-file JSON line —
    and the exported log survives a foreign log-cleanup that ages
    out the JSON.

    What carries over: the schema (Spark StructType JSON IS Delta's
    ``schemaString``), partition columns + hive layout (identical
    conventions), ``dds.appendOnly`` → ``delta.appendOnly``,
    ``dds.constraints.*`` → ``delta.constraints.*``, SetTransaction
    ledgers, and per-file stats re-sanitized to the integral / float
    / string / boolean set both formats render identically
    (numRecords and nullCount always).  Remaining ``dds.*`` machinery
    keys are STRIPPED (engine-internal; a foreign reader must not see
    them as table contracts) and reported in ``dropped_configuration``.

    DELETION-VECTOR masks export as REAL Delta DVs (r14): each masked
    file's sidecar positions re-serialize as a portable roaring
    bitmap (inline Z85 up to 10k positions, an on-disk
    ``deletion_vector_<uuid>.bin`` past that) and the log declares
    the feature protocol (reader 3 / writer 7, ``deletionVectors`` +
    every active legacy feature) exactly as a DV-writing Delta table
    does; stats keep physical ``numRecords`` with
    ``tightBounds: false``.

    COLUMN-MAPPED tables export (r15): the frozen physical names
    (``dds.columnMapping``, the o_column_mapping machinery) render as
    ``delta.columnMapping.physicalName`` / ``.id`` field metadata
    under ``delta.columnMapping.mode=name`` — Delta's exact spelling
    for the same read-by-physical-name semantics (reader 2 / writer
    5, or listed as a ``columnMapping`` feature on DV-carrying
    exports); stats stay keyed on physical names (both formats'
    convention), and the round trip back through
    :func:`convert_from_delta` restores the same mapping.

    Honest refusals (pointed, never silent):

    - tables that ever DROPPED a column (the reserved-physical
      ledger has no Delta spelling; losing it on a round trip could
      resurrect dropped data under a re-added name);
    - shallow CLONES (files outside the table root cannot be
      table-relative adds);
    - identity columns (allocation strategies differ between
      engines) and column defaults (a v7 feature this export does not
      write); GENERATED columns and NOT NULL translate instead (r14)
      — ``delta.generationExpression`` field metadata (writer v4) and
      ``nullable=false`` (the v2 invariant);
    - an existing ``_delta_log`` under ``path`` (never clobber a
      real Delta log).
    """
    root = str(path)
    dlog = os.path.join(root, "_delta_log")
    if os.path.exists(dlog):
        raise TableExistsError(
            f"{dlog!r} already exists; refusing to clobber a Delta "
            "log (exports are one-shot snapshots — remove it first "
            "to re-export)")
    snap = tablelog.load_snapshot(root)
    cfg = dict(snap.metadata.configuration)
    contract_keys = sorted(
        k for k in cfg
        if k in (_IDENTITY_KEY, _COLDEFAULT_KEY))
    # COLUMN-MAPPED tables export (r15): the stored frozen physical
    # names render as delta.columnMapping.physicalName/.id field
    # metadata under mode=name — Delta's exact spelling for the same
    # semantics (readers resolve parquet columns by physical name).
    # Tables that ever DROPPED a column still refuse: the reserved-
    # physical ledger (dds.droppedPhysical) has no Delta spelling, and
    # a re-import that lost it could hand a later re-added column a
    # dropped column's physical name — resurrecting dead data from
    # old files.
    colmap = _column_mapping(cfg)
    has_colmap = _COLMAP_KEY in cfg
    if _DROPPED_KEY in cfg:
        raise ValueError(
            "tables with dropped columns do not export: the dropped-"
            "column physical-name ledger (dds.droppedPhysical) has no "
            "Delta spelling, and losing it on a round trip could let "
            "a re-added column resurrect the dropped column's data "
            "from pre-drop files — rewrite into a fresh table "
            "(create_or_replace from a read) if an export is really "
            "wanted")
    if contract_keys:
        raise ValueError(
            f"table carries writer contract(s) {contract_keys} with "
            "no faithful Delta spelling (identity allocation differs "
            "between engines; column defaults are a v7 feature this "
            "export does not write) — unset the properties first if "
            "a snapshot export is really wanted")
    # deletion-vector masks ENCODE as real Delta DVs (r14 — the same
    # delta_interop codecs the import direction verifies): per masked
    # file, the sidecar positions re-serialize as a portable roaring
    # bitmap — inline (Z85) when small, an on-disk
    # deletion_vector_<uuid>.bin otherwise — and the exported table
    # switches to the feature protocol (reader 3 / writer 7,
    # deletionVectors), exactly what a real DV-writing Delta table
    # declares.
    cloned = sorted(a.path for a in snap.files if a.base)
    if cloned:
        raise ValueError(
            f"{len(cloned)} live file(s) live outside the table root "
            f"(shallow clone, e.g. {cloned[0]!r}); Delta adds must be "
            "table-relative — copy the data in (OPTIMIZE) first")
    # refusals never mutate the table dir (same rule the import side
    # honors): VALIDATE every sidecar's bookkeeping first, and only
    # once all masks check out write the on-disk .bin encodings —
    # a mid-loop dv_count mismatch must leave the directory untouched
    dv_descriptors: dict[str, dict[str, Any]] = {}
    if any(a.dv_path for a in snap.files) and not dry_run:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq_

        dv_positions_by_key: dict[str, list[int]] = {}
        for a in snap.files:
            if not a.dv_path:
                continue
            sidecar = os.path.join(a.dv_base or root, a.dv_path)
            mask_root = os.path.abspath(a.base or root)
            tbl_ = pq_.read_table(
                sidecar, columns=["root", "path", "row_index"],
                filters=[("root", "=", mask_root),
                         ("path", "=", a.path)])
            positions = sorted(
                pc.unique(tbl_["row_index"]).to_pylist())
            if len(positions) != a.dv_count:
                raise ValueError(
                    f"DV bookkeeping mismatch for {a.path!r}: sidecar "
                    f"holds {len(positions)} masked positions but the "
                    f"log records dv_count={a.dv_count}; run fsck")
            dv_positions_by_key[a.log_key] = positions
        for log_key, positions in dv_positions_by_key.items():
            if len(positions) <= 10_000:
                dv_descriptors[log_key] = (
                    delta_interop.inline_dv_descriptor(positions))
            else:
                dv_descriptors[log_key] = delta_interop.write_dv_file(
                    root, positions)

    schema = StructType.fromJson(_json_loads(snap.schema_json))
    # stats keys follow the FILE layout: physical names for
    # column-mapped tables (this engine's footer-harvest convention
    # AND Delta's colmap stats convention — they agree by design)
    phys_of = {f.name: colmap.get(f.name, f.name)
               for f in schema.fields}
    # export also carries DATE min/max — 'YYYY-MM-DD' renders
    # identically in both engines (the import side validates the same)
    safe_minmax = {
        phys_of[f.name] for f in schema.fields
        if isinstance(f.dataType,
                      _DELTA_SAFE_STATS_TYPES + (DateType,))
    }
    # TIMESTAMP min/max RE-RENDER to Delta's millisecond ISO-8601/'Z'
    # convention with SOUND widening (min floors to the ms, max ceils)
    # — time-series exports keep file skipping in foreign readers;
    # unparseable values drop (costs skipping, never correctness)
    ts_cols = {phys_of[f.name] for f in schema.fields
               if isinstance(f.dataType, TimestampType)}

    def _export_ts(val: Any, is_max: bool) -> Optional[str]:
        s = str(val).replace("T", " ")
        for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S"):
            try:
                ts = datetime.strptime(s, fmt)
                break
            except ValueError:
                continue
        else:
            return None
        rem = ts.microsecond % 1000
        if is_max and rem:
            ts += timedelta(microseconds=1000 - rem)  # ceil to ms
        elif rem:
            ts -= timedelta(microseconds=rem)  # floor to ms
        return ts.strftime("%Y-%m-%dT%H:%M:%S.") + \
            f"{ts.microsecond // 1000:03d}Z"
    out_cfg: dict[str, str] = {}
    dropped_cfg: dict[str, str] = {}
    for k, v in sorted(cfg.items()):
        if k == _APPEND_ONLY_KEY:
            out_cfg["delta.appendOnly"] = v
        elif k.startswith(_CONSTRAINT_PREFIX):
            out_cfg["delta.constraints."
                    + k[len(_CONSTRAINT_PREFIX):]] = v
        elif k in (_GENCOL_KEY, _NOTNULL_KEY, _COLMAP_KEY):
            pass  # fabricated into schema field metadata below
        elif k.startswith("dds."):
            dropped_cfg[k] = v
        else:
            out_cfg[k] = v
    # generated columns / NOT NULL have exact Delta spellings (r14):
    # dds.generatedColumns -> delta.generationExpression field
    # metadata (writer v4), dds.notNullColumns -> nullable=false (the
    # v2 invariant every Delta writer enforces) — the round trip back
    # through convert_from_delta restores both keys
    gen_cols = _generated_columns(cfg)
    not_null = set(_not_null_columns(cfg))
    export_fields = []
    for i, f in enumerate(schema.fields, start=1):
        md = dict(f.metadata or {})
        if f.name in gen_cols:
            md["delta.generationExpression"] = gen_cols[f.name]
        if has_colmap:
            # mode=name requires EVERY field to carry both keys —
            # readers resolve parquet columns by physicalName; ids
            # are minted ordinally (this engine never stored any,
            # and in name mode only uniqueness matters)
            md["delta.columnMapping.id"] = i
            md["delta.columnMapping.physicalName"] = phys_of[f.name]
        # nullable=false exports ONLY for engine-ENFORCED columns
        # (dds.notNullColumns): this engine ignores stored-schema
        # nullability on writes, so a stored nullable=false is not a
        # trustworthy invariant — exporting it could hand a foreign
        # reader a NOT NULL claim the data violates
        export_fields.append(StructField(
            f.name, f.dataType, f.name not in not_null, md))
    export_schema = StructType(export_fields)
    if has_colmap:
        out_cfg["delta.columnMapping.mode"] = "name"
        out_cfg["delta.columnMapping.maxColumnId"] = str(
            len(schema.fields))
    min_writer = 3 if any(
        k.startswith("delta.constraints.") for k in out_cfg) else 2
    if gen_cols:
        min_writer = max(min_writer, 4)
    if has_colmap:
        min_writer = max(min_writer, 5)  # legacy columnMapping writer
    has_dv = any(a.dv_path for a in snap.files)
    # typeWidening bookkeeping survives a convert inert in field
    # metadata (r15) — files written under the pre-widening type are
    # still referenced, so a foreign reader MUST declare the feature
    # or it could refuse/misread the narrow parquet files
    has_tw = any("delta.typeWidening" in (f.metadata or {})
                 for f in export_schema.fields)
    if has_dv or has_tw:
        # DVs / typeWidening need the FEATURE protocol — and with
        # minWriterVersion 7 the spec requires EVERY active writer
        # feature listed, the legacy ones included
        legacy_feats = []
        if "delta.appendOnly" in out_cfg:
            legacy_feats.append("appendOnly")
        if any(k.startswith("delta.constraints.") for k in out_cfg):
            legacy_feats.append("checkConstraints")
        if gen_cols:
            legacy_feats.append("generatedColumns")
        if not_null:
            legacy_feats.append("invariants")
        # READER-affecting features appear on both sides
        reader_feats = []
        if has_dv:
            reader_feats.append("deletionVectors")
            legacy_feats.append("deletionVectors")
        if has_tw:
            reader_feats.append("typeWidening")
            legacy_feats.append("typeWidening")
        if has_colmap:
            reader_feats.append("columnMapping")
            legacy_feats.append("columnMapping")
        protocol_action = {
            "protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                         "readerFeatures": sorted(reader_feats),
                         "writerFeatures": sorted(legacy_feats)}}
    else:
        protocol_action = {
            "protocol": {"minReaderVersion": 2 if has_colmap else 1,
                         "minWriterVersion": min_writer}}

    from urllib.parse import quote

    adds_out: list[dict[str, Any]] = []
    total_rows = 0
    for a in sorted(snap.files, key=lambda f: f.path):
        st: dict[str, Any] = {"numRecords": a.num_records}
        nulls = a.stats.get("nullCount")
        if nulls:
            st["nullCount"] = dict(nulls)
        for key in ("minValues", "maxValues"):
            kept = {}
            for c, v in (a.stats.get(key) or {}).items():
                if c in safe_minmax:
                    kept[c] = v
                elif c in ts_cols:
                    rv = _export_ts(v, key == "maxValues")
                    if rv is not None:
                        kept[c] = rv
            if kept:
                st[key] = kept
        total_rows += a.live_records
        add_payload: dict[str, Any] = {
            # '=' stays raw (hive partition dirs) — real Delta
            # writers do the same; the import side unquotes
            "path": quote(a.path, safe="/="),
            "partitionValues": dict(a.partition_values),
            "size": a.size,
            "modificationTime": a.modification_time,
            "dataChange": True,
        }
        if a.dv_path:
            # numRecords stays the PHYSICAL count; tightBounds=false
            # tells foreign readers the min/max may include masked
            # rows (wide bounds — sound), per the DV spec
            st["tightBounds"] = False
            if a.log_key in dv_descriptors:
                add_payload["deletionVector"] = \
                    dv_descriptors[a.log_key]
        add_payload["stats"] = json.dumps(st, separators=(",", ":"))
        adds_out.append({"add": add_payload})

    if dry_run:
        return {"dry_run": True, "num_files": len(adds_out),
                "num_rows": total_rows,
                "dropped_configuration": dropped_cfg}

    actions: list[dict[str, Any]] = [
        {"commitInfo": {
            "timestamp": int(time.time() * 1000),
            "operation": "CONVERT",
            "operationParameters": {"numFiles": str(len(adds_out))},
            "engineInfo": "dagster-delta-spark export_delta_log",
        }},
        protocol_action,
        {"metaData": {
            "id": snap.metadata.table_id or str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": export_schema.json(),
            "partitionColumns": list(snap.partition_columns),
            "configuration": out_cfg,
            "createdTime": snap.metadata.created_time
            or int(time.time() * 1000),
        }},
    ]
    actions += [{"txn": {"appId": k, "version": v}}
                for k, v in sorted(snap.app_versions.items())]
    actions += adds_out
    os.makedirs(dlog)
    tmp = os.path.join(dlog, f".00.json.tmp-{uuid.uuid4().hex}")
    with open(tmp, "w", encoding="utf-8") as f:
        for action in actions:
            f.write(json.dumps(action, separators=(",", ":")) + "\n")
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(dlog, f"{0:020d}.json"))
    # past the file-count threshold, also write ONE classic parquet
    # checkpoint + _last_checkpoint (r15): a foreign reader of a
    # million-file export replays one parquet footer instead of a
    # million JSON add lines — the log cleanup symmetry
    # convert_from_delta's checkpoint replay already decodes
    checkpointed = False
    if len(adds_out) >= checkpoint_threshold:
        delta_interop.write_classic_checkpoint(dlog, 0, actions)
        checkpointed = True
    return {"dry_run": False, "delta_version": 0,
            "num_files": len(adds_out), "num_rows": total_rows,
            "checkpointed": checkpointed,
            "dropped_configuration": dropped_cfg}
