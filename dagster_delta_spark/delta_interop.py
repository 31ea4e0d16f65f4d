"""Public delta-io protocol interop primitives.

Everything in this module implements PUBLIC specifications so
``convert_from_delta`` / ``export_delta_log`` can exchange tables with
real Delta Lake writers (delta-rs — what the reference I/O manager
uses, dd/dagster_delta/handler.py:23-27 — and delta-spark):

- **Z85** (ZeroMQ base85, the alphabet Delta's spec mandates for
  deletion-vector encoding) — RFC-less but frozen in the delta-io
  PROTOCOL.md "Deletion Vector Format" section.
- **32-bit RoaringBitmap portable serialization** (the public
  RoaringFormatSpec: cookie 12346/12347, descriptive header, array /
  bitset / run containers) and Delta's **RoaringBitmapArray
  "portable" format** on top (magic 1681511377, 8-byte count,
  implicit keys).
- **Deletion-vector descriptors** (storageType ``i``/``u``/``p``,
  offset/sizeInBytes/cardinality, the 1-byte-version + 4-byte-BE-size
  + CRC32 on-disk framing).
- **Checkpoint reading** via pyarrow: classic single-part and
  complete multi-part parquet (one action per row;
  ``_last_checkpoint`` pointer) and V2 (UUID-named) checkpoints —
  JSON or parquet main files, ``checkpointMetadata`` verified,
  ``sidecar`` actions resolved under ``_sidecars/``.
- **Log replay**: listing ``_delta_log``, choosing the segment that
  reconstructs the head (JSON from version 0, or a checkpoint plus
  its contiguous JSON tail), decoding each JSON commit once, and the
  reader-protocol gate.  ``convert_from_delta`` and
  ``read_delta_changes`` both read logs through these.

Decoders VERIFY everything the spec lets them verify (magic, CRC,
cardinality, version byte) and raise :class:`DeltaInteropError`
pointedly — a convert must never silently resurrect masked rows.
Encoders exist so fixtures/tests and the export path can produce
spec-conformant bytes; the decode side round-trips them, which is the
strongest interop proof available in this sandbox (no network, no
delta-rs package).
"""
from __future__ import annotations

import json
import os
import re
import struct
import uuid
import zlib
from typing import Any, NamedTuple, Optional

__all__ = [
    "DeltaInteropError",
    "z85_encode",
    "z85_decode",
    "serialize_roaring_array",
    "deserialize_roaring_array",
    "decode_deletion_vector",
    "inline_dv_descriptor",
    "write_dv_file",
    "find_classic_checkpoint",
    "read_checkpoint_actions",
    "write_classic_checkpoint",
    "READER_FEATURES",
    "LogSegment",
    "read_log_segment",
    "check_reader_protocol",
]


class DeltaInteropError(ValueError):
    """A Delta artifact this engine cannot decode safely."""


# ---------------------------------------------------------------------------
# Z85 (ZeroMQ base85) — the alphabet the Delta spec fixes for DVs
# ---------------------------------------------------------------------------

_Z85_CHARS = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INDEX = {c: i for i, c in enumerate(_Z85_CHARS)}


def z85_encode(data: bytes) -> str:
    """Z85-encode ``data``; zero-pads to a 4-byte multiple as Delta's
    DV writers do (consumers slice back via ``sizeInBytes``)."""
    if len(data) % 4:
        data = data + b"\x00" * (4 - len(data) % 4)
    out: list[str] = []
    for i in range(0, len(data), 4):
        (word,) = struct.unpack(">I", data[i:i + 4])
        chunk = []
        for _ in range(5):
            chunk.append(_Z85_CHARS[word % 85])
            word //= 85
        out.extend(reversed(chunk))
    return "".join(out)


def z85_decode(text: str) -> bytes:
    if len(text) % 5:
        raise DeltaInteropError(
            f"Z85 payload length {len(text)} is not a multiple of 5 — "
            "not a spec-conformant deletion-vector encoding")
    out = bytearray()
    for i in range(0, len(text), 5):
        word = 0
        for ch in text[i:i + 5]:
            if ch not in _Z85_INDEX:
                raise DeltaInteropError(
                    f"character {ch!r} is outside the Z85 alphabet")
            word = word * 85 + _Z85_INDEX[ch]
        if word > 0xFFFFFFFF:
            raise DeltaInteropError("Z85 quintet overflows 32 bits")
        out += struct.pack(">I", word)
    return bytes(out)


# ---------------------------------------------------------------------------
# 32-bit RoaringBitmap portable serialization (RoaringFormatSpec)
# ---------------------------------------------------------------------------

_SERIAL_COOKIE_NO_RUN = 12346
_SERIAL_COOKIE = 12347
_NO_OFFSET_THRESHOLD = 4
_ARRAY_MAX = 4096


def _serialize_roaring32(values: list[int]) -> bytes:
    """Serialize sorted distinct uint32 values.  Emits the
    no-run-container layout (cookie 12346) with array or bitset
    containers — every spec-conformant reader accepts it."""
    containers: dict[int, list[int]] = {}
    for v in values:
        containers.setdefault(v >> 16, []).append(v & 0xFFFF)
    keys = sorted(containers)
    n = len(keys)
    body = bytearray()
    body += struct.pack("<II", _SERIAL_COOKIE_NO_RUN, n)
    for k in keys:
        body += struct.pack("<HH", k, len(containers[k]) - 1)
    # offset header (always present for cookie 12346)
    off = len(body) + 4 * n
    sizes = []
    for k in keys:
        card = len(containers[k])
        sizes.append(2 * card if card <= _ARRAY_MAX else 8192)
    for sz in sizes:
        body += struct.pack("<I", off)
        off += sz
    for k in keys:
        vals = containers[k]
        if len(vals) <= _ARRAY_MAX:
            body += struct.pack(f"<{len(vals)}H", *vals)
        else:
            bits = bytearray(8192)
            for v in vals:
                bits[v >> 3] |= 1 << (v & 7)
            body += bits
    return bytes(body)


def _deserialize_roaring32(buf: bytes, pos: int) -> tuple[list[int], int]:
    """Decode one 32-bit roaring bitmap at ``pos``; returns (sorted
    values, next position).  Handles all three container types and
    both cookies."""
    if pos + 4 > len(buf):
        raise DeltaInteropError("roaring bitmap truncated (cookie)")
    (cookie,) = struct.unpack_from("<I", buf, pos)
    pos += 4
    run_flags = b""
    if (cookie & 0xFFFF) == _SERIAL_COOKIE:
        n = (cookie >> 16) + 1
        flag_bytes = (n + 7) // 8
        run_flags = buf[pos:pos + flag_bytes]
        if len(run_flags) != flag_bytes:
            raise DeltaInteropError("roaring bitmap truncated (run flags)")
        pos += flag_bytes
    elif cookie == _SERIAL_COOKIE_NO_RUN:
        (n,) = struct.unpack_from("<I", buf, pos)
        pos += 4
    else:
        raise DeltaInteropError(
            f"unknown roaring serialization cookie {cookie}")
    keys: list[int] = []
    cards: list[int] = []
    for _ in range(n):
        k, cm1 = struct.unpack_from("<HH", buf, pos)
        pos += 4
        keys.append(k)
        cards.append(cm1 + 1)
    has_offsets = (cookie == _SERIAL_COOKIE_NO_RUN
                   or n >= _NO_OFFSET_THRESHOLD)
    if has_offsets:
        pos += 4 * n  # offsets are an optimization; sequential read
    # numpy-vectorized container decode: a 100 TB convert can carry
    # millions of masked positions per file — per-value Python loops
    # would make the roaring decode the convert bottleneck
    import numpy as np

    chunks: list = []
    for i in range(n):
        base = keys[i] << 16
        is_run = bool(run_flags and (run_flags[i >> 3] >> (i & 7)) & 1)
        if is_run:
            if pos + 2 > len(buf):
                raise DeltaInteropError(
                    "roaring bitmap truncated (run header)")
            (n_runs,) = struct.unpack_from("<H", buf, pos)
            pos += 2
            if pos + 4 * n_runs > len(buf):
                raise DeltaInteropError(
                    "roaring bitmap truncated (run container)")
            runs = np.frombuffer(
                buf, dtype="<u2", count=2 * n_runs, offset=pos
            ).reshape(n_runs, 2).astype(np.int64)
            pos += 4 * n_runs
            for start, length in runs:
                chunks.append(np.arange(base + start,
                                        base + start + length + 1,
                                        dtype=np.int64))
        elif cards[i] > _ARRAY_MAX:
            bits = buf[pos:pos + 8192]
            if len(bits) != 8192:
                raise DeltaInteropError(
                    "roaring bitmap truncated (bitset container)")
            pos += 8192
            arr = np.unpackbits(
                np.frombuffer(bits, dtype=np.uint8), bitorder="little")
            chunks.append(np.nonzero(arr)[0].astype(np.int64) + base)
        else:
            if pos + 2 * cards[i] > len(buf):
                raise DeltaInteropError(
                    "roaring bitmap truncated (array container)")
            vals = np.frombuffer(buf, dtype="<u2", count=cards[i],
                                 offset=pos).astype(np.int64)
            pos += 2 * cards[i]
            chunks.append(vals + base)
    if not chunks:
        return [], pos
    return np.concatenate(chunks).tolist(), pos


_DV_MAGIC = 1681511377


def serialize_roaring_array(indexes: list[int]) -> bytes:
    """Delta's portable RoaringBitmapArray: 64-bit row indexes split
    into high-32 bitmap key (implicit, by array position) and low-32
    bitmap value.  Empty bitmaps fill key gaps per spec."""
    if any(i < 0 for i in indexes):
        raise DeltaInteropError("row indexes must be non-negative")
    by_key: dict[int, list[int]] = {}
    for i in sorted(set(indexes)):
        by_key.setdefault(i >> 32, []).append(i & 0xFFFFFFFF)
    n = (max(by_key) + 1) if by_key else 0
    out = bytearray(struct.pack("<iq", _DV_MAGIC, n))
    for k in range(n):
        out += _serialize_roaring32(by_key.get(k, []))
    return bytes(out)


def deserialize_roaring_array(data: bytes) -> list[int]:
    if len(data) < 12:
        raise DeltaInteropError(
            f"deletion vector payload is {len(data)} bytes — shorter "
            "than the magic + count header")
    magic, n = struct.unpack_from("<iq", data, 0)
    if magic != _DV_MAGIC:
        raise DeltaInteropError(
            f"deletion vector magic number {magic} != {_DV_MAGIC} — "
            "not Delta's portable RoaringBitmapArray format")
    if n < 0 or n > 1 << 31:
        raise DeltaInteropError(f"implausible bitmap count {n}")
    pos = 12
    values: list[int] = []
    for key in range(n):
        vals, pos = _deserialize_roaring32(data, pos)
        values.extend((key << 32) + v for v in vals)
    return values


# ---------------------------------------------------------------------------
# Deletion-vector descriptors + on-disk framing
# ---------------------------------------------------------------------------


def _dv_file_path(root: str, path_or_inline: str) -> str:
    """Resolve a storageType='u' descriptor: the LAST 20 chars are the
    Z85-encoded 16-byte UUID, anything before is a directory prefix."""
    if len(path_or_inline) < 20:
        raise DeltaInteropError(
            f"pathOrInlineDv {path_or_inline!r} too short for an "
            "encoded UUID")
    import uuid as _uuid

    prefix, enc = path_or_inline[:-20], path_or_inline[-20:]
    raw = z85_decode(enc)[:16]
    name = f"deletion_vector_{_uuid.UUID(bytes=raw)}.bin"
    return os.path.join(root, prefix, name) if prefix else os.path.join(
        root, name)


def decode_deletion_vector(root: str, dv: dict[str, Any]) -> list[int]:
    """Masked row indexes (sorted) from a Delta ``deletionVector``
    descriptor.  Verifies the file version byte, the 4-byte big-endian
    size prefix against ``sizeInBytes``, the CRC-32 trailer, and the
    decoded cardinality against ``cardinality`` — a mismatch anywhere
    refuses rather than resurrecting or over-masking rows."""
    st = dv.get("storageType")
    size = int(dv.get("sizeInBytes", -1))
    card = int(dv.get("cardinality", -1))
    if st == "i":
        data = z85_decode(dv["pathOrInlineDv"])
        if size > len(data) or size < 0:
            raise DeltaInteropError(
                f"inline DV sizeInBytes={size} exceeds the decoded "
                f"payload ({len(data)} bytes)")
        data = data[:size]
    elif st in ("u", "p"):
        fpath = (dv["pathOrInlineDv"][len("file://"):]
                 if str(dv["pathOrInlineDv"]).startswith("file://")
                 else dv["pathOrInlineDv"])
        if st == "u":
            fpath = _dv_file_path(root, dv["pathOrInlineDv"])
        if not os.path.isfile(fpath):
            raise DeltaInteropError(
                f"deletion-vector file {fpath!r} is missing")
        with open(fpath, "rb") as f:
            blob = f.read()
        if not blob or blob[0] != 1:
            raise DeltaInteropError(
                f"DV file {fpath!r} has format version "
                f"{blob[0] if blob else '<empty>'}; only version 1 is "
                "specified")
        off = int(dv.get("offset") or 0)
        if off + 8 > len(blob):
            raise DeltaInteropError(
                f"DV offset {off} is outside {fpath!r}")
        (dsize,) = struct.unpack_from(">I", blob, off)
        if dsize != size:
            raise DeltaInteropError(
                f"DV size prefix {dsize} != descriptor sizeInBytes "
                f"{size} at offset {off} of {fpath!r}")
        data = blob[off + 4:off + 4 + dsize]
        if len(data) != dsize:
            raise DeltaInteropError(f"DV data truncated in {fpath!r}")
        (crc,) = struct.unpack_from(">I", blob, off + 4 + dsize)
        if crc != (zlib.crc32(data) & 0xFFFFFFFF):
            raise DeltaInteropError(
                f"DV checksum mismatch in {fpath!r} — corrupted "
                "deletion vector")
    else:
        raise DeltaInteropError(
            f"deletion-vector storageType {st!r} is not in the spec "
            "(i=inline, u=relative file, p=absolute file)")
    values = deserialize_roaring_array(data)
    if card >= 0 and len(values) != card:
        raise DeltaInteropError(
            f"decoded DV cardinality {len(values)} != descriptor "
            f"cardinality {card}")
    return values


def inline_dv_descriptor(indexes: list[int]) -> dict[str, Any]:
    """Spec-conformant inline (storageType='i') descriptor for
    fixtures and tests."""
    data = serialize_roaring_array(indexes)
    return {
        "storageType": "i",
        "pathOrInlineDv": z85_encode(data),
        "offset": None,
        "sizeInBytes": len(data),
        "cardinality": len(set(indexes)),
    }


def write_dv_file(root: str, indexes: list[int],
                  prefix: str = "") -> dict[str, Any]:
    """Write a storageType='u' DV file under ``root`` and return its
    descriptor (fixture-side twin of :func:`decode_deletion_vector`)."""
    import uuid as _uuid

    u = _uuid.uuid4()
    data = serialize_roaring_array(indexes)
    blob = (b"\x01" + struct.pack(">I", len(data)) + data
            + struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF))
    d = os.path.join(root, prefix) if prefix else root
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"deletion_vector_{u}.bin"), "wb") as f:
        f.write(blob)
    return {
        "storageType": "u",
        "pathOrInlineDv": prefix + z85_encode(u.bytes),
        "offset": 1,
        "sizeInBytes": len(data),
        "cardinality": len(set(indexes)),
    }


# ---------------------------------------------------------------------------
# Classic checkpoint parquet
# ---------------------------------------------------------------------------

_CLASSIC_CP = re.compile(r"^(\d{20})\.checkpoint\.parquet$")
_MULTIPART_CP = re.compile(
    r"^(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet$")
_V2_CP = re.compile(r"^(\d{20})\.checkpoint\.[0-9a-zA-Z-]+\.(parquet|json)$")


def newest_checkpoint_hint(dlog: str) -> Optional[int]:
    """Max version ANYTHING checkpoint-shaped under ``dlog`` claims —
    classic / multi-part (complete or not) / v2 file names, plus the
    ``_last_checkpoint`` pointer.  No selection or refusal semantics:
    callers with a complete JSON log use this to detect a checkpoint
    AHEAD of the JSON tail (a partially-copied log — the JSON
    understates the head) and route through
    :func:`find_classic_checkpoint`, which refuses pointedly when the
    ahead state is unreconstructable.  Junk checkpoints at-or-below
    the JSON head never change behavior."""
    versions: list[int] = []
    for n in os.listdir(dlog):
        for rx in (_CLASSIC_CP, _MULTIPART_CP, _V2_CP):
            m = rx.match(n)
            if m:
                versions.append(int(m.group(1)))
                break
    last = os.path.join(dlog, "_last_checkpoint")
    if os.path.isfile(last):
        try:
            with open(last, encoding="utf-8") as f:
                versions.append(int(json.load(f)["version"]))
        except (ValueError, KeyError, TypeError, OSError):
            # unreadable/malformed pointer (bad JSON, non-dict body,
            # "version": null) alone never forces the branch
            pass
    return max(versions) if versions else None


def find_classic_checkpoint(dlog: str) -> Optional[tuple[int, list[str]]]:
    """Newest decodable checkpoint under ``dlog``: (version, ordered
    part paths) — classic single-part, COMPLETE classic multi-part,
    or a V2 (UUID-named) checkpoint file (classic preferred when both
    exist at one version) — honoring the ``_last_checkpoint`` pointer
    when present.  An incomplete multi-part set refuses only when it
    is the SELECTED candidate — silently skipping a selected partial
    state could replay from an older version a cleaned log no longer
    completes."""
    names = os.listdir(dlog)
    classic = {int(m.group(1)): [n] for n in names
               for m in [_CLASSIC_CP.match(n)] if m}
    multi: dict[int, dict[int, tuple[int, str]]] = {}
    for n in names:
        m = _MULTIPART_CP.match(n)
        if m:
            v, part, total = (int(m.group(1)), int(m.group(2)),
                              int(m.group(3)))
            multi.setdefault(v, {})[part] = (total, n)
    incomplete: dict[int, str] = {}
    for v, parts in multi.items():
        totals = {t for t, _ in parts.values()}
        if len(totals) == 1 and sorted(parts) == list(
                range(1, next(iter(totals)) + 1)):
            # complete 1..n part set (spec: parts are 1-based)
            classic.setdefault(
                v, [parts[i][1] for i in sorted(parts)])
        else:
            # an orphaned partial set (writer crashed mid-checkpoint;
            # the spec says readers ignore it) only refuses if it
            # ends up the SELECTED candidate — a newer complete
            # checkpoint must still convert the table
            incomplete[v] = (
                f"multi-part checkpoint at version {v} is incomplete "
                f"(found parts {sorted(parts)} of {sorted(totals)}); "
                "cannot replay a partial state")
    # V2 checkpoints are candidates too (their sidecars resolve at
    # read time); classic wins ties via setdefault, and several v2
    # attempts at one version pick the lexicographically-last name
    # (deterministic; all encode the same state per spec)
    for n in sorted(names):
        m = _V2_CP.match(n)
        if m and not _MULTIPART_CP.match(n):
            v = int(m.group(1))
            if (v in classic
                    and not _CLASSIC_CP.match(classic[v][0])
                    and not _MULTIPART_CP.match(classic[v][0])):
                classic[v] = [n]  # newer v2 attempt, same version
            else:
                classic.setdefault(v, [n])
    last = os.path.join(dlog, "_last_checkpoint")
    pointer: Optional[int] = None
    if os.path.isfile(last):
        with open(last, encoding="utf-8") as f:
            lc = json.load(f)
        pointer = int(lc["version"])
        if pointer in incomplete and pointer not in classic:
            # refuse-only-when-selected: a complete checkpoint (e.g.
            # a v2 file) at the same version still reconstructs the
            # state the orphaned partial set could not
            raise DeltaInteropError(
                "_last_checkpoint points at it: " + incomplete[pointer])
        if lc.get("parts") and pointer in classic and len(
                classic[pointer]) != int(lc["parts"]):
            raise DeltaInteropError(
                f"_last_checkpoint declares {lc['parts']} parts at "
                f"version {pointer} but {len(classic[pointer])} were "
                "found; cannot replay a partial state")
    best = max(classic) if classic else None
    if pointer is not None and pointer in classic:
        best = pointer
    if best is None:
        if incomplete:
            raise DeltaInteropError(incomplete[max(incomplete)])
        return None
    # NB: an incomplete set NEWER than `best` needs no refusal —
    # replaying the older complete checkpoint is still correct (the
    # caller's JSON-tail contiguity check guarantees the state
    # completes past it)
    return best, [os.path.join(dlog, n) for n in classic[best]]


def _plain(value: Any) -> Any:
    """pyarrow row scalars → JSON-shaped values: MapArray rows arrive
    as [(k, v), ...] — fold to dict; structs arrive as dicts already."""
    if isinstance(value, list) and value and all(
            isinstance(t, tuple) and len(t) == 2 for t in value):
        return {k: _plain(v) for k, v in value}
    if isinstance(value, dict):
        return {k: _plain(v) for k, v in value.items()}
    return value


def read_checkpoint_actions(
    path, expect_version: Optional[int] = None,
) -> list[dict[str, Any]]:
    """Decode a checkpoint into the same action dicts a JSON commit
    holds: classic parquet (one file or an ordered multi-part list,
    one non-null action struct per row) or a V2 checkpoint (.parquet
    or .json) — v2's ``checkpointMetadata`` is verified against
    ``expect_version`` and its ``sidecar`` actions resolve to parquet
    files under ``_sidecars/`` next to the checkpoint.  Parsed
    convenience columns (``stats_parsed`` / ``partitionValues_parsed``)
    and ``commitInfo``/``domainMetadata`` rows are ignored — the JSON
    fields carry the canonical state."""
    import pyarrow.parquet as pq

    if isinstance(path, (list, tuple)):
        out: list[dict[str, Any]] = []
        for p in path:
            out.extend(read_checkpoint_actions(p, expect_version))
        return out
    known = ("protocol", "metaData", "add", "remove", "txn",
             "checkpointMetadata", "sidecar", "commitInfo",
             "domainMetadata")
    if str(path).endswith(".json"):
        # v2 checkpoints may be JSON: one action per line — validate
        # the structure the parquet footer would have enforced
        with open(path, encoding="utf-8") as f:
            raw = [json.loads(line) for line in f if line.strip()]
        for action in raw:
            if len(action) != 1 or next(iter(action)) not in known:
                raise DeltaInteropError(
                    f"v2 JSON checkpoint {path!r} carries a malformed "
                    f"action line (keys {sorted(action)}); expected "
                    "exactly one known action per line)")
    else:
        try:
            tbl = pq.read_table(path)
        except Exception as e:
            raise DeltaInteropError(
                f"checkpoint {path!r} is unreadable as parquet: {e}"
            ) from e
        cols = [c for c in ("protocol", "metaData", "add", "remove",
                            "txn", "checkpointMetadata", "sidecar")
                if c in tbl.column_names]
        if not set(cols) & {"protocol", "metaData", "add", "remove",
                            "txn"} and "sidecar" not in cols:
            raise DeltaInteropError(
                f"checkpoint {path!r} has none of the action columns "
                "(protocol/metaData/add/remove/txn/sidecar)")
        raw = []
        for row in tbl.select(cols).to_pylist():
            present = [(c, row[c]) for c in cols if row[c] is not None]
            if len(present) > 1:
                raise DeltaInteropError(
                    f"checkpoint row carries {len(present)} actions "
                    f"({[c for c, _ in present]}); the spec requires "
                    "exactly one per row")
            if present:
                raw.append({present[0][0]: _plain(present[0][1])})
    actions: list[dict[str, Any]] = []
    n_cp_meta = 0
    for action in raw:
        if "checkpointMetadata" in action:
            n_cp_meta += 1
            cv = int(action["checkpointMetadata"].get("version", -1))
            if expect_version is not None and cv != expect_version:
                raise DeltaInteropError(
                    f"v2 checkpoint {path!r} declares version {cv} "
                    f"but the file name says {expect_version} — "
                    "corrupted checkpoint")
            continue
        if "sidecar" in action:
            sp = os.path.join(os.path.dirname(str(path)), "_sidecars",
                              action["sidecar"]["path"])
            if not os.path.isfile(sp):
                raise DeltaInteropError(
                    f"v2 checkpoint sidecar {sp!r} is missing; the "
                    "checkpoint state cannot be reconstructed")
            actions.extend(read_checkpoint_actions(sp))
            continue
        if "commitInfo" in action or "domainMetadata" in action:
            continue
        (c, v), = action.items()
        if c == "add":
            # checkpoints may carry struct-typed stats_parsed INSIDE
            # add (writeStatsAsStruct) — drop non-spec subfields;
            # 'stats' stays the canonical JSON string
            v = {k: val for k, val in v.items()
                 if k in ("path", "partitionValues", "size",
                          "modificationTime", "dataChange",
                          "stats", "tags", "deletionVector",
                          "baseRowId", "defaultRowCommitVersion",
                          "clusteringProvider")}
        actions.append({c: v})
    # a V2 checkpoint (UUID-named) must declare itself exactly once —
    # a truncated JSON copy that lost its checkpointMetadata line
    # would otherwise silently replay a PARTIAL state (parquet gets
    # this for free from the footer; JSON does not)
    if (expect_version is not None
            and _V2_CP.match(os.path.basename(str(path)))
            and n_cp_meta != 1):
        raise DeltaInteropError(
            f"v2 checkpoint {path!r} carries {n_cp_meta} "
            "checkpointMetadata actions; the spec requires exactly "
            "one — truncated or corrupted checkpoint")
    return actions


# ---------------------------------------------------------------------------
# Log replay: listing, segment selection, commit decoding, reader gate
# ---------------------------------------------------------------------------

#: Reader features this engine decodes.  columnMapping and
#: deletionVectors translate into the engine's own machinery;
#: v2Checkpoint is a log format :func:`read_checkpoint_actions`
#: replays; typeWidening is a no-op to honor, because reads use the
#: explicit stored (widened) schema and Spark's parquet reader performs
#: exactly the spec's promotions (int class, float->double, decimal
#: widening).  Everything else refuses.
READER_FEATURES = frozenset({"columnMapping", "deletionVectors",
                             "v2Checkpoint", "typeWidening",
                             "typeWidening-preview"})

_JSON_COMMIT = re.compile(r"^(\d+)\.json$")


class LogSegment(NamedTuple):
    """The part of a ``_delta_log`` that reconstructs its head: either
    every JSON commit from version 0 (``checkpoint`` is None), or the
    actions of the checkpoint at version ``checkpoint`` followed by the
    contiguous JSON commits after it.  ``commits`` holds each replayed
    JSON commit's actions, decoded once, as ``(version, actions)`` in
    version order; ``head`` is the version the segment reconstructs."""

    head: int
    checkpoint: Optional[int]
    checkpoint_actions: list[dict[str, Any]]
    commits: list[tuple[int, list[dict[str, Any]]]]


def _read_commit(dlog: str, version: int) -> list[dict[str, Any]]:
    """One JSON commit's actions (one JSON object per non-blank line)."""
    with open(os.path.join(dlog, f"{version:020d}.json"),
              encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def read_log_segment(dlog: str) -> LogSegment:
    """Choose and decode the segment that reconstructs the head of the
    Delta log at ``dlog``: the full JSON log when it runs contiguously
    from version 0, else the newest decodable checkpoint plus the
    contiguous JSON tail after it (what a table looks like once log
    cleanup aged out its early commits).

    Even with contiguous JSON 0..N, anything checkpoint-shaped claiming
    a version beyond N means the JSON understates the head (a
    partially-copied log: cleanup cannot produce it, a botched copy
    can), so the checkpoint path is taken, and a checkpoint claim that
    checkpoint + tail cannot reach refuses rather than replaying a
    stale state.  Junk checkpoints at or below the JSON head change
    nothing."""
    if not os.path.isdir(dlog):
        raise FileNotFoundError(f"no Delta log at {dlog!r}")
    versions = sorted(int(m.group(1)) for n in os.listdir(dlog)
                      for m in [_JSON_COMMIT.match(n)] if m)
    json_complete = bool(versions) and \
        versions == list(range(len(versions)))
    cp_hint = newest_checkpoint_hint(dlog)
    if json_complete and (cp_hint is None or cp_hint <= versions[-1]):
        return LogSegment(versions[-1], None, [],
                          [(v, _read_commit(dlog, v)) for v in versions])
    cp = find_classic_checkpoint(dlog)
    if cp is None:
        if json_complete:
            raise DeltaInteropError(
                f"Delta log under {dlog!r} claims a checkpoint at "
                f"version {cp_hint} ahead of its JSON tail (head "
                f"{versions[-1]}) but no decodable checkpoint exists; "
                "the JSON understates the head state — refusing a "
                "silently-stale replay (partially-copied log?)")
        raise DeltaInteropError(
            f"Delta log under {dlog!r} is neither a contiguous JSON "
            f"tail from version 0 (found {versions[:3]}...) nor "
            "checkpointed; cannot reconstruct the head state")
    cpv, cppath = cp
    tail = [v for v in versions if v > cpv]
    if tail != list(range(cpv + 1, cpv + 1 + len(tail))):
        raise DeltaInteropError(
            f"JSON commits after checkpoint version {cpv} are not "
            f"contiguous ({tail[:4]}...); the head state cannot be "
            "reconstructed")
    # stale JSON below the checkpoint may survive cleanup: the head is
    # the max of both sources
    head = max([cpv] + versions[-1:])
    if cp_hint is not None and cp_hint > head:
        raise DeltaInteropError(
            f"Delta log under {dlog!r} claims a checkpoint at version "
            f"{cp_hint} but checkpoint + JSON tail reconstruct only "
            f"version {head}; refusing a silently-stale replay "
            "(partially-copied log?)")
    return LogSegment(head, cpv, read_checkpoint_actions(cppath, cpv),
                      [(v, _read_commit(dlog, v)) for v in tail])


def check_reader_protocol(protocol: dict[str, Any], root: str) -> None:
    """Refuse a ``protocol`` action whose reader requirements lie
    outside what this engine decodes (reader versions 1-3, features in
    :data:`READER_FEATURES`; reader version 2 implies columnMapping)."""
    mrv = int(protocol.get("minReaderVersion", 1))
    features = set(protocol.get("readerFeatures") or [])
    if mrv == 2:
        features.add("columnMapping")
    if mrv > 3:
        raise DeltaInteropError(
            f"Delta table at {root!r} requires minReaderVersion={mrv}; "
            "this engine decodes reader versions 1-3 only")
    unsupported = sorted(features - READER_FEATURES)
    if unsupported:
        raise DeltaInteropError(
            f"Delta table at {root!r} requires reader feature(s) "
            f"{unsupported} this engine does not decode; reading it "
            "would misread the existing bytes")


def write_classic_checkpoint(
    dlog: str, version: int, actions: list,
) -> str:
    """Write a CLASSIC single-part parquet checkpoint
    (``<v>.checkpoint.parquet``, one non-null action struct per row —
    the public-spec shape every Delta reader replays) plus the
    ``_last_checkpoint`` pointer.  The dual of
    :func:`read_checkpoint_actions`; :func:`table.export_delta_log`
    emits one past its file-count threshold so a foreign reader of a
    large exported table replays one parquet footer instead of a
    million JSON add lines.

    Scope matches what the export produces: protocol / metaData /
    txn / add (with optional deletionVector) / remove actions;
    commitInfo rows are deliberately not checkpointed (the spec says
    readers ignore them there)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    str_map = pa.map_(pa.string(), pa.string())
    dv_type = pa.struct([
        ("storageType", pa.string()),
        ("pathOrInlineDv", pa.string()),
        ("offset", pa.int32()),
        ("sizeInBytes", pa.int32()),
        ("cardinality", pa.int64()),
    ])
    types = {
        "protocol": pa.struct([
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
            ("readerFeatures", pa.list_(pa.string())),
            ("writerFeatures", pa.list_(pa.string())),
        ]),
        "metaData": pa.struct([
            ("id", pa.string()),
            ("name", pa.string()),
            ("description", pa.string()),
            ("format", pa.struct([("provider", pa.string()),
                                  ("options", str_map)])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", str_map),
            ("createdTime", pa.int64()),
        ]),
        "txn": pa.struct([
            ("appId", pa.string()),
            ("version", pa.int64()),
            ("lastUpdated", pa.int64()),
        ]),
        "add": pa.struct([
            ("path", pa.string()),
            ("partitionValues", str_map),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
            ("tags", str_map),
            ("deletionVector", dv_type),
        ]),
        "remove": pa.struct([
            ("path", pa.string()),
            ("deletionTimestamp", pa.int64()),
            ("dataChange", pa.bool_()),
        ]),
    }
    rows = [a for a in actions
            if next(iter(a)) in types]  # commitInfo never checkpoints
    cols = [c for c in types if any(c in a for a in rows)]
    arrays = []
    for c in cols:
        # pa.array fills absent struct keys with null; extra keys in
        # the action dict would poison the column, so project to the
        # spec fields
        fields = {f.name for f in types[c]}
        vals = []
        for a in rows:
            v = a.get(c)
            vals.append({k: v[k] for k in v if k in fields}
                        if v is not None else None)
        arrays.append(pa.array(vals, type=types[c]))
    tbl = pa.table(dict(zip(cols, arrays)))
    cp_name = f"{version:020d}.checkpoint.parquet"
    tmp = os.path.join(dlog, f".{cp_name}.tmp-{uuid.uuid4().hex}")
    pq.write_table(tbl, tmp)
    # payload fsync BEFORE the rename (the tablelog convention): the
    # durable _last_checkpoint pointer below must never outlive a
    # checkpoint whose blocks did not reach disk
    with open(tmp, "rb") as f:
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(dlog, cp_name))
    lc_tmp = os.path.join(dlog, f"._last_checkpoint.tmp-{uuid.uuid4().hex}")
    with open(lc_tmp, "w", encoding="utf-8") as f:
        json.dump({"version": version, "size": len(rows)}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(lc_tmp, os.path.join(dlog, "_last_checkpoint"))
    return os.path.join(dlog, cp_name)
