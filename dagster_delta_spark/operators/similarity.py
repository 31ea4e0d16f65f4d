"""Similarity search over embedding columns (``array<float>``).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.
  Queries collect to the driver; the corpus scan is one Arrow pass
  with per-batch top-k, then a single global window over
  k*batches rows.
- ``lsh_ann_topk``: random-hyperplane LSH — the scale path.  Hyperplane
  coefficients are derived from ``xxhash64(plane, dim)`` so the whole
  pipeline is deterministic, JVM-side, and needs no model state.
- ``embedding_near_dups``: all pairs above a cosine threshold
  (brute-force exact; LSH-bucketed variant for scale).

Exact cosine (``cosine_topk``, the ``ivf_ann_topk`` rerank,
``embedding_decontaminate``) is scored by one Arrow path: the batch
decoder :func:`_decode_batch` and bit-identical ``out=``-buffered
ordered folds.  The JVM paths use the ``DOT``/``NORM``
``zip_with``+``aggregate`` array expressions rather than Python UDFs.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import tempfile
from typing import Optional

from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import session_cache
from .relational import load

# Python workers may not have this repo on PYTHONPATH, and the Arrow
# scorers' closures call the module-level decoder: ship this module's
# functions by value (the multimodal.py arrangement).
cloudpickle.register_pickle_by_value(sys.modules[__name__])

DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "0D, (acc, v) -> acc + v)"
)
NORM = "sqrt(aggregate({a}, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"


class RecallRegressionError(RuntimeError):
    """ANN index quality collapsed below its configured floor."""


def _auto_cells(spark: SparkSession, sf_dir: str) -> int:
    """sqrt-rule IVF cell count: ``n_cells ~= 1.5*sqrt(n)`` (the
    standard coarse-quantizer sizing — FAISS guidance is c*sqrt(n);
    c=1.5 reproduces the hand-tuned 32 cells on the 500-vector fixture
    where recall@10 was measured at 0.60-0.62, so auto-scaling changes
    nothing at the tuned point), clamped to [4, 65536].  A FIXED cell
    count stops bounding the probe scan as the corpus grows: at 100x
    the data, 32 cells mean each probe reads 100x more vectors; sqrt
    scaling keeps both the per-cell population and the centroid table
    growing as sqrt(n), so probe cost per query grows ~sqrt(n) instead
    of linearly.  Every IVF entry point defaults to this
    (``n_cells=None``); an explicit ``n_cells`` stays an exact dial.
    The corpus count is one footer-only parquet count, session-cached
    per corpus fingerprint next to the centroids."""
    def build(_fp: str) -> int:
        n = load(spark, sf_dir, "embeddings").count()
        return max(4, min(65536, int(round(1.5 * math.sqrt(max(n, 1))))))

    return session_cache.get(spark, sf_dir, "embeddings", ("ncells",), build)


def _resolve_cells(
    spark: SparkSession, sf_dir: str, n_cells: Optional[int]
) -> int:
    return n_cells if n_cells is not None else _auto_cells(spark, sf_dir)


def _resolve_nprobe(nprobe: Optional[int], n_cells: int) -> int:
    """Default nprobe scales WITH the cell count (ceil(n_cells/4), the
    25% probe fraction of the old fixed 32/8 default): auto-scaled
    cells with a fixed nprobe would silently shrink the probe fraction
    — and recall — as the corpus grows."""
    return nprobe if nprobe is not None else max(1, -(-n_cells // 4))


def _with_norm(df: DataFrame, col: str = "embedding") -> DataFrame:
    """Attach the L2 norm and EXCLUDE zero-norm (all-zero or empty)
    embeddings: their cosine is 0/0 = NaN, and Spark orders NaN above
    every real, so one degenerate vector (failed encode, padding row)
    would otherwise rank FIRST in every top-k and pass every
    >= threshold near-dup filter.  Excluding them here keeps the exact
    and approximate paths consistent on the same degenerate input."""
    return (
        df.withColumn("norm", F.expr(NORM.format(a=col)))
        .where(F.col("norm") > 0)
    )


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared top-k epilogue — ONE definition of the ranking tie-break
    so the exact and approximate paths can never drift apart (the
    quantized path's bit-for-bit-at-full-rerank contract depends on
    it)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "vec_id",
                F.col("cosine").cast("double").alias("cosine"), "rank")
    )


def cosine_topk(
    spark: SparkSession, sf_dir: str, k: int = 5, n_queries: int = 5
) -> DataFrame:
    """Exact top-k cosine neighbors for the first ``n_queries`` vectors
    (excluding self-matches).  Deterministic tiebreak on vec_id.

    The query set (``n_queries`` rows) collects to the driver; the
    corpus is scored in the ``out=``-buffered ``mapInArrow`` scorer
    (:func:`_pair_topk_scores` — bit-identical ordered folds) with
    per-batch partial top-k, so the ``_topk`` window ranks k*batches
    rows instead of the full corpus x queries pair stream.  Queries
    follow the ``_with_norm`` rules (see :func:`_collect_query_matrix`):
    an empty query set returns an empty frame, a ragged one raises."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q_ids, qmat, qnorms = _collect_query_matrix(
        emb.where(F.col("vec_id") < n_queries).collect(),
        "vec_id", "embedding",
    )  # bounded: n_queries rows
    scored = _pair_topk_scores(
        emb, q_ids, qmat, qnorms, k=k,
    ).select("q_id", "vec_id", F.col("score").alias("cosine"))
    return _topk(scored, k)


def lsh_signatures(
    spark: SparkSession, sf_dir: str, planes: int = 6, tables: int = 4,
    portable_hash: bool = False,
) -> DataFrame:
    """Multi-table random-hyperplane signatures.

    Hyperplane coefficients are ±1 from ``xxhash64(plane, dim)``
    parity.  Shape: posexplode the embedding once, then one codegen'd
    signed-sum aggregate per plane in a single groupBy (one shuffle on
    vec_id; nested array lambdas would run interpreted and re-hash per
    plane).  ``tables`` independent buckets trade memory for recall,
    classic multi-table LSH.  Returns a MATERIALIZED (localCheckpoint)
    frame, session-cached per (corpus, fingerprint, planes, tables,
    hash family): the corpus-side index is query-independent, so one
    build amortizes across every lsh_ann_topk /
    embedding_near_dups_lsh call in a session.

    ``portable_hash=True`` is the oracle dial (the r9 ingest-filter
    technique, applied to the embedding family): coefficients become
    ±1 from md5 parity (``PORTABLE_H64`` — cross-engine), the signed
    sum becomes an ORDERED per-row array fold (both engines then add
    the same doubles in the same sequence, so the sum is
    bit-identical), and the sign test quantizes to 9 decimals first
    (``round(p, 9) > 0``) so a sum within 5e-10 of the hyperplane
    cannot flip the bucket on a final-ulp divergence.  Structure —
    plane seeding, bit packing, table layout — is shared with the
    production path; only the hash family and fold order swap.  The
    fold runs interpreted (map-only, no shuffle), fine for
    verification corpora; production keeps the codegen'd aggregate."""
    if not 1 <= planes <= 62:
        # shiftleft wraps its shift amount mod 64: plane 63+ would
        # alias onto low bit positions (silent recall loss), and the
        # multiprobe masks would overflow BIGINT literals
        raise ValueError(f"planes={planes} must be in [1, 62]")
    if tables < 1:
        raise ValueError(f"tables={tables} must be >= 1")
    return session_cache.get(
        spark, sf_dir, "embeddings",
        ("lsh", planes, tables, "md5" if portable_hash else "xx"),
        lambda _fp: _lsh_signatures_of(
            load(spark, sf_dir, "embeddings"), planes, tables,
            portable_hash).localCheckpoint())


def _lsh_signatures_of(emb: DataFrame, planes: int, tables: int,
                       portable_hash: bool) -> DataFrame:
    total = planes * tables
    if portable_hash:
        from .dedup import PORTABLE_H64

        # ordered per-row fold: no shuffle, deterministic summation
        # order — the cross-engine contract (see docstring)
        def p_expr(p: int) -> str:
            parity = PORTABLE_H64.format(
                x=f"concat('{p}', ':', CAST(i AS STRING))")
            return (
                "aggregate(zip_with(embedding, "
                "sequence(0, size(embedding) - 1), "
                f"(v, i) -> CASE WHEN pmod({parity}, 2) = 0 "
                "THEN CAST(v AS DOUBLE) ELSE -CAST(v AS DOUBLE) END), "
                "0D, (acc, x) -> acc + x)"
            )

        g = emb.select(
            "vec_id",
            *[F.expr(p_expr(p)).alias(f"p{p}") for p in range(total)],
        )
        sign = "round(p{p}, 9) > 0"
    else:
        ex = emb.select(
            "vec_id", F.posexplode("embedding").alias("dim", "v"))
        aggs = [
            F.sum(
                F.when((F.xxhash64(F.lit(p), F.col("dim")) % 2) == 0,
                       F.col("v"))
                .otherwise(-F.col("v"))
            ).alias(f"p{p}")
            for p in range(total)
        ]
        g = ex.groupBy("vec_id").agg(*aggs)
        sign = "p{p} > 0"
    bucket_exprs = []
    for t in range(tables):
        bits = " | ".join(
            f"(CASE WHEN {sign.format(p=t * planes + j)} "
            f"THEN shiftleft(1L, {j}) ELSE 0L END)"
            for j in range(planes)
        )
        bucket_exprs.append(f"({bits})")
    buckets = F.expr(f"array({', '.join(bucket_exprs)})")
    # norm is pure index state: bake it into the cached table so
    # queries don't re-run the O(corpus x dims) sqrt-aggregate per call
    # (zero-norm vectors drop out here, consistently with every other
    # similarity path)
    return g.select("vec_id", buckets.alias("buckets")).join(
        _with_norm(emb.select("vec_id", "embedding")), "vec_id"
    )


def lsh_ann_topk(
    spark: SparkSession, sf_dir: str, k: int = 5, n_queries: int = 5,
    planes: int = 6, tables: int = 4, multiprobe: int = 1,
    portable_hash: bool = False,
) -> DataFrame:
    """Approximate top-k: candidates share any of the query's
    per-table hyperplane buckets; exact cosine re-ranks candidates.
    At scale the bucket join replaces the full cross product — recall
    traded via planes/tables.

    ``multiprobe=r`` additionally probes every bucket within Hamming
    distance ``r`` of the query's (a vector near a hyperplane lands on
    either side, so the nearest neighbors concentrate in
    Hamming-adjacent buckets).  Only the QUERY side fans out
    (``sum_{i<=r} C(planes, i)`` probes per table); the corpus index is
    untouched, so recall rises without extra tables or index memory —
    the classic multi-probe LSH trade.  ``multiprobe=0`` probes the
    exact bucket only.

    ``portable_hash=True`` buckets under the md5-parity dial (see
    ``lsh_signatures``) so the whole query — buckets, probes,
    candidates, cosine rerank — is recomputable by the DuckDB
    oracle."""
    from itertools import combinations

    sigs = lsh_signatures(spark, sf_dir, planes, tables,
                          portable_hash=portable_hash)  # carries norm
    flat = sigs.select(
        "vec_id", "embedding", "norm",
        F.posexplode("buckets").alias("t_idx", "bucket"),
    )
    masks = [0]
    for r in range(1, min(multiprobe, planes) + 1):
        for bits in combinations(range(planes), r):
            masks.append(sum(1 << b for b in bits))
    probe_expr = "array(" + ", ".join(
        f"CAST(q_bucket0 ^ {m}L AS LONG)" if m else "q_bucket0"
        for m in masks
    ) + ")"
    queries = (
        flat.where(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
            F.col("norm").alias("q_norm"),
            F.col("t_idx").alias("q_t_idx"),
            F.col("bucket").alias("q_bucket0"),
        )
        .withColumn("q_bucket", F.explode(F.expr(probe_expr)))
        .drop("q_bucket0")
    )
    candidates = (
        flat.join(
            F.broadcast(queries),
            (F.col("t_idx") == F.col("q_t_idx"))
            & (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("q_id")),
        )
        .select("q_id", "q_emb", "q_norm", "vec_id", "embedding", "norm")
        .dropDuplicates(["q_id", "vec_id"])
    )
    dot = DOT.format(a="q_emb", b="embedding")
    scored = candidates.withColumn(
        "cosine", F.expr(dot) / (F.col("norm") * F.col("q_norm"))
    )
    return _topk(scored, k)


def embedding_near_dups(
    spark: SparkSession, sf_dir: str, threshold: float = 0.99
) -> DataFrame:
    """All embedding pairs with cosine >= threshold (brute force,
    exact; doc-level near-dup detection by representation)."""
    emb = _with_norm(load(spark, sf_dir, "embeddings"))
    a = emb.select(F.col("vec_id").alias("id_a"),
                   F.col("embedding").alias("emb_a"),
                   F.col("norm").alias("norm_a"))
    b = emb.select(F.col("vec_id").alias("id_b"),
                   F.col("embedding").alias("emb_b"),
                   F.col("norm").alias("norm_b"))
    dot = DOT.format(a="emb_a", b="emb_b")
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.expr(dot) / (F.col("norm_a") * F.col("norm_b")))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.col("cosine").cast("double").alias("cosine"))
    )


def embedding_decontaminate(
    spark: SparkSession, sf_dir: str, threshold: float = 0.4,
    eval_mod: int = 17, eval_rem: int = 3,
) -> DataFrame:
    """EMBEDDING-LEVEL benchmark decontamination — the representation-
    space complement of the lexical decontaminators (exact n-gram
    overlap in ``curation.decontaminate``, trigram-Jaccard in
    ``curation.near_dup_decontaminate``): flag corpus vectors whose
    cosine to ANY eval vector reaches ``threshold``.  A paraphrase
    that rewrites every shingle still lands near its source in
    embedding space, so this is the leakage signal lexical methods
    structurally cannot see.  Returns one row per flagged corpus
    vector: ``(vec_id, matched_eval_id, cosine)`` with the
    best-matching eval vector (ties break on the smaller eval id);
    eval-set members flag themselves at cosine 1.

    Eval stand-in: ``vec_id % eval_mod == eval_rem`` (the same
    deterministic rule the lexical decontaminators use on doc_id, so
    the three operators audit the same leakage scenario from three
    angles).

    Plan: the eval side is a fixed fraction of a BOUNDED benchmark
    set by construction, so it collects to the driver under the
    ``_with_norm`` rules (:func:`_collect_query_matrix`: an empty eval
    set returns an empty frame, a ragged one raises).  The corpus side
    is ONE linear ``mapInArrow`` scan scoring ``|eval|`` dot products
    per vector, and the best match is picked per corpus row inside the
    batch — map-only at any corpus size, no window Exchange.  At
    100 TB: the eval set (even 1M x 1 KB vectors) fits executor
    memory, one pass over the corpus, cost O(corpus x |eval| x d)
    FLOPs — embarrassingly parallel; an IVF-bucketed variant would
    trade exactness for FLOPs if |eval| grew unbounded, but benchmark
    suites do not.

    Exact, and exactly SQL-expressible, so the entry is oracle-backed:
    the dot/norm folds run as a d-step loop of ``out=``-buffered
    multiply/adds (acc starts at 0.0 and adds the dim-k product
    left-to-right — no matmul, whose pairwise summation is NOT
    order-identical), so every double is bit-identical to the
    ``aggregate(zip_with(...))`` expression the DuckDB oracle
    recomputes.  No large temporary is allocated: allocating
    element-wise ufuncs measured ~27M elem/s against ~593M elem/s for
    the preallocated buffers.  Zero-norm exclusion, NaN ordering
    (Spark ranks NaN above every value) and best-match tie-breaks
    follow the JVM plan; a corpus row with a null ``vec_id`` cannot be
    reported and is skipped; final round(9) stays in the JVM."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ev_ids, evm, ev_norm = _collect_query_matrix(
        emb.where(F.pmod(F.col("vec_id"), F.lit(eval_mod)) == eval_rem)
        .collect(),
        "vec_id", "embedding", what="eval",
    )  # bounded: the benchmark set
    d = evm.shape[1]
    thr = float(threshold)
    n_ev = len(ev_ids)
    # row-chunk bound so the (chunk × |eval|) fold buffers stay ~32 MB
    chunk = max(1, (4 << 20) // max(1, n_ev))

    def _score(batches):
        import numpy as _np
        import pyarrow as _pa

        get = _buffer_pool()
        for rb in batches:
            if rb.num_rows == 0 or n_ev == 0:
                continue
            # ragged rows null the JVM dot, so they never flag
            _kidx, ids, vecs, vnorm, _ragged = _decode_batch(
                rb, get, d, "vec_id", "embedding")
            out_v, out_e, out_c = [], [], []
            for lo in range(0, len(ids), chunk):
                hi = min(lo + chunk, len(ids))
                c = hi - lo
                acc = get("acc", (c, n_ev))
                tmp = get("tmp", (c, n_ev))
                acc[:] = 0.0
                vc = vecs[lo:hi]
                # dot fold: acc = ((0 + v0*e0) + v1*e1) + ... per pair
                for k in range(d):
                    _np.multiply.outer(vc[:, k], evm[:, k], out=tmp)
                    _np.add(acc, tmp, out=acc)
                _np.multiply.outer(vnorm[lo:hi], ev_norm, out=tmp)
                with _np.errstate(divide="ignore", invalid="ignore"):
                    _np.divide(acc, tmp, out=acc)
                cos = acc
                nan = _np.isnan(cos)
                sel = (cos >= thr) | nan
                flagged = sel.any(axis=1)
                if not flagged.any():
                    continue
                # rank key: NaN above every finite/inf cosine (Spark
                # ordering), then cosine desc, then eval_id asc (the
                # eval axis is id-ascending; argmax takes the FIRST
                # maximum)
                k1 = _np.where(sel, nan.astype(_np.float64), -1.0)
                m1 = k1.max(axis=1)
                k2 = _np.where(
                    k1 == m1[:, None],
                    _np.where(nan, _np.inf,
                              _np.where(sel, cos, -_np.inf)),
                    -_np.inf)
                j = _np.argmax(k2, axis=1)
                fi = _np.nonzero(flagged)[0]
                out_v.append(ids[lo:hi][fi])
                out_e.append(ev_ids[j[fi]])
                out_c.append(cos[fi, j[fi]].copy())
            if out_v:
                yield _pa.RecordBatch.from_arrays(
                    [
                        _pa.array(_np.concatenate(out_v),
                                  type=_pa.int64()),
                        _pa.array(_np.concatenate(out_e),
                                  type=_pa.int64()),
                        _pa.array(_np.concatenate(out_c),
                                  type=_pa.float64()),
                    ],
                    names=["vec_id", "matched_eval_id", "cosine"],
                )

    return (
        emb.mapInArrow(
            _score,
            "vec_id long, matched_eval_id long, cosine double")
        .select("vec_id", "matched_eval_id",
                F.round(F.col("cosine").cast("double"), 9)
                .alias("cosine"))
    )


def _ordered_norms(mat, out=None, tmp=None) -> "object":
    """L2 norms of each row of ``mat`` by the exact JVM/DuckDB fold
    sequence: acc starts at 0.0 and adds ``v_k * v_k`` left-to-right
    (``sqrt(aggregate(a, 0D, (acc, x) -> acc + x*x))``) — NOT
    ``np.linalg.norm``, whose pairwise summation is not
    order-identical.  ``out``/``tmp`` are optional preallocated
    length-n float64 buffers."""
    import numpy as np

    n, d = mat.shape
    acc = np.empty(n, dtype=np.float64) if out is None else out
    tmp = np.empty(n, dtype=np.float64) if tmp is None else tmp
    acc[:] = 0.0
    for k in range(d):
        np.multiply(mat[:, k], mat[:, k], out=tmp)
        np.add(acc, tmp, out=acc)
    return np.sqrt(acc, out=acc)


def _buffer_pool():
    """``get(name, shape, dtype=float64)``: a view of a lazily
    allocated numpy buffer, reused across record batches — the Arrow
    scorers never allocate per-batch temporaries (allocating
    element-wise ufuncs, not the arithmetic, dominate otherwise)."""
    import numpy as np

    buf = {}

    def get(name, shape, dtype=np.float64):
        b = buf.get(name)
        if (b is None or b.dtype != dtype or b.shape[0] < shape[0]
                or b.shape[1:] != tuple(shape[1:])):
            b = np.empty(shape, dtype=dtype)
            buf[name] = b
        return b[: shape[0]]

    return get


def _decode_batch(rb, get, d: int, id_col: str, emb_col: str,
                  norm_col: Optional[str] = None):
    """Decode one Arrow record batch of ``(id, list<float>)`` rows for
    the exact-cosine scorers, applying the ``_with_norm`` rules in one
    place.  Returns ``(kidx, ids, vecs, norms, ragged)``:

    - ``kidx`` is the batch row index of each kept row; ``ids``
      (int64), ``vecs`` (float64, ``len(kidx) x d``) and ``norms``
      align with it;
    - rows with a null id, a null list or a null element are dropped
      (a null element nulls the JVM NORM fold, so ``_with_norm`` drops
      the row; a row without an id cannot be reported);
    - ``ragged`` masks the other batch rows whose length is not ``d``:
      zip_with null-extends them, so their JVM dot is null;
    - rows with norm 0 are dropped, a NaN norm is kept (Spark's
      ``norm > 0`` passes NaN, which it orders above every value).

    float32 widens to float64 BEFORE any arithmetic (the DOT/NORM
    macros CAST each element to DOUBLE first; f32->f64 is exact, so
    the folds match bit-for-bit) by one copy into a ``get`` buffer.
    Norms are the :func:`_ordered_norms` fold, or read from
    ``norm_col`` when the frame stores them."""
    import numpy as np

    n = rb.num_rows
    id_arr = rb.column(rb.schema.get_field_index(id_col))
    col = rb.column(rb.schema.get_field_index(emb_col))
    valid = np.ones(n, dtype=bool)
    if id_arr.null_count:
        valid &= np.asarray(id_arr.is_valid())
        id_arr = id_arr.fill_null(0)
    if col.null_count:
        valid &= np.asarray(col.is_valid())
    offs = col.offsets.to_numpy(zero_copy_only=False).astype(
        np.int64, copy=False)
    vals = col.values
    if vals.null_count:
        # map each null child position back to its row
        null_pos = np.nonzero(~np.asarray(vals.is_valid()))[0]
        bad = np.unique(np.searchsorted(offs, null_pos, side="right") - 1)
        valid[bad[(bad >= 0) & (bad < n)]] = False
    lens = offs[1:] - offs[:-1]
    ragged = valid & (lens != d)
    kidx = np.nonzero(valid & (lens == d))[0]
    nk = len(kidx)
    ids = id_arr.to_numpy(zero_copy_only=False)[kidx].astype(
        np.int64, copy=False)
    flat = vals.to_numpy(zero_copy_only=False)
    vecs = get("vecs", (nk, d))
    if (nk == n and offs[0] == 0 and int(offs[-1]) == n * d
            and flat.flags.c_contiguous):
        np.copyto(vecs, flat[: n * d].reshape(n, d), casting="same_kind")
    else:
        idx = offs[:-1][kidx][:, None] + np.arange(d, dtype=np.int64)
        if flat.dtype == np.float64:
            np.take(flat, idx, out=vecs)
        else:
            raw = get("raw", (nk, d), flat.dtype)
            np.take(flat, idx, out=raw)
            np.copyto(vecs, raw, casting="same_kind")
    norms = get("norms", (nk,))
    if norm_col is not None:
        stored = rb.column(rb.schema.get_field_index(norm_col))
        np.copyto(norms, stored.to_numpy(zero_copy_only=False)[kidx],
                  casting="same_kind")
    else:
        _ordered_norms(vecs, out=norms, tmp=get("tmp1", (nk,)))
    nz = (norms > 0) | np.isnan(norms)
    if not nz.all():
        zi = np.nonzero(nz)[0]
        kidx, ids = kidx[zi], ids[zi]
        vecs = np.take(vecs, zi, axis=0, out=get("vecs_nz", (len(zi), d)))
        norms = np.take(norms, zi, out=get("norms_nz", (len(zi),)))
    return kidx, ids, vecs, norms, ragged


def _collect_query_matrix(rows, id_field: str, emb_field: str,
                          norm_field: Optional[str] = None,
                          what: str = "query"):
    """Driver-collected query (or eval) rows -> id-ascending
    ``(ids, qmat, qnorms)`` numpy arrays for the Arrow scorers, under
    the ``_with_norm`` rules: rows with a null id, a null or empty
    embedding, a null element or a zero norm are dropped; a NaN norm
    is kept (Spark orders NaN above every value).  Norms come from
    ``norm_field`` when the frame already carries them, otherwise from
    the bit-exact ordered fold.  An empty set gives empty ``(0,)`` /
    ``(0, 0)`` arrays, which score nothing.  A ragged set raises
    ``ValueError``: the embeddings contract guarantees one dimension."""
    import numpy as np

    rows = sorted(
        (r for r in rows
         if r[id_field] is not None and r[emb_field]
         and all(v is not None for v in r[emb_field])),
        key=lambda r: r[id_field])
    width = max((len(r[emb_field]) for r in rows), default=0)
    # zero padding leaves the ordered norm fold exact (acc + 0*0 == acc)
    mat = np.zeros((len(rows), width), dtype=np.float64)
    for i, r in enumerate(rows):
        mat[i, :len(r[emb_field])] = r[emb_field]
    if norm_field is not None:
        norms = np.asarray([r[norm_field] for r in rows], dtype=np.float64)
    else:
        norms = _ordered_norms(mat)
    keep = (norms > 0) | np.isnan(norms)
    rows = [r for r, kept in zip(rows, keep) if kept]
    by_dim: dict[int, list] = {}
    for r in rows:
        by_dim.setdefault(len(r[emb_field]), []).append(r[id_field])
    if len(by_dim) > 1:
        raise ValueError(
            f"ragged {what} embeddings: one dimension is required, got "
            + "; ".join(f"dimension {dim} at {id_field} {ids[:5]}"
                        for dim, ids in sorted(by_dim.items())))
    d = next(iter(by_dim), 0)
    ids = np.asarray([r[id_field] for r in rows], dtype=np.int64)
    return ids, np.ascontiguousarray(mat[keep][:, :d]), norms[keep]


def _probe_map_driver(cent_rows, q_ids, qmat, qnorms, nprobe: int):
    """Each query's ``nprobe`` probe cells, ranked on the driver over
    collected centroid rows exactly as the :func:`_probe_cells_for`
    window ranks them — the same ordered-fold cosine, then c_cos desc
    with NaN above all and nulls below all, then cell asc — so the
    probe set per query is IDENTICAL.  Returns ``{q_id: set(cells)}``;
    with no centroids every probe set is empty.  A centroid whose
    length is not the query dimension raises ``ValueError``."""
    import numpy as np

    rows = [r for r in cent_rows if r["cell"] is not None]
    if not rows or not len(q_ids):
        return {int(q): set() for q in q_ids}
    d = qmat.shape[1]
    ragged = {r["cell"]: len(r["c_emb"]) for r in rows
              if r["c_emb"] is not None and len(r["c_emb"]) != d}
    if ragged:
        raise ValueError(
            f"ragged centroid embeddings: the queries have dimension {d}, "
            f"got (cell: dimension) {dict(sorted(ragged.items())[:5])}")
    cells = np.asarray([r["cell"] for r in rows], dtype=np.int64)
    cnorm = np.asarray(
        [0.0 if r["c_norm"] is None else r["c_norm"] for r in rows],
        dtype=np.float64)
    cmat = np.zeros((len(rows), d), dtype=np.float64)
    cnull = np.zeros(len(rows), dtype=bool)  # null c_cos rows
    for i, r in enumerate(rows):
        ce = r["c_emb"]
        if ce is None or r["c_norm"] is None or any(v is None for v in ce):
            cnull[i] = True  # null fold / null norm -> c_cos NULL,
            # which desc-orders BELOW every value incl NaN
        else:
            cmat[i] = ce
    out: dict[int, set] = {}
    tmp = np.empty(len(rows), dtype=np.float64)
    for j in range(len(q_ids)):
        acc = np.zeros(len(rows), dtype=np.float64)
        for t in range(d):
            np.multiply(cmat[:, t], qmat[j, t], out=tmp)
            np.add(acc, tmp, out=acc)
        denom = cnorm * qnorms[j]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = acc / denom
        key1 = np.where(np.isnan(cos), np.inf, cos)
        key1[cnull] = -np.inf  # constant: within-null order is cell asc
        order = np.lexsort((cells, -key1, cnull))[:nprobe]
        out[int(q_ids[j])] = {int(c) for c in cells[order]}
    return out


def _pair_topk_scores(
    df: DataFrame, q_ids, qmat, qnorms, *, k: int,
    id_col: str = "vec_id", emb_col: str = "embedding",
    norm_col: Optional[str] = None, cell_col: Optional[str] = None,
    probe_map: Optional[dict] = None,
) -> DataFrame:
    """Vectorized (query x row) cosine scoring with per-batch partial
    top-k in an ``out=``-buffered ``mapInArrow`` scorer.  Returns
    ``(q_id, <id_col>, score)`` where, per query, the union over
    batches of each batch's top-``k`` is a SUPERSET of the global
    top-``k`` under the exact ``_topk`` order (score desc with NaN
    above all — Spark semantics — then id asc; null scores, which only
    arise from ragged-length rows via zip_with null-extension, rank
    below everything, and up to ``k`` smallest-id null rows are kept
    per batch too), so callers run the unchanged ``_topk``/shortlist
    window on a k*batches-row frame instead of the full pair stream.

    Every double is bit-identical to the JVM ``DOT``/``NORM`` macros:
    rows decode through :func:`_decode_batch`, the dot runs as a
    d-step ``out=``-buffered ordered fold (acc from 0.0, strict
    left-to-right — never matmul, whose pairwise summation breaks
    round-9 parity), and the final divide is the same two IEEE ops.
    Self-pairs (row id == q_id) are excluded, matching every call
    site's join condition; ``norm_col`` reads a stored norm instead of
    re-folding; ``cell_col``+``probe_map`` restrict query q to rows
    whose cell is in ``probe_map[q]`` (the IVF probe join).  An empty
    query set scores nothing."""
    import numpy as np

    nq = len(q_ids)
    d = qmat.shape[1]
    thr_k = int(k)
    q_ids = np.ascontiguousarray(q_ids)
    qmat = np.ascontiguousarray(qmat)
    qnorms = np.ascontiguousarray(qnorms)
    cells_per_q = None
    if probe_map is not None:
        cells_per_q = [np.asarray(sorted(probe_map.get(int(q), ())),
                                  dtype=np.int64) for q in q_ids]
    in_cols = [id_col, emb_col]
    if norm_col is not None:
        in_cols.append(norm_col)
    if cell_col is not None:
        in_cols.append(cell_col)

    def _score(batches):
        import numpy as _np
        import pyarrow as _pa

        get = _buffer_pool()
        for rb in batches:
            if rb.num_rows == 0 or nq == 0:
                continue
            kidx, ids, vecs, vnorm, ragged = _decode_batch(
                rb, get, d, id_col, emb_col, norm_col)
            # ragged rows score null, ranked BELOW every non-null (desc
            # NULLS LAST): up to k smallest-id ones per (batch, query)
            # can only enter the global top-k when fewer than k
            # non-null candidates exist, and then the window's id-asc
            # tie-break picks the smallest ids
            ridx = _np.nonzero(ragged)[0]
            rids = rb.column(rb.schema.get_field_index(id_col)).take(
                ridx).to_numpy(zero_copy_only=False).astype(_np.int64)
            if cell_col is not None:
                cells = rb.column(
                    rb.schema.get_field_index(cell_col)).to_numpy(
                        zero_copy_only=False)
                kcells, rcells = cells[kidx], cells[ridx]
            nk = len(kidx)
            if nk:
                acc = get("acc", (nk, nq))
                tmp = get("tmp", (nk, nq))
                acc[:] = 0.0
                for t in range(d):
                    _np.multiply.outer(vecs[:, t], qmat[:, t], out=tmp)
                    _np.add(acc, tmp, out=acc)
                _np.multiply.outer(vnorm, qnorms, out=tmp)
                with _np.errstate(divide="ignore", invalid="ignore"):
                    _np.divide(acc, tmp, out=acc)
            out_q, out_v, out_s, out_m = [], [], [], []
            for j in range(nq):
                sel = ids != q_ids[j]
                rsel = rids != q_ids[j]
                if cell_col is not None:
                    sel &= _np.isin(kcells, cells_per_q[j])
                    rsel &= _np.isin(rcells, cells_per_q[j])
                cidx = _np.nonzero(sel)[0]
                if len(cidx):
                    s = acc[cidx, j]
                    if len(cidx) > thr_k:
                        key1 = _np.where(_np.isnan(s), _np.inf, s)
                        order = _np.lexsort((ids[cidx], -key1))[:thr_k]
                        cidx = cidx[order]
                        s = acc[cidx, j]
                    out_q.append(_np.full(len(cidx), q_ids[j]))
                    out_v.append(ids[cidx])
                    out_s.append(s.copy())
                    out_m.append(_np.zeros(len(cidx), dtype=bool))
                null_ids = _np.sort(rids[rsel])[:thr_k]
                if len(null_ids):
                    out_q.append(_np.full(len(null_ids), q_ids[j]))
                    out_v.append(null_ids)
                    out_s.append(_np.zeros(len(null_ids)))
                    out_m.append(_np.ones(len(null_ids), dtype=bool))
            if out_q:
                yield _make_batch(_pa, _np, out_q, out_v, out_s, out_m,
                                  id_col)

    return df.select(*in_cols).mapInArrow(
        _score, f"q_id long, {id_col} long, score double")


def _make_batch(_pa, _np, out_q, out_v, out_s, out_m, id_col):
    """Assemble the scorer's output record batch; ``out_m`` marks null
    scores (ragged rows) so they serialize as JSON-less SQL NULLs."""
    scores = _np.concatenate(out_s)
    mask = _np.concatenate(out_m)
    return _pa.RecordBatch.from_arrays(
        [
            _pa.array(_np.concatenate(out_q), type=_pa.int64()),
            _pa.array(_np.concatenate(out_v), type=_pa.int64()),
            _pa.array(scores, type=_pa.float64(), mask=mask),
        ],
        names=["q_id", id_col, "score"],
    )


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of embeddings — element-wise mean over an
    array column via posexplode + re-assembly (the distributed way;
    no driver collection)."""
    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.avg("v").alias("mean_v"), F.count(F.lit(1)).alias("n"))
        .groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "mean_v"))
            ).alias("pairs"),
            # max, not first: first() is non-deterministic, and with
            # ragged embedding lengths per-dim counts differ — the
            # label's vector count is the count at its widest dim
            F.max("n").alias("n_vectors"),
        )
        .select(
            "label",
            F.expr("transform(pairs, p -> p.mean_v)").alias("centroid"),
            "n_vectors",
        )
    )


def _assign_cells(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment by cosine.  The centroid set is
    model-bounded (n_cells <= 65536, so <= ~16 MB at d=64), so it
    collects once and rides into an Arrow-batched ``mapInPandas``
    closure as plain numpy arrays: each batch is ONE
    ``(batch x d) @ (d x cells)`` matmul instead of batch*cells
    interpreted ``zip_with``/``aggregate`` lambda evaluations — the
    crossJoin + min_by formulation this replaces measured 97 s for
    40k vectors x 300 cells; the matmul does the same work in ~1 s,
    and the gap widens with corpus size (higher-order array lambdas
    run interpreted per element, CLAUDE.md's known pitfall).
    Map-only at any corpus size: no shuffle, no join.

    Ties break to the smallest cell id (``argmax`` returns the FIRST
    maximum over the cell-ascending score matrix), matching the
    previous ``min_by(struct(-cos, cell))`` tie-break; non-finite
    cosines (a degenerate all-zero centroid) rank below every real
    score, matching Spark's NaN-sorts-highest under min_by(-cos)."""
    import numpy as np

    rows = sorted(
        cents.select("cell", "c_emb", "c_norm").collect(),
        key=lambda r: r["cell"],
    )
    if not rows:
        return emb.select(
            "vec_id", F.lit(0).alias("cell"), "embedding", "norm"
        ).where(F.lit(False))
    cell_ids = np.asarray([r["cell"] for r in rows], dtype=np.int32)
    cmat = np.stack(
        [np.asarray(r["c_emb"], dtype=np.float64) for r in rows])
    cnorm = np.asarray([r["c_norm"] for r in rows], dtype=np.float64)

    def _assign(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = _np.stack(pdf["embedding"].to_numpy()).astype(_np.float64)
            xn = pdf["norm"].to_numpy(dtype=_np.float64)
            cos = (x @ cmat.T) / (xn[:, None] * cnorm[None, :])
            cos = _np.where(_np.isfinite(cos), cos, -_np.inf)
            yield _pd.DataFrame({
                "vec_id": pdf["vec_id"],
                "cell": cell_ids[_np.argmax(cos, axis=1)],
                "embedding": pdf["embedding"],
                "norm": pdf["norm"],
            })

    return emb.select("vec_id", "embedding", "norm").mapInPandas(
        _assign, "vec_id long, cell int, embedding array<float>, norm double"
    )


def _collected_centroids(spark: SparkSession, sf_dir: str,
                         n_cells: int, cents: DataFrame) -> list:
    """Driver-side rows of the (checkpointed, session-cached) centroid
    frame — INDEX state like the frame itself, so the collect is paid
    once per (session, corpus fingerprint, n_cells) and the vectorized
    query paths' driver probe ranking reads the cached copy (the
    fingerprint key makes in-session corpus rewrites miss)."""
    return session_cache.get(spark, sf_dir, "embeddings",
                             ("crows", n_cells), lambda _fp: cents.collect())


def _index_root() -> str:
    """Writable home for persisted ANN index tables.  In production this
    would be a lake path next to the corpus; the corpus dir here
    (/root/testdata) is read-only, so default to a temp-dir namespace."""
    import getpass

    override = os.environ.get("DDS_INDEX_DIR")
    if override:
        return override
    try:
        user = getpass.getuser()
    except Exception:  # no passwd entry (containers)
        user = "shared"
    # per-user namespace: a fixed world-shared /tmp path collides on
    # ownership across users and lets them read each other's indexes
    return os.path.join(tempfile.gettempdir(), f"dds_ann_index_{user}")


def ivf_centroid_table_uri(
    sf_dir: str, n_cells: int, iters: int, train_sample_mod: int
) -> str:
    """One centroid table per (corpus dir, training params); retrains on
    changed data append new versions (time-travel keeps the old index)."""
    key = f"{os.path.abspath(sf_dir)}|{n_cells}|{iters}|{train_sample_mod}"
    digest = hashlib.sha256(key.encode()).hexdigest()[:16]
    return os.path.join(_index_root(), f"ivf_centroids_{digest}")


def ivf_train_centroids(
    spark: SparkSession, sf_dir: str, n_cells: Optional[int] = None,
    iters: int = 1, train_sample_mod: int = 4,
) -> DataFrame:
    """Distributed k-means training for the IVF coarse quantizer.

    ``n_cells=None`` (default) auto-scales to ``~sqrt(corpus)`` via
    ``_auto_cells`` — see its docstring for the 100 TB rationale.

    Init: the ``n_cells`` vectors with the smallest ``xxhash64(vec_id)``
    — a deterministic pseudo-random sample (``TakeOrdered``, no full
    sort), unlike first-by-vec_id which mirrors ingestion order and
    leaves cells badly unbalanced on sorted/clustered real data.

    Iterate ``iters`` times: broadcast centroids -> nearest-cell
    assignment (one map-side pass) -> recompute per-cell means via
    posexplode + codegen'd (cell, dim) aggregate -> re-assemble arrays.
    Each round is two shuffles over (rows x dims) values; the centroid
    frame itself stays tiny and is localCheckpointed so the lineage
    doesn't deepen per round.  Empty cells drop out (nprobe ranks
    whatever cells exist).

    Training runs on a deterministic 1/``train_sample_mod`` hash sample
    of the corpus — the standard coarse-quantizer recipe (centroid
    quality needs thousands of vectors per cell, not the full corpus);
    at 100 TB raise the modulus so the sample stays manageable while
    keeping >= ~64 training vectors per cell (with auto-scaled
    ``n_cells ~ 1.5*sqrt(n)``, sample ~ 100*sqrt(n) suffices — far
    below n).
    One round is the throughput default (recall on the fixture matches
    two); ``iters`` is the quality dial.

    Trained centroids PERSIST to a version-keyed ``DeltaSparkTable``
    (``ivf_centroid_table_uri``): a query session loads the stored index
    instead of retraining, so the query path never pays the k-means job
    — matching a production IVF index whose build is a separate,
    amortized pipeline.  The table's commit metadata records the corpus
    fingerprint; a changed corpus triggers a retrain committed as a new
    version.  Within a process the loaded frame is session-cached per
    (corpus, fingerprint, params); a corpus rewrite misses the cache
    and hits the retrain-on-change path."""
    from ..table import DeltaSparkTable

    n_cells = _resolve_cells(spark, sf_dir, n_cells)

    def build(fingerprint: str) -> DataFrame:
        index = DeltaSparkTable(spark, ivf_centroid_table_uri(
            sf_dir, n_cells, iters, train_sample_mod))
        meta = ((index.history(limit=1)[0].get("userMetadata") or {})
                if index.exists() else {})
        if meta.get("corpus_fingerprint") != fingerprint:
            emb = _with_norm(load(spark, sf_dir, "embeddings"))
            index.write(
                kmeans_centroids(emb, n_cells, iters, train_sample_mod),
                commit_metadata={
                    "corpus_fingerprint": fingerprint,
                    "n_cells": str(n_cells), "iters": str(iters),
                    "train_sample_mod": str(train_sample_mod),
                })
        return index.read().localCheckpoint(eager=False)

    return session_cache.get(
        spark, sf_dir, "embeddings",
        ("train", n_cells, iters, train_sample_mod), build)


def kmeans_centroids(
    emb: DataFrame, n_cells: int, iters: int = 1, train_sample_mod: int = 1
) -> DataFrame:
    """Frame-level k-means coarse-quantizer training — the core of
    :func:`ivf_train_centroids` (which wraps it in fingerprint-keyed
    persistence), reusable on ANY normed embeddings frame: the CDC
    index-maintenance bootstrap (``operators/incremental.py``) trains
    on a transactional-table snapshot rather than a parquet corpus
    dir.  ``emb`` must carry ``vec_id``/``embedding``/``norm``
    (:func:`_with_norm`).  Returns the materialized
    ``(cell, c_emb, c_norm)`` centroid frame; see
    ``ivf_train_centroids``'s docstring for init/iteration shape."""
    from pyspark.sql.window import Window

    if train_sample_mod > 1:
        # pmod: xxhash64 is signed, plain % would keep only half the sample
        emb = emb.where(F.pmod(F.xxhash64("vec_id"), F.lit(train_sample_mod)) == 0)
    cents = (
        emb.orderBy(F.xxhash64(F.col("vec_id")), F.col("vec_id"))
        .limit(n_cells)
        .select(
            F.row_number()
            .over(Window.orderBy(F.xxhash64(F.col("vec_id")), F.col("vec_id")))
            .alias("cell"),
            F.col("embedding").alias("c_emb"),
            F.col("norm").alias("c_norm"),
        )
        .localCheckpoint()
    )
    norm_c = NORM.format(a="c_emb")
    for _ in range(iters):
        assigned = _assign_cells(emb, cents)
        cents = (
            assigned.select("cell", F.posexplode("embedding").alias("dim", "v"))
            .groupBy("cell", "dim")
            .agg(F.avg("v").alias("mean_v"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "mean_v")))
                 .alias("pairs"))
            .select(
                "cell",
                F.expr("transform(pairs, p -> CAST(p.mean_v AS FLOAT))")
                .alias("c_emb"),
            )
            .withColumn("c_norm", F.expr(norm_c))
            .localCheckpoint()
        )
    return cents


def ivf_assignments(
    spark: SparkSession, sf_dir: str, n_cells: Optional[int] = None,
    train_iters: int = 1,
) -> DataFrame:
    """IVF coarse quantization: k-means-trained centroids (see
    ``ivf_train_centroids``), then one broadcast assignment pass.

    The assignment IS the index's inverted-list half — in a production
    IVF it's built once with the centroids and only PROBED per query.
    The default path therefore caches the checkpointed assignment per
    (session, corpus fingerprint, params) alongside the centroids;
    queries pay probe + rerank only.  (Training-loop internals call
    ``_assign_cells`` directly for fresh assignments.)"""
    n_cells = _resolve_cells(spark, sf_dir, n_cells)
    return session_cache.get(
        spark, sf_dir, "embeddings", ("assign", n_cells, train_iters),
        lambda _fp: _assign_cells(
            _with_norm(load(spark, sf_dir, "embeddings")),
            ivf_train_centroids(spark, sf_dir, n_cells, train_iters),
        ).localCheckpoint(eager=False))


def _probe_cells_for(
    queries: DataFrame, cents: DataFrame, nprobe: int,
) -> DataFrame:
    """Each query with its ``nprobe`` nearest centroid cells —
    (q_id, q_emb, q_norm, cell), one row per probe — for an arbitrary
    (q_id, q_emb, q_norm) queries frame (the maintained-index query
    path supplies its own)."""
    from pyspark.sql.window import Window

    dot_qc = DOT.format(a="q_emb", b="c_emb")
    wq = Window.partitionBy("q_id").orderBy(F.desc("c_cos"), F.asc("cell"))
    return (
        queries.crossJoin(F.broadcast(cents))
        .withColumn("c_cos",
                    F.expr(dot_qc) / (F.col("q_norm") * F.col("c_norm")))
        .withColumn("probe_rank", F.row_number().over(wq))
        .where(F.col("probe_rank") <= nprobe)
        .select("q_id", "q_emb", "q_norm", "cell")
    )


def _probe_cells(
    assigned: DataFrame, cents: DataFrame, n_queries: int, nprobe: int,
) -> DataFrame:
    """Query vectors with their ``nprobe`` nearest centroid cells —
    (q_id, q_emb, q_norm, cell), one row per probe.  Shared by
    ``ivf_ann_topk`` and ``ivf_quantized_topk`` so their probe sets
    (ranking AND tie-break) can never drift apart: the quantized
    path's bit-for-bit-at-full-rerank contract depends on both
    scanning the same cells."""
    queries = assigned.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    return _probe_cells_for(queries, cents, nprobe)


def ivf_ann_topk(
    spark: SparkSession, sf_dir: str, k: int = 5, n_queries: int = 5,
    n_cells: Optional[int] = None, nprobe: Optional[int] = None,
) -> DataFrame:
    """IVF approximate top-k: each query probes its ``nprobe`` nearest
    cells; exact cosine re-ranks only vectors in those cells.  The
    probe fraction (nprobe/n_cells) is the recall/throughput dial;
    AT A FIXED fraction, more+finer cells raise recall (cell boundaries
    track the data better): on the sf0.01 fixture 32/8 reaches
    recall@10 0.60-0.62 vs 0.46 for 16/4 and 0.58-0.59 for multiprobe
    LSH, at the same 25% candidate budget.  Train-sample size and
    extra k-means rounds measured recall-neutral here.

    Defaults auto-scale with the corpus: ``n_cells=None`` ->
    ``~sqrt(n)`` cells (``_auto_cells``) and ``nprobe=None`` ->
    ``ceil(n_cells/4)`` (``_resolve_nprobe``) — the probe scan stays
    bounded at ~sqrt(n) per cell as the corpus grows instead of
    inflating fixed-size cells."""
    n_cells = _resolve_cells(spark, sf_dir, n_cells)
    nprobe = _resolve_nprobe(nprobe, n_cells)
    cents = ivf_train_centroids(spark, sf_dir, n_cells)
    assigned = ivf_assignments(spark, sf_dir, n_cells)
    # queries and centroids are bounded (n_queries rows; ~sqrt(n)
    # checkpointed centroid rows), so both collect: probes rank on the
    # driver (bit-identical to the JVM probe window) and the probed
    # rows score in the shared mapInArrow scorer with per-batch
    # partial top-k, consuming the stored index norm as-is
    q_ids, qmat, qnorms = _collect_query_matrix(
        assigned.where(F.col("vec_id") < n_queries)
        .select("vec_id", "embedding", "norm").collect(),
        "vec_id", "embedding", "norm")
    probe_map = _probe_map_driver(
        _collected_centroids(spark, sf_dir, n_cells, cents),
        q_ids, qmat, qnorms, nprobe=nprobe)
    probed_union = sorted(set().union(*probe_map.values()))
    scored = _pair_topk_scores(
        # codegen'd probe pre-filter BEFORE the Arrow boundary: only
        # the probed population ships to Python, not the whole corpus
        assigned.select("vec_id", "embedding", "norm", "cell")
        .where(F.col("cell").isin(probed_union)),
        q_ids, qmat, qnorms, k=k, norm_col="norm",
        cell_col="cell", probe_map=probe_map,
    ).select("q_id", "vec_id", F.col("score").alias("cosine"))
    return _topk(scored, k)


_DEQUANT = (
    "transform(qembedding, (qv, i) -> CAST("
    "(CAST(qv AS DOUBLE) + 128) * "
    "(CASE WHEN stats[i].hi > stats[i].lo "
    "THEN (stats[i].hi - stats[i].lo) / 255.0D ELSE 1.0D END) "
    "+ stats[i].lo AS FLOAT))"
)


def _dequantized_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(vec_id, aemb, anorm)``: the corpus dequantized from its int8
    codes.  INDEX state (per-dim stats + int8 codes — in production its
    own materialized asset next to the centroids), so it is
    session-cached per corpus fingerprint like the centroid /
    assignment frames: queries pay probe + rerank, not a re-quantize of
    the whole corpus (measured 5.3 s -> ~0.7 s at 20x sf0.1)."""
    from .curation import quantized_embeddings_with_stats

    return session_cache.get(
        spark, sf_dir, "embeddings", ("qtab",),
        lambda _fp: quantized_embeddings_with_stats(spark, sf_dir)
        .select("vec_id", F.expr(_DEQUANT).alias("aemb"))
        .withColumn("anorm", F.expr(NORM.format(a="aemb")))
        .localCheckpoint(eager=False))


def ivf_quantized_topk(
    spark: SparkSession, sf_dir: str, k: int = 5, n_queries: int = 5,
    n_cells: Optional[int] = None, nprobe: Optional[int] = None,
    rerank: int = 50,
) -> DataFrame:
    """Two-stage IVF ANN over the int8-quantized corpus (IVF + scalar
    quantization — the FAISS IVF-SQ8 shape): stage 1 scores every
    candidate in the probed cells against the DEQUANTIZED int8 vector;
    stage 2 fetches full-precision embeddings for only the top
    ``rerank`` stage-1 candidates per query and reranks exactly.

    Why at 100 TB: the probe scan — the cost that grows with the
    corpus — reads the 4x-smaller int8 table (store it as its own
    materialized asset; here it derives from the float table to stay
    self-contained), while full-precision vectors are touched for just
    queries x ``rerank`` rows, joined via a broadcast of the
    shortlist.  ``rerank`` dials the approximation: with int8 scalar
    quantization the stage-1 ordering is near-exact, so small
    shortlists already recover ``ivf_ann_topk``'s recall (unit-tested:
    rerank >= cell population reproduces it bit-for-bit)."""
    from pyspark.sql.window import Window

    # NB Window is used by the stage-1 shortlist ranking below.
    # a shortlist smaller than k would silently return fewer than k
    # results per query that LOOK complete
    rerank = max(rerank, k)
    n_cells = _resolve_cells(spark, sf_dir, n_cells)
    nprobe = _resolve_nprobe(nprobe, n_cells)
    cents = ivf_train_centroids(spark, sf_dir, n_cells)
    assigned = ivf_assignments(spark, sf_dir, n_cells)
    # stage 1: approximate scoring against the dequantized int8 table
    cand = assigned.select("vec_id", "cell").join(
        _dequantized_table(spark, sf_dir), "vec_id")
    adot = DOT.format(a="q_emb", b="aemb")
    w = Window.partitionBy("q_id").orderBy(F.desc("acos"), F.asc("vec_id"))
    # r16: a vectorized stage-1 (the cosine_topk/ivf_ann_topk
    # out=-buffered mapInArrow scorer + driver-side probe ranking) was
    # implemented, parity-proven at both SFs, and REJECTED on
    # measurement: one-session alternating A/B read it consistently
    # ~12% SLOWER here (med 0.587 vs 0.520 s; a LocalRelation q-side
    # variant read 0.768 s) — this operator's stage-1 scores each
    # probed pair ONCE, so the saved interpreted fold (~tens of ms at
    # sf0.1) cannot amortize the extra driver action + Python
    # boundary + re-attach join.  The JVM probe join stays; the
    # scale-path vectorization claim lives in ivf_ann_topk /
    # cosine_topk, whose A/Bs reproduced (see OPTIMIZATION_r16.md).
    probes = _probe_cells(assigned, cents, n_queries, nprobe)
    shortlist = (
        cand.join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != F.col("q_id"))
        .withColumn("acos",
                    F.expr(adot) / (F.col("anorm") * F.col("q_norm")))
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= rerank)
        .select("q_id", "vec_id", "q_emb", "q_norm")
    )
    # stage 2: exact rerank on full-precision vectors (shortlist is
    # queries x rerank rows — broadcast side of the fetch join)
    dot = DOT.format(a="q_emb", b="embedding")
    scored = (
        assigned.select("vec_id", "embedding", "norm")
        .join(F.broadcast(shortlist), "vec_id")
        .withColumn("cosine", F.expr(dot) / (F.col("norm") * F.col("q_norm")))
    )
    return _topk(scored, k)


def _pq_sample_matrix(
    vectors: DataFrame, train_sample_mod: int, sample_cap: int,
):
    """Deterministic bounded training sample of an (embedding, norm)
    frame as an L2-normalized numpy matrix — the smallest-
    ``xxhash64('pq', vec_id)`` prefix of a 1/``train_sample_mod`` hash
    sample: ingestion-order-free and identical across sessions and
    partitionings.  Bounded collect by construction (``sample_cap`` x
    d floats regardless of corpus size)."""
    import numpy as np

    rows = (
        vectors.where(
            F.pmod(F.xxhash64("vec_id"), F.lit(train_sample_mod)) == 0)
        .orderBy(F.xxhash64(F.lit("pq"), "vec_id"), "vec_id")
        .limit(sample_cap)
        .select("embedding", "norm")
        .collect()
    )
    x = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    x /= np.asarray([r["norm"] for r in rows], dtype=np.float64)[:, None]
    return x


def _learn_pq_codebooks(x, m: int, nbits: int, iters: int = 8):
    """Per-subspace Lloyd's k-means over a normalized sample matrix —
    the pure-numpy core shared by the parquet-corpus path and the
    transactional index build (``incremental.build_pq_index``).
    Returns codebooks shaped ``(m, 2**nbits, d/m)``."""
    import numpy as np

    if not 1 <= nbits <= 7:
        # codes persist as array<tinyint> (signed int8): nbits=8 would
        # produce codewords up to 255 that wrap negative and silently
        # mis-score every ADC scan while rebuild-parity audits still
        # pass (both sides wrap identically) — refuse at train time.
        raise ValueError(
            f"nbits={nbits} out of range [1, 7]: PQ codes are stored as "
            "signed int8 (array<tinyint>); use m x nbits<=7 subspaces "
            "instead of wider codewords")
    k = 1 << nbits
    d = x.shape[1]
    if d % m != 0:
        raise ValueError(f"embedding dim {d} not divisible by m={m}")
    dsub = d // m
    codebooks = np.empty((m, k, dsub))
    for j in range(m):
        sub = x[:, j * dsub:(j + 1) * dsub]
        # init: k distinct-ish sample rows (hash order already random)
        cb = sub[:k].copy()
        if len(sub) < k:
            cb = np.concatenate([sub, np.zeros((k - len(sub), dsub))])
        for _ in range(iters):
            # argmin ||s - c||^2 == argmin (|c|^2 - 2 s.c), row-wise
            assign = np.argmin(
                (cb * cb).sum(1)[None, :] - 2.0 * (sub @ cb.T), axis=1)
            for c in range(k):
                mask = assign == c
                if mask.any():           # empty cluster keeps its codeword
                    cb[c] = sub[mask].mean(axis=0)
        codebooks[j] = cb
    return codebooks


def _codebooks_to_rows(codebooks) -> list:
    """(subspace, code, vals) rows — the persistable form (arrays
    round-trip as array<double>, the PCA-basis precedent)."""
    return [
        (j, c, codebooks[j, c].tolist())
        for j in range(codebooks.shape[0])
        for c in range(codebooks.shape[1])
    ]


def _codebooks_from_rows(rows):
    """Inverse of ``_codebooks_to_rows`` (shape inferred from the max
    subspace/code indexes — a partial table raises on the stack)."""
    import numpy as np

    by_key = {(r["subspace"], r["code"]): np.asarray(r["vals"]) for r in rows}
    m = max(k[0] for k in by_key) + 1
    k = max(k[1] for k in by_key) + 1
    return np.stack([
        np.stack([by_key[(j, c)] for c in range(k)]) for j in range(m)
    ])


def pq_codebook_table_uri(
    sf_dir: str, m: int, nbits: int, train_sample_mod: int, iters: int,
    sample_cap: int,
) -> str:
    """One persisted codebook table per (corpus dir, training params)
    under ``DDS_INDEX_DIR`` — the IVF-centroid convention; retrains on
    changed data land as new versions."""
    key = (f"{os.path.abspath(sf_dir)}|pq|{m}|{nbits}|{train_sample_mod}"
           f"|{iters}|{sample_cap}")
    digest = hashlib.sha256(key.encode()).hexdigest()[:16]
    return os.path.join(_index_root(), f"pq_codebooks_{digest}")


def _pq_codebooks(
    spark: SparkSession, sf_dir: str, m: int, nbits: int,
    train_sample_mod: int = 4, iters: int = 8, sample_cap: int = 8192,
):
    """Product-quantization codebooks for the parquet corpus: load the
    persisted table when its corpus fingerprint matches (the
    query-session path — no training job at all), else train on the
    deterministic bounded sample (the FAISS recipe: codebooks need
    thousands of examples per subspace, never the corpus) and persist.
    Returns ``(codebooks, d)``; session-cached next to the
    centroids."""
    from ..table import DeltaSparkTable

    def build(fingerprint: str):
        table = DeltaSparkTable(spark, pq_codebook_table_uri(
            sf_dir, m, nbits, train_sample_mod, iters, sample_cap))
        codebooks = None
        if table.exists():
            meta = (table.history(limit=1)[0].get("userMetadata") or {})
            if meta.get("corpus_fingerprint") == fingerprint:
                codebooks = _codebooks_from_rows(table.read().collect())
        if codebooks is None:
            emb = _with_norm(load(spark, sf_dir, "embeddings"))
            x = _pq_sample_matrix(emb, train_sample_mod, sample_cap)
            codebooks = _learn_pq_codebooks(x, m, nbits, iters)
            table.write(
                spark.createDataFrame(
                    _codebooks_to_rows(codebooks),
                    "subspace int, code int, vals array<double>"),
                commit_metadata={"corpus_fingerprint": fingerprint,
                                 "m": str(m), "nbits": str(nbits)},
            )
        return codebooks, codebooks.shape[0] * codebooks.shape[2]

    return session_cache.get(
        spark, sf_dir, "embeddings",
        ("pqcb", m, nbits, train_sample_mod, iters, sample_cap), build)


def _pq_encode(vectors: DataFrame, codebooks,
               extra_cols: tuple = ()) -> DataFrame:
    """Encode an (vec_id, embedding, norm, *extra_cols) frame to
    ``(vec_id, *extra_cols, codes array<tinyint>)`` — one Arrow batch
    = one ``(batch x dsub) @ (dsub x k)`` matmul per subspace (the
    ``_assign_cells`` pattern), map-only at any corpus size.  Shared
    by ``pq_codes`` and the transactional index build/maintain."""
    if codebooks.shape[1] > 128:
        # the train path refuses nbits>7; this catches a persisted
        # codebook table written by a foreign/older build
        raise ValueError(
            f"codebook k={codebooks.shape[1]} exceeds 128: codes are "
            "signed int8 and would wrap negative")
    cb = codebooks  # rides into the closure as numpy
    cb_sq = (cb * cb).sum(axis=2)  # (m, k)
    extra = tuple(extra_cols)

    def _encode(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = _np.stack(pdf["embedding"].to_numpy()).astype(_np.float64)
            x /= pdf["norm"].to_numpy(dtype=_np.float64)[:, None]
            n, mm, dsub = len(x), cb.shape[0], cb.shape[2]
            codes = _np.empty((n, mm), dtype=_np.int8)
            for j in range(mm):
                sub = x[:, j * dsub:(j + 1) * dsub]
                codes[:, j] = _np.argmin(
                    cb_sq[j][None, :] - 2.0 * (sub @ cb[j].T), axis=1)
            out = {"vec_id": pdf["vec_id"]}
            for c in extra:
                out[c] = pdf[c]
            out["codes"] = list(codes)
            yield _pd.DataFrame(out)

    schema_extra = "".join(
        f", {c} {dict(vectors.dtypes)[c]}" for c in extra)
    return vectors.select("vec_id", *extra, "embedding", "norm").mapInPandas(
        _encode, f"vec_id long{schema_extra}, codes array<tinyint>")


def pq_codes(
    spark: SparkSession, sf_dir: str, m: int = 8, nbits: int = 4,
    n_cells: Optional[int] = None,
) -> DataFrame:
    """PQ-encode the corpus: ``(vec_id, cell, codes array<tinyint>)``
    — each normalized vector's per-subspace nearest codeword index.

    This is the index's compressed-storage half (with the IVF cell as
    its coarse half): ``m`` bytes per vector vs ``4*d`` float32 — 32x
    at d=64/m=8 — which is what lets a 100 TB corpus's scan structure
    live in cluster memory.  Encoding is an Arrow-batched map-only
    pass (one ``(batch x dsub) @ (dsub x k)`` matmul per subspace,
    the ``_assign_cells`` pattern); session-cached + checkpointed per
    corpus fingerprint like the SQ8 scorer table — in production it
    is its own materialized asset maintained next to the centroids."""
    n_cells = _resolve_cells(spark, sf_dir, n_cells)

    def build(_fp: str) -> DataFrame:
        codebooks, _d = _pq_codebooks(spark, sf_dir, m, nbits)
        assigned = ivf_assignments(spark, sf_dir, n_cells)
        return _pq_encode(assigned, codebooks, extra_cols=("cell",)
                          ).localCheckpoint(eager=False)

    return session_cache.get(spark, sf_dir, "embeddings",
                             ("pqcodes", m, nbits, n_cells), build)


def ivf_pq_topk(
    spark: SparkSession, sf_dir: str, k: int = 5, n_queries: int = 5,
    n_cells: Optional[int] = None, nprobe: Optional[int] = None,
    m: int = 8, nbits: int = 4, rerank: int = 50,
) -> DataFrame:
    """Two-stage IVF-PQ ANN (the FAISS IVFPQ shape): stage 1 scores
    probed candidates by asymmetric distance computation — the query
    builds an ``(m x 2**nbits)`` lookup table of subspace dot products
    once, and each candidate's approximate cosine is ``m`` table
    lookups over its ``m``-byte code, no float vector read at all;
    stage 2 exact-reranks the top ``rerank`` per query from the
    full-precision table (shared epilogue with the SQ8 path).

    Where SQ8 compresses 4x, PQ compresses ``4*d/m``x (32x here) —
    the difference between an ANN scan structure that spills and one
    that fits executor memory at 100 TB.  The LUTs for ``n_queries``
    queries are a broadcast-size closure constant (queries x m x 2^nbits
    doubles); scoring is Arrow-batched numpy ``take`` — map-only over
    the probed cells, shuffle only at the per-query shortlist window.

    Exactness anchor (unit-tested + entry guard): ``rerank`` >= the
    probed population reproduces ``ivf_ann_topk`` bit-for-bit — both
    rank probes with ``_probe_map_driver`` and the rerank stage
    re-scores exactly, so PQ approximation error only affects WHICH
    candidates make the shortlist, never their final scores."""
    rerank = max(rerank, k)
    n_cells = _resolve_cells(spark, sf_dir, n_cells)
    nprobe = _resolve_nprobe(nprobe, n_cells)
    cents = ivf_train_centroids(spark, sf_dir, n_cells)
    assigned = ivf_assignments(spark, sf_dir, n_cells)
    codes = pq_codes(spark, sf_dir, m, nbits, n_cells)
    codebooks, _d = _pq_codebooks(spark, sf_dir, m, nbits)
    queries = assigned.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    ).localCheckpoint()
    return _pq_query_topk(
        queries, cents, codes,
        assigned.select("vec_id", "embedding", "norm"),
        codebooks, k=k, nprobe=nprobe, rerank=rerank,
    )


def _pq_query_topk(
    queries: DataFrame, cents: DataFrame, codes_with_cell: DataFrame,
    vectors: DataFrame, codebooks, *, k: int, nprobe: int, rerank: int,
) -> DataFrame:
    """The IVF-PQ query core over arbitrary index frames — shared by
    the parquet-corpus path (``ivf_pq_topk``) and the maintained-index
    path (``incremental.ann_query_maintained``) so their probe/ADC/
    rerank semantics can never drift: ``queries`` (q_id, q_emb,
    q_norm), ``cents`` (cell, c_emb, c_norm), ``codes_with_cell``
    (vec_id, cell, codes), ``vectors`` (vec_id, embedding, norm)."""
    from pyspark.sql.window import Window

    import numpy as np

    rerank = max(rerank, k)
    q_ids, qmat, qnorms = _collect_query_matrix(
        queries.collect(), "q_id", "q_emb", "q_norm",
    )  # bounded by n_queries (feeds the LUTs)
    mm, dsub = codebooks.shape[0], codebooks.shape[2]
    luts = {}
    for qid, qv, qn in zip(q_ids, qmat, qnorms):
        q = qv / qn
        luts[int(qid)] = np.stack([
            codebooks[j] @ q[j * dsub:(j + 1) * dsub] for j in range(mm)
        ])  # (m, k): lut[j, c] = q_sub_j . codeword_jc

    # probes rank on the driver from the (tiny) centroid frame —
    # bit-identical to the JVM probe window — and the ADC
    # scorer reads each code row ONCE (filtered to the probed union by
    # a codegen'd In-set), scoring it against every query whose probe
    # set holds its cell, with per-batch partial top-``rerank``
    probe_map = _probe_map_driver(cents.collect(), q_ids, qmat, qnorms,
                                  nprobe=nprobe)
    w = Window.partitionBy("q_id").orderBy(F.desc("ascore"), F.asc("vec_id"))
    pm = {qid: np.asarray(sorted(cs), dtype=np.int64)
          for qid, cs in probe_map.items()}
    qid_list = sorted(pm)
    probed_union = sorted(set().union(*probe_map.values()))

    def _adc_rows(batches):
        import numpy as _np
        import pandas as _pd

        cols = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes_mat = _np.stack(
                pdf["codes"].to_numpy()).astype(_np.int64)
            if cols is None or len(cols) != codes_mat.shape[1]:
                cols = _np.arange(codes_mat.shape[1])
            cells = pdf["cell"].to_numpy()
            vv = pdf["vec_id"]
            vids = vv.to_numpy()
            notna = vv.notna().to_numpy()  # NULL != q is NULL in
            # the JVM join: null-id rows never pair
            out_q, out_v, out_s = [], [], []
            for qid in qid_list:
                sel = (_np.isin(cells, pm[qid]) & notna
                       & (vids != qid))
                if not sel.any():
                    continue
                sc = luts[qid][cols[None, :],
                               codes_mat[sel]].sum(axis=1)
                v = vids[sel].astype(_np.int64, copy=False)
                if len(sc) > rerank:
                    # partial top-rerank under the exact window
                    # order (ascore desc with NaN above all,
                    # vec_id asc) — union over batches is a
                    # superset of the global top-rerank
                    key1 = _np.where(_np.isnan(sc), _np.inf, sc)
                    order = _np.lexsort((v, -key1))[:rerank]
                    v, sc = v[order], sc[order]
                out_q.append(_np.full(len(v), qid, dtype=_np.int64))
                out_v.append(v)
                out_s.append(sc)
            if out_q:
                yield _pd.DataFrame({
                    "q_id": _np.concatenate(out_q),
                    "vec_id": _np.concatenate(out_v),
                    "ascore": _np.concatenate(out_s),
                })

    shortlist = (
        codes_with_cell
        .where(F.col("cell").isin(probed_union))
        .select("vec_id", "cell", "codes")
        .mapInPandas(_adc_rows, "q_id long, vec_id long, ascore double")
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= rerank)
        .select("q_id", "vec_id")
    )
    dot = DOT.format(a="q_emb", b="embedding")
    scored = (
        vectors
        .join(F.broadcast(shortlist.join(queries, "q_id")), "vec_id")
        .withColumn("cosine", F.expr(dot) / (F.col("norm") * F.col("q_norm")))
    )
    return _topk(scored, k)


def embedding_near_dups_lsh(
    spark: SparkSession, sf_dir: str, threshold: float = 0.2,
    planes: int = 6, tables: int = 4, portable_hash: bool = False,
) -> DataFrame:
    """LSH-bucketed embedding near-duplicates — the scale path for
    ``embedding_near_dups``: candidate pairs share a hyperplane bucket
    in any table (collision probability rises with cosine), exact
    cosine verifies.  Output precision is exact; recall is the
    planes/tables dial.  ``portable_hash=True`` buckets under the
    md5-parity dial (``lsh_signatures``) for the DuckDB oracle."""
    # sigs is the materialized session-cached index and ALREADY carries
    # norm (baked in by lsh_signatures) with zero-norm rows excluded —
    # the former extra _with_norm() here re-ran the interpreted
    # O(dims) norm fold per exploded row on BOTH join sides (r15 fix,
    # guide §4).  A late-attach variant (ids-only self-join + dedup,
    # embeddings joined back after) was A/B-measured 1.4-1.5x SLOWER
    # here: the planner broadcasts the full-embedding base through
    # both attach joins, and forcing a pairs-side broadcast would not
    # survive production candidate counts — see OPTIMIZATION_r15.md.
    sigs = lsh_signatures(spark, sf_dir, planes, tables,
                          portable_hash=portable_hash)
    flat = sigs.select(
        "vec_id", "embedding", "norm",
        F.posexplode("buckets").alias("t_idx", "bucket"),
    )
    a = flat.alias("a")
    b = flat.alias("b")
    candidates = (
        a.join(b, (F.col("a.t_idx") == F.col("b.t_idx"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("a.embedding").alias("emb_a"),
            F.col("a.norm").alias("norm_a"),
            F.col("b.vec_id").alias("id_b"),
            F.col("b.embedding").alias("emb_b"),
            F.col("b.norm").alias("norm_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    dot = DOT.format(a="emb_a", b="emb_b")
    return (
        candidates
        .withColumn("cosine", F.expr(dot) / (F.col("norm_a") * F.col("norm_b")))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.col("cosine").cast("double").alias("cosine"))
    )


def semantic_dedup(
    spark: SparkSession, sf_dir: str, threshold: float = 0.95,
    n_cells: Optional[int] = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 — public): cluster the embedding corpus with the
    IVF coarse quantizer, compare pairs ONLY within a cluster, and for
    every near-duplicate pair (cosine >= threshold) keep the smaller
    ``vec_id``.  A vector is dropped iff SOME smaller-id vector in its
    cell is a near-dup of it — the standard one-pass greedy rule
    (deterministic, no iteration; a dropped vector's ``dup_of`` points
    at its smallest-id in-cell near-dup).

    Scale shape: candidate generation is the cell-bounded self-join
    O(sum_c m_c^2) instead of O(n^2) — the same bound FAISS-based
    SemDeDup relies on.  At 100 TB raise ``n_cells`` so cells stay
    ~1-10k vectors (cost per cell is quadratic, cells are independent
    tasks); the assignment pass stays one broadcast map-side job.  The
    per-pair work is a codegen'd float dot product; no Python in the
    hot path.
    """
    # consumed three times (both self-join sides + the final left join);
    # ivf_assignments returns a session-cached checkpointed frame, so
    # the broadcast-assignment pass runs once, not thrice
    assigned = ivf_assignments(spark, sf_dir, n_cells)
    a = assigned.select(
        "cell", F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"), F.col("norm").alias("norm_a"),
    )
    b = assigned.select(
        "cell", F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"), F.col("norm").alias("norm_b"),
    )
    dot = DOT.format(a="emb_a", b="emb_b")
    dropped = (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.expr(dot) / (F.col("norm_a") * F.col("norm_b")))
        .where(F.col("cosine") >= threshold)
        .groupBy(F.col("id_b").alias("vec_id"))
        .agg(
            F.min("id_a").alias("dup_of"),
            F.max("cosine").cast("double").alias("max_cosine"),
        )
    )
    return (
        assigned.select("vec_id", "cell")
        .join(dropped, "vec_id", "left")
        .select(
            "vec_id", "cell",
            F.col("dup_of").isNull().alias("keep"),
            "dup_of", "max_cosine",
        )
    )


def ivf_quantized_topk_portable(
    spark: SparkSession, sf_dir: str, k: int = 5, n_queries: int = 5,
    n_cells: int = 8, nprobe: int = 2, rerank: int = 50,
    train_iters: int = 1,
) -> DataFrame:
    """SQL-replayable IVF-SQ8 (the portable dial through the two-stage
    quantized path): portable cells, the oracle-proven int8 affine
    quantize/dequantize (``quantized_embeddings_with_stats`` — exact
    per-dim double stats, integer codes, bit-identical float32
    dequant), stage-1 shortlist by rounded dequantized cosine, exact
    rounded rerank.  Production stays ``ivf_quantized_topk``
    (persisted centroids + session-cached int8 table)."""
    from pyspark.sql.window import Window

    from .curation import quantized_embeddings_with_stats

    rerank = max(rerank, k)
    emb, cents = _portable_centroids(spark, sf_dir, n_cells, train_iters)
    assigned = _assign_cells_exact(emb, cents)
    qtab = (
        quantized_embeddings_with_stats(spark, sf_dir)
        .select("vec_id", F.expr(_DEQUANT).alias("aemb"))
        .withColumn("anorm", F.expr(NORM.format(a="aemb")))
    )
    _queries, probes = _portable_probes(emb, cents, n_queries, nprobe)
    adot = DOT.format(a="q_emb", b="aemb")
    ws = Window.partitionBy("q_id").orderBy(
        F.desc("acos"), F.asc("vec_id"))
    shortlist = (
        assigned.select("vec_id", "cell").join(qtab, "vec_id")
        .join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != F.col("q_id"))
        .withColumn("acos", F.round(
            F.expr(adot) / (F.col("anorm") * F.col("q_norm")), 9))
        .withColumn("r", F.row_number().over(ws))
        .where(F.col("r") <= rerank)
        .select("q_id", "vec_id", "q_emb", "q_norm")
    )
    dot = DOT.format(a="q_emb", b="embedding")
    scored = (
        assigned.select("vec_id", "embedding", "norm")
        .join(F.broadcast(shortlist), "vec_id")
        .withColumn("cosine", F.round(
            F.expr(dot) / (F.col("norm") * F.col("q_norm")), 9))
    )
    return _topk(scored, k)


def _portable_subvectors(emb: DataFrame, m: int) -> DataFrame:
    """Normalized subvectors in LONG format — ``(vec_id, subspace,
    svec)`` — for the portable PQ dial (subspace is data, so the
    DuckDB twins need no per-subspace unrolling).  An empty input
    (compaction-only maintenance delta) yields an empty frame with
    the right schema — the slicing width is irrelevant with no rows."""
    head_row = emb.select("embedding").head()
    d = len(head_row["embedding"]) if head_row is not None else m
    if d % m != 0:
        raise ValueError(f"embedding dim {d} not divisible by m={m}")
    dsub = d // m
    return emb.select(
        "vec_id",
        F.posexplode(F.expr(
            f"transform(sequence(0, {m - 1}), j -> "
            f"transform(slice(embedding, j * {dsub} + 1, {dsub}), "
            f"x -> CAST(x AS DOUBLE) / norm))"
        )).alias("subspace", "svec"),
    )


def _portable_pq_assign(sv: DataFrame, cb: DataFrame) -> DataFrame:
    """Nearest-codeword assignment under the portable rule: ordered-
    fold L2 rounded to 9 pre-argmin, ties to the smallest code —
    ``(vec_id, subspace, code)``."""
    from pyspark.sql.window import Window

    l2 = ("aggregate(zip_with(svec, cvec, (x, y) -> (x - y) * (x - y)), "
          "0D, (acc, v) -> acc + v)")
    wa = Window.partitionBy("vec_id", "subspace").orderBy(
        F.col("dist2").asc(), F.col("code").asc())
    return (
        sv.join(cb, "subspace")
        .withColumn("dist2", F.round(F.expr(l2), 9))
        .withColumn("rn", F.row_number().over(wa))
        .where("rn = 1")
        .select("vec_id", "subspace", "code")
    )


def _portable_pq_train(
    emb_train: DataFrame, sv_train: DataFrame, pq_k: int,
    train_iters: int,
) -> DataFrame:
    """Portable PQ codebooks ``(subspace, code, cvec)``: init from the
    ``pq_k`` lowest (portable-md5(vec_id), vec_id) TRAIN vectors'
    normalized subvectors, then ``train_iters`` Lloyd rounds under the
    portable L2 rule (means rounded to 9; an emptied code keeps its
    init codeword — the production rule).  ``sv_train`` must be
    ``_portable_subvectors(emb_train, m)`` — passed in so a caller
    that also encodes the train frame shares one subvector pass."""
    from pyspark.sql.window import Window

    from .dedup import PORTABLE_H64

    h = F.expr(PORTABLE_H64.format(x="CAST(vec_id AS STRING)"))
    ini = (
        emb_train.withColumn("h", h)
        .orderBy("h", "vec_id").limit(int(pq_k))
        .select(
            # 0-based like the production numpy codebooks: codes
            # 0..pq_k-1 fit signed int8 at the documented nbits<=7
            # ceiling (1-based 128 would overflow the TINYINT pack)
            (F.row_number().over(Window.orderBy("h", "vec_id")) - 1)
            .alias("code"),
            "vec_id",
        )
    )
    cb = ini.join(sv_train, "vec_id").select(
        "subspace", "code", F.col("svec").alias("cvec")
    ).localCheckpoint()
    for _ in range(train_iters):
        asg = _portable_pq_assign(sv_train, cb)
        upd = (
            asg.join(sv_train, ["vec_id", "subspace"])
            .select("subspace", "code",
                    F.posexplode("svec").alias("dim", "v"))
            .groupBy("subspace", "code", "dim")
            .agg(F.round(F.avg("v"), 9).alias("mean_v"))
            .groupBy("subspace", "code")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "mean_v")))
                 .alias("pairs"))
            .select("subspace", "code",
                    F.expr("transform(pairs, p -> p.mean_v)")
                    .alias("cvec_new"))
        )
        cb = (
            cb.join(upd, ["subspace", "code"], "left")
            .select("subspace", "code",
                    F.coalesce("cvec_new", "cvec").alias("cvec"))
            .localCheckpoint()
        )
    return cb


def _pack_portable_codes(sv: DataFrame, cb: DataFrame, m: int) -> DataFrame:
    """Portable assignment packed to the production storage shape —
    ``(vec_id, codes array<tinyint>)``, codes ordered by subspace —
    so a portable-family PQ index table is schema-identical to a
    numpy-family one (consumers and the multiplicity-aware rebuild
    audit need no branching)."""
    return (
        _portable_pq_assign(sv, cb)
        .groupBy("vec_id")
        .agg(F.array_sort(F.collect_list(F.struct("subspace", "code")))
             .alias("pairs"))
        .select(
            "vec_id",
            F.expr("transform(pairs, p -> CAST(p.code AS TINYINT))")
            .alias("codes"),
        )
    )


def ivf_pq_topk_portable(
    spark: SparkSession, sf_dir: str, k: int = 5, n_queries: int = 5,
    n_cells: int = 8, nprobe: int = 2, rerank: int = 50,
    m: int = 8, pq_k: int = 16, train_iters: int = 1,
) -> DataFrame:
    """SQL-replayable IVF-PQ (the portable dial through product
    quantization): per-subspace codebooks train with the SAME portable
    recipe as the coarse quantizer — init from the ``pq_k`` lowest
    (portable-md5(vec_id), vec_id) vectors' NORMALIZED subvectors, one
    Lloyd round under ordered-fold L2 rounded to 9 pre-argmin (ties to
    the smallest code; an emptied code keeps its init codeword, the
    production rule) — then candidates score by ADC (the sum of
    per-subspace query-codeword dots, rounded to 9) and the exact
    rounded rerank shares the IVF epilogue.  Subspace is DATA (long
    format), so the DuckDB twin needs no per-subspace unrolling.

    Production stays ``ivf_pq_topk`` (driver-sample numpy codebooks,
    Arrow LUT scan, persisted codes); this dial exists so PQ training
    itself is oracle-verifiable."""
    from pyspark.sql.window import Window

    rerank = max(rerank, k)
    emb, cents = _portable_centroids(spark, sf_dir, n_cells, train_iters)
    assigned = _assign_cells_exact(emb, cents)
    sv = _portable_subvectors(emb, m)
    cb = _portable_pq_train(emb, sv, pq_k, train_iters)
    codes = _portable_pq_assign(sv, cb)

    queries, probes = _portable_probes(emb, cents, n_queries, nprobe)
    qsv = sv.withColumnRenamed("vec_id", "q_id").withColumnRenamed(
        "svec", "qsvec")
    sdot = ("aggregate(zip_with(qsvec, cvec, (x, y) -> x * y), "
            "0D, (acc, v) -> acc + v)")
    ws = Window.partitionBy("q_id").orderBy(
        F.desc("acos"), F.asc("vec_id"))
    shortlist = (
        probes.select("q_id", "cell")
        .join(assigned.select("vec_id", "cell"), "cell")
        .where(F.col("vec_id") != F.col("q_id"))
        .join(codes, "vec_id")
        .join(cb, ["subspace", "code"])
        .join(qsv, ["q_id", "subspace"])
        .withColumn("dotj", F.expr(sdot))
        .groupBy("q_id", "vec_id")
        .agg(F.round(F.sum("dotj"), 9).alias("acos"))
        .withColumn("r", F.row_number().over(ws))
        .where(F.col("r") <= rerank)
        .join(queries, "q_id")
        .select("q_id", "vec_id", "q_emb", "q_norm")
    )
    dot = DOT.format(a="q_emb", b="embedding")
    scored = (
        assigned.select("vec_id", "embedding", "norm")
        .join(F.broadcast(shortlist), "vec_id")
        .withColumn("cosine", F.round(
            F.expr(dot) / (F.col("norm") * F.col("q_norm")), 9))
    )
    return _topk(scored, k)


def semantic_dedup_portable(
    spark: SparkSession, sf_dir: str, threshold: float = 0.95,
    n_cells: int = 8, train_iters: int = 1,
) -> DataFrame:
    """SQL-replayable SemDeDup (the portable k-means dial under the
    one-pass greedy rule): cells from ``_portable_centroids`` +
    ``_assign_cells_exact``, in-cell pair cosines rounded to 9 before
    the threshold test, drop iff some smaller-id in-cell near-dup
    exists.  The rule itself was always relational — only the k-means
    cells kept this rows-only; production stays ``semantic_dedup``
    (persisted xxhash64/matmul quantizer)."""
    emb, cents = _portable_centroids(spark, sf_dir, n_cells, train_iters)
    assigned = _assign_cells_exact(emb, cents)
    a = assigned.select(
        "cell", F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"), F.col("norm").alias("norm_a"),
    )
    b = assigned.select(
        "cell", F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("emb_b"), F.col("norm").alias("norm_b"),
    )
    dot = DOT.format(a="emb_a", b="emb_b")
    dropped = (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(
            F.expr(dot) / (F.col("norm_a") * F.col("norm_b")), 9))
        .where(F.col("cosine") >= threshold)
        .groupBy(F.col("id_b").alias("vec_id"))
        .agg(
            F.min("id_a").alias("dup_of"),
            F.max("cosine").cast("double").alias("max_cosine"),
        )
    )
    return (
        assigned.select("vec_id", "cell")
        .join(dropped, "vec_id", "left")
        .select(
            "vec_id", "cell",
            F.col("dup_of").isNull().alias("keep"),
            "dup_of", "max_cosine",
        )
    )


def _recall_of(
    exact: DataFrame, approx: DataFrame, label: str, k: int,
) -> DataFrame:
    """Per-query recall@k of ``approx`` ids against the ``exact``
    (q_id, exact_id) frame — ONE definition shared by the production
    report and the portable (oracle-dial) report so their recall
    arithmetic can never drift."""
    hits = exact.alias("e").join(
        approx.select(F.col("q_id").alias("aq"),
                      F.col("vec_id").alias("approx_id")),
        (F.col("e.q_id") == F.col("aq"))
        & (F.col("e.exact_id") == F.col("approx_id")),
        "left",
    )
    return (
        hits.groupBy(F.col("e.q_id").alias("q_id"))
        .agg((F.count("approx_id") / F.lit(k)).alias("recall"))
        .withColumn("method", F.lit(label))
    )


def ann_recall_report_portable(
    spark: SparkSession, sf_dir: str, k: int = 5, n_queries: int = 5,
) -> DataFrame:
    """SQL-replayable ANN recall report: the three legs are the
    PORTABLE dials (md5-parity LSH, portable-k-means IVF, long-format
    PQ) against the oracle-green brute-force ``cosine_topk`` — every
    id set is individually cross-engine-deterministic, so the recall
    fractions (hits/k over identical integer counts) replay exactly.
    k=5 matches the legs' oracle dials; the production report
    (``ann_recall_report``, k=10, production indexes, floor guards)
    remains the operational health check."""
    exact = cosine_topk(spark, sf_dir, k, n_queries).select(
        "q_id", F.col("vec_id").alias("exact_id"))
    legs = [
        ("lsh", lsh_ann_topk(spark, sf_dir, k, n_queries,
                             portable_hash=True)),
        ("ivf", ivf_ann_topk_portable(spark, sf_dir, k, n_queries)),
        ("ivf_pq", ivf_pq_topk_portable(spark, sf_dir, k, n_queries)),
    ]
    out = None
    for label, approx in legs:
        r = _recall_of(exact, approx, label, k)
        out = r if out is None else out.unionByName(r)
    return out.select(
        "method", "q_id", F.col("recall").cast("double").alias("recall"))


def ann_recall_report(
    spark: SparkSession, sf_dir: str, k: int = 10, n_queries: int = 5,
    min_ivf_margin: Optional[float] = 0.25,
    min_ivf_recall: float = 0.25,
    min_pq_margin: Optional[float] = 0.3,
) -> DataFrame:
    """Self-evaluating ANN quality: recall@k of the LSH, IVF, and
    IVF-PQ paths against brute force, per query — the dial-tuning
    report a pipeline owner reads before trading accuracy for
    throughput.

    Floor guard: raises ``RecallRegressionError`` when mean IVF
    recall@k signals a genuinely broken index — below the ABSOLUTE
    floor ``min_ivf_recall`` (a stale/mis-trained quantizer scores
    near zero) or below mean LSH recall@k minus ``min_ivf_margin``.
    The margin default is deliberately loose (0.25): LSH multiprobe
    recall swings corpus-to-corpus (measured 0.58 vs 0.76 on two
    same-size fixtures), so a tight relative bound flags healthy
    indexes.  ``min_ivf_margin=None`` disables the relative check;
    ``min_ivf_recall=0`` disables the absolute floor (each guard is
    independent).  The PQ guard is relative to IVF (they share probe
    sets, so PQ recall can only trail by shortlist error): mean PQ
    recall below IVF minus ``min_pq_margin`` means broken codebooks
    (measured gap at the default rerank is ~0.08).  The check reads
    the report's own aggregate (3 rows), not extra jobs."""
    exact = cosine_topk(spark, sf_dir, k, n_queries).select(
        "q_id", F.col("vec_id").alias("exact_id")
    )

    def recall_of(approx: DataFrame, label: str) -> DataFrame:
        return _recall_of(exact, approx, label, k)

    lsh = recall_of(lsh_ann_topk(spark, sf_dir, k, n_queries), "lsh")
    ivf = recall_of(ivf_ann_topk(spark, sf_dir, k, n_queries), "ivf")
    pq = recall_of(ivf_pq_topk(spark, sf_dir, k, n_queries), "ivf_pq")
    report = lsh.unionByName(ivf).unionByName(pq).select(
        "method", "q_id", F.col("recall").cast("double").alias("recall")
    )
    if (min_ivf_margin is not None or min_ivf_recall > 0
            or min_pq_margin is not None):
        report = report.localCheckpoint()  # guard + caller share one run
        means = {
            r["method"]: r["r"]
            for r in report.groupBy("method")
            .agg(F.avg("recall").alias("r")).collect()
        }
        ivf_r = means.get("ivf", 0.0)
        lsh_r = means.get("lsh", 0.0)
        rel_bad = (min_ivf_margin is not None
                   and ivf_r < lsh_r - min_ivf_margin)
        if ivf_r < min_ivf_recall or rel_bad:
            raise RecallRegressionError(
                f"IVF recall@{k} {ivf_r:.3f} collapsed (absolute floor "
                f"{min_ivf_recall}, LSH {lsh_r:.3f} - {min_ivf_margin}) — "
                "the coarse quantizer is mis-trained for this corpus "
                "(stale centroid table? degenerate cells?)"
            )
        pq_r = means.get("ivf_pq", 0.0)
        if min_pq_margin is not None and pq_r < ivf_r - min_pq_margin:
            raise RecallRegressionError(
                f"IVF-PQ recall@{k} {pq_r:.3f} trails IVF {ivf_r:.3f} by "
                f"more than {min_pq_margin} — broken codebooks or ADC "
                "scoring (they share probe sets, so only shortlist error "
                "can separate them)"
            )
    return report


def _assign_cells_exact(
    emb: DataFrame, cents: DataFrame, with_cos: bool = False,
) -> DataFrame:
    """PORTABLE (oracle-dial) nearest-centroid assignment: pure
    Spark-SQL ordered-fold arithmetic (the DOT/NORM macros, the same
    expressions the DuckDB oracles replay bit-for-bit), cosine rounded
    to 9 decimals pre-argmax, ties to the smallest cell.  The
    production path is the Arrow-batched float64 matmul
    (``_assign_cells``); this crossJoin-shaped twin exists so k-means
    itself becomes SQL-replayable at oracle dials — it is NOT the
    scale path (the matmul replaced exactly this shape at 97 s vs
    ~1 s for 40k x 300)."""
    from pyspark.sql.window import Window

    dot = DOT.format(a="c_emb", b="embedding")
    scored = emb.crossJoin(F.broadcast(cents)).withColumn(
        "cos",
        F.round(F.expr(dot) / (F.col("norm") * F.col("c_norm")), 9),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("cell"))
    out = scored.withColumn("rn", F.row_number().over(w)).where("rn = 1")
    cols = ["vec_id", "cell", "embedding", "norm"]
    if with_cos:
        cols.append("cos")
    return out.select(*cols)


def _portable_centroids(
    spark: SparkSession, sf_dir: str, n_cells: int, train_iters: int,
) -> tuple[DataFrame, DataFrame]:
    """(non-zero-norm corpus, trained centroids) for the portable
    k-means dial over the parquet embeddings corpus — delegates to
    :func:`_portable_centroids_from`, the frame-level core the
    CDC-maintained IVF index's portable dial also trains with."""
    emb = _with_norm(load(spark, sf_dir, "embeddings")).where(
        F.col("norm") > 0)
    return emb, _portable_centroids_from(emb, n_cells, train_iters)


def _portable_centroids_from(
    emb: DataFrame, n_cells: int, train_iters: int,
) -> DataFrame:
    """Trained centroids for the portable k-means dial over an
    arbitrary ``(vec_id, embedding, norm)`` frame (zero-norm rows
    already excluded): portable-md5 init order, ordered-fold
    assignment cosines rounded to 9 pre-argmax, Lloyd means rounded to
    9 — every number either bit-identical cross-engine or quantized at
    the repo's 9-decimal convention, so a DuckDB twin unrolling the
    same iterations lands on the same model."""
    from pyspark.sql.window import Window

    from .dedup import PORTABLE_H64

    if train_iters < 0:
        raise ValueError(f"train_iters must be >= 0, got {train_iters}")
    h = F.expr(PORTABLE_H64.format(x="CAST(vec_id AS STRING)"))
    cents = (
        emb.withColumn("h", h)
        .orderBy("h", "vec_id")
        .limit(int(n_cells))
        .select(
            F.row_number().over(Window.orderBy("h", "vec_id"))
            .alias("cell"),
            F.col("embedding").alias("c_emb"),
            F.col("norm").alias("c_norm"),
        )
        .localCheckpoint()
    )
    for _ in range(train_iters):
        assigned = _assign_cells_exact(emb, cents)
        cents = (
            assigned.select(
                "cell", F.posexplode("embedding").alias("dim", "v"))
            .groupBy("cell", "dim")
            .agg(F.round(F.avg(F.col("v").cast("double")), 9)
                 .alias("mean_v"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("dim", "mean_v")))
                 .alias("pairs"))
            .select("cell",
                    F.expr("transform(pairs, p -> p.mean_v)")
                    .alias("c_emb"))
            .withColumn("c_norm", F.expr(NORM.format(a="c_emb")))
            .localCheckpoint()
        )
    return cents


def _portable_probes(
    emb: DataFrame, cents: DataFrame, n_queries: int, nprobe: int,
) -> tuple[DataFrame, DataFrame]:
    """(queries, probes) for the portable IVF query dials — ONE
    definition of the per-query top-``nprobe`` cell choice (rounded
    centroid cosine DESC, ties to the smallest cell) shared by the
    plain / SQ8 / PQ portable paths so a tie-break or rounding change
    can never make their Spark sides diverge from each other (their
    DuckDB twins share the probes CTE shape the same way)."""
    from pyspark.sql.window import Window

    queries = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    qdot = DOT.format(a="c_emb", b="q_emb")
    wq = Window.partitionBy("q_id").orderBy(
        F.col("qcos").desc(), F.col("cell"))
    probes = (
        queries.crossJoin(F.broadcast(cents))
        .withColumn("qcos", F.round(
            F.expr(qdot) / (F.col("q_norm") * F.col("c_norm")), 9))
        .withColumn("rn", F.row_number().over(wq))
        .where(F.col("rn") <= nprobe)
        .select("q_id", "q_emb", "q_norm", "cell")
    )
    return queries, probes


def ivf_ann_topk_portable(
    spark: SparkSession, sf_dir: str, k: int = 5, n_queries: int = 5,
    n_cells: int = 8, nprobe: int = 2, train_iters: int = 1,
) -> DataFrame:
    """SQL-replayable IVF ANN (the portable k-means dial extended
    through the query path): portable centroids, exact-SQL
    assignments, per-query top-``nprobe`` cells by rounded centroid
    cosine (ties to the smallest cell), exact rounded-cosine rerank
    over the probed cells' members with the shared (cosine DESC,
    vec_id) tie-break.  Every stage is the relational formulation the
    DuckDB oracle unrolls — production IVF stays ``ivf_ann_topk``
    (persisted centroids, Arrow matmul, session caches)."""
    emb, cents = _portable_centroids(spark, sf_dir, n_cells, train_iters)
    assigned = _assign_cells_exact(emb, cents)
    _queries, probes = _portable_probes(emb, cents, n_queries, nprobe)
    dot = DOT.format(a="q_emb", b="embedding")
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != F.col("q_id"))
        .withColumn("cosine", F.round(
            F.expr(dot) / (F.col("norm") * F.col("q_norm")), 9))
    )
    return _topk(scored, k)


def kmeans_clusters_portable(
    spark: SparkSession, sf_dir: str, n_cells: int = 8,
    train_iters: int = 1,
) -> DataFrame:
    """The SQL-replayable k-means dial behind the ``kmeans_clusters``
    oracle (the LSH family's portable-md5 technique applied to
    clustering): init takes the ``n_cells`` lowest
    (portable-md5(vec_id), vec_id) vectors, every assignment is the
    ordered-fold cosine rounded to 9 pre-argmax (``_assign_cells_exact``),
    and each Lloyd update stores per-dimension means rounded to 9 —
    every number either bit-identical cross-engine (ordered folds) or
    quantized at the repo's 9-decimal pre-ranking convention, so a
    DuckDB twin unrolls the same iterations and lands on the same
    clusters.  Zero-norm vectors are excluded (cosine undefined), the
    same population rule the production report's guard counts.

    Production clustering stays ``kmeans_clusters`` (xxhash64 init +
    Arrow matmul); this dial exists for verification, like every
    other portable hash path."""
    emb, cents = _portable_centroids(spark, sf_dir, n_cells, train_iters)
    final = _assign_cells_exact(emb, cents, with_cos=True)
    return (
        final.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("cos"), 9).alias("mean_cos"),
            F.round(F.min("cos"), 9).alias("min_cos"),
        )
        .orderBy("cell")
    )


def kmeans_clusters(
    spark: SparkSession, sf_dir: str, n_cells: Optional[int] = None,
    train_iters: int = 1,
) -> DataFrame:
    """Corpus clustering report from the k-means coarse quantizer: one
    row per non-empty cluster with its population and compactness
    (mean / min cosine of members to their own centroid) — the
    cluster-balance view a curation pipeline samples from
    (cluster-stratified sampling, SemDeDup-style pruning budgets).

    Reuses the session-cached assignment (`ivf_assignments`) and the
    broadcastable centroid frame, so the report costs one
    broadcast-join map pass plus a `n_cells`-group aggregate on top of
    the amortized index build.  (Rows-only driver check: k-means is
    not SQL-expressible for the DuckDB oracle.)"""
    cents = ivf_train_centroids(spark, sf_dir, n_cells, train_iters)
    assigns = ivf_assignments(spark, sf_dir, n_cells,
                              train_iters=train_iters)
    dot = DOT.format(a="c_emb", b="embedding")
    scored = assigns.join(F.broadcast(cents), "cell").withColumn(
        "cos", F.expr(dot) / (F.col("norm") * F.col("c_norm"))
    )
    return (
        scored.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.avg("cos").cast("double").alias("mean_cos"),
            F.min("cos").cast("double").alias("min_cos"),
        )
        .orderBy("cell")
    )


def _portable_pca_cov(emb_df: DataFrame):
    """(n, dims, mu, cov) frames for the PORTABLE PCA dial over a
    (vec_id, embedding) frame — every aggregate accumulates in
    DECIMAL (order-independent) over rounded-9 terms, so the
    covariance matrix is bit-identical cross-engine: components round
    to 9 on load, the mean is the exact decimal sum divided by n
    (rounded at 12, where small-factor n quotients are EXACT),
    centered products multiply in exact DECIMAL before the exact
    covariance sum.  ``dims`` is the exploded (vec_id, i, xi) frame
    the projection pass reuses."""
    n = emb_df.count()
    if n < 2:
        raise ValueError("PCA needs at least 2 embeddings")
    x9 = emb_df.select(
        "vec_id",
        F.expr("transform(embedding, e -> round(CAST(e AS DOUBLE), 9))")
        .alias("x"),
    )
    dims = x9.select(
        "vec_id", F.posexplode("x").alias("i", "xi")
    ).localCheckpoint(eager=False)
    mu = (
        dims.groupBy("i")
        .agg(F.expr(
            f"round(CAST(sum(CAST(xi AS DECIMAL(20,9))) AS DOUBLE)"
            f" / {n}, 12)").alias("mu"))
        .localCheckpoint(eager=False)
    )
    cen = dims.join(mu, "i").select(
        "vec_id", "i", (F.col("xi") - F.col("mu")).alias("ci"))
    # products multiply in EXACT DECIMAL, never round-then-sum: the
    # factors are grid values (nearest doubles of 9-decimal numbers),
    # so DECIMAL(.,9) casts are exact and the (.,18)-scale product is
    # exact in both engines — round(x*y, 9) instead would land
    # exactly ON half boundaries whenever the product's decimal tail
    # is .5e-9 (e.g. any c * 0.125), where Spark's HALF_UP and
    # DuckDB's double-rounding disagree (measured: 7/64 components
    # off after one power-iteration step)
    cov = (
        cen.alias("a")
        .join(cen.alias("b"), "vec_id")
        .select(
            F.col("a.i").alias("i"), F.col("b.i").alias("j"),
            F.expr("CAST(a.ci AS DECIMAL(15,12))"
                   " * CAST(b.ci AS DECIMAL(15,12))").alias("p"),
        )
        .groupBy("i", "j")
        .agg(F.expr(
            f"round(CAST(sum(p) AS DOUBLE) / {n - 1}, 9)").alias("c"))
        .localCheckpoint(eager=True)
    )
    return n, dims, mu, cov


def _portable_power_iteration(cov, d: int, iters: int):
    """One portable power-iteration pass over a (i, j, c) covariance
    frame: T matrix-vector steps, each a decimal-exact fold of
    rounded-9 products with a rounded-9 normalize (``+ 0.0``
    canonicalizes −0.0 so the CSV render agrees cross-engine).
    Returns (v, lam_frame, deflated_cov) — the component frame
    (i, val), the 1-row Rayleigh eigenvalue, and the rank-1-deflated
    covariance for the next component.  Every expression here has a
    byte-for-byte SQL twin (the _pca_oracle_sql generator)."""
    spark = cov.sparkSession
    # UNNORMALIZED generic start (the first normalize absorbs the
    # scale): sqrt(i+2) has a full irrational decimal tail per
    # coordinate, so every downstream product/sum is boundary-free —
    # a constant 1/sqrt(d) start (= 0.125 at d=64) collapsed products
    # onto the exact-half grid where the engines' round() disagree
    v = spark.range(d).select(
        F.col("id").cast("int").alias("i"),
        F.expr("round(sqrt(id + 2), 9)").alias("val"),
    ).localCheckpoint(eager=False)

    def _mv(vf):
        # exact-decimal products (see _portable_pca_cov's note): both
        # factors are grid values, so the DECIMAL casts are exact and
        # the scale-18 sum is order-independent AND boundary-free
        return (
            cov.join(vf, cov["j"] == vf["i"])
            .select(cov["i"].alias("wi"),
                    F.expr("CAST(c AS DECIMAL(12,9))"
                           " * CAST(val AS DECIMAL(10,9))").alias("t"))
            .groupBy("wi")
            .agg(F.expr(
                "round(CAST(sum(t) AS DOUBLE), 9)").alias("w"))
            .select(F.col("wi").alias("i"), "w")
        )

    for _ in range(iters):
        w = _mv(v)
        s = w.agg(F.expr(
            "sqrt(CAST(sum(CAST(w AS DECIMAL(12,9))"
            " * CAST(w AS DECIMAL(12,9))) AS DOUBLE))").alias("s"))
        v = (
            w.crossJoin(F.broadcast(s))
            .select("i", F.expr("round(w / s, 9) + 0.0").alias("val"))
            .localCheckpoint(eager=True)
        )
    w = _mv(v)
    lam = (
        w.join(v, "i")
        .agg(F.expr(
            "round(CAST(sum(CAST(val AS DECIMAL(10,9))"
            " * CAST(w AS DECIMAL(12,9))) AS DOUBLE), 9)").alias("lam"))
        .localCheckpoint(eager=True)
    )
    deflated = (
        cov.join(v.select(F.col("i"), F.col("val").alias("vi")), "i")
        .join(v.select(F.col("i").alias("j"), F.col("val").alias("vj")),
              "j")
        .crossJoin(F.broadcast(lam))
        .select("i", "j",
                F.expr(
                    "round(CAST(CAST(c AS DECIMAL(12,9))"
                    " - CAST(lam AS DECIMAL(12,9))"
                    " * CAST(vi AS DECIMAL(10,9))"
                    " * CAST(vj AS DECIMAL(10,9)) AS DOUBLE), 9)")
                .alias("c"))
        .localCheckpoint(eager=True)
    )
    return v, lam, deflated


def portable_pca_project(
    spark: SparkSession, sf_dir: str, k: int = 2, iters: int = 8,
) -> DataFrame:
    """PCA projection under the PORTABLE dial (the oracle-conversion
    pattern): top-``k`` principal components by power iteration with
    deflation, every fold decimal-exact over rounded-9 terms — the
    whole computation (moments, T matrix-vector steps per component,
    Rayleigh eigenvalue, rank-1 deflation, projection) is replayed
    bit-for-bit by a DuckDB twin that unrolls the same iterations.
    NOT the scale path: production is ``embedding_pca`` (driver
    eigendecomposition of distributed partial moments, persisted
    basis) — this dial exists so the PCA entry is value-checkable
    cross-engine.  Convergence is irrelevant to parity: both engines
    compute the identical iterate sequence, rounded to the same grid;
    how CLOSE the iterates get to true eigenvectors depends on the
    corpus's spectral gap (the synthetic embeddings are near-
    isotropic, λ1/λ2 ≈ 1.02, where eigenvectors are numerically
    ill-defined for ANY method — eigh included — so the iteration
    converges on spiked spectra and is a deterministic Krylov
    direction on flat ones; test_r12_entries pins the spiked case).

    Output: (vec_id, label, proj array<double>) with proj[c] = the
    centered dot with component c, rounded to 9 (−0.0 canonicalized).
    Scale shape: the corpus is touched twice (moment pass, projection
    pass); the iteration itself runs on the d- and d²-row model
    frames only."""
    emb = load(spark, sf_dir, "embeddings")
    proj = _portable_pca_project_frame(
        emb.select("vec_id", "embedding"), k, iters)
    return proj.join(emb.select("vec_id", "label"), "vec_id").select(
        "vec_id", "label", "proj")


def _portable_pca_project_frame(
    emb_df: DataFrame, k: int, iters: int,
) -> DataFrame:
    """Frame-level core of :func:`portable_pca_project` over a
    (vec_id, embedding) frame — the spiked-corpus convergence test
    drives this directly.  Returns (vec_id, proj array<double>)."""
    d_row = emb_df.select(F.size("embedding").alias("d")).first()
    if d_row is None or d_row["d"] is None or d_row["d"] < 1:
        raise ValueError("embedding frame is empty or first row null")
    d = int(d_row["d"])
    if not 1 <= k <= d:
        raise ValueError(f"k={k} must be in [1, {d}]")
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    n, dims, mu, cov = _portable_pca_cov(emb_df)
    comps = []
    for _c in range(k):
        v, _lam, cov = _portable_power_iteration(cov, d, iters)
        comps.append(v)
    cen = dims.join(mu, "i").select(
        "vec_id", "i", (F.col("xi") - F.col("mu")).alias("ci"))
    projs = None
    for c, v in enumerate(comps):
        pc = (
            cen.join(F.broadcast(v), "i")
            .select("vec_id",
                    F.expr("CAST(ci AS DECIMAL(15,12))"
                           " * CAST(val AS DECIMAL(10,9))").alias("t"))
            .groupBy("vec_id")
            .agg(F.expr(
                "round(CAST(sum(t) AS DOUBLE), 9) + 0.0")
                .alias(f"p{c}"))
        )
        projs = pc if projs is None else projs.join(pc, "vec_id")
    return projs.select(
        "vec_id",
        F.array(*[F.col(f"p{c}") for c in range(k)]).alias("proj"),
    )


def pca_basis_table_uri(sf_dir: str, k: int) -> str:
    """One persisted basis table per (corpus dir, k); retrains on
    changed data append new versions — the IVF centroid contract
    (``ivf_centroid_table_uri``) applied to the PCA family."""
    key = f"{os.path.abspath(sf_dir)}|pca|{k}"
    digest = hashlib.sha256(key.encode()).hexdigest()[:16]
    return os.path.join(_index_root(), f"pca_basis_{digest}")


def embedding_pca(
    spark: SparkSession, sf_dir: str, k: int = 16
):
    """Train a PCA basis over the embedding corpus: mean vector plus
    the top-``k`` principal components and their explained-variance
    shares.  Returns ``(mean, components, explained)`` as numpy
    arrays — mean ``(d,)``, components ``(d, k)`` column-orthonormal,
    explained ``(k,)`` fractions in decreasing order.

    The trained basis PERSISTS to a version-keyed ``DeltaSparkTable``
    (``pca_basis_table_uri``, under ``DDS_INDEX_DIR``) whose commit
    metadata records the corpus fingerprint — the same
    train-once/load-thereafter contract as the IVF centroids, so a
    query session's projection is map-only instead of re-aggregating
    corpus moments per call.  A changed corpus triggers a retrain
    committed as a new version; within a process the decoded numpy
    basis is session-cached per (corpus, fingerprint, k).

    Scale shape (the 100 TB covariance recipe): one ``mapInPandas``
    pass emits ONE partial-moment row per Arrow batch — count, sum
    vector (d), and flattened second-moment matrix (d*d) — so the
    driver collects O(batches) small rows regardless of corpus size,
    sums them, and eigendecomposes the d x d covariance locally
    (d is model-bounded, like the transaction-log metadata the
    SCALE.md driver-side section covers; d=64 -> 32 KB per partial
    row).  No per-vector data ever reaches the driver.
    """
    d = _embedding_dim(spark, sf_dir)
    if not 1 <= k <= d:
        raise ValueError(f"k={k} must be in [1, {d}]")
    return session_cache.get(
        spark, sf_dir, "embeddings", ("pca", k),
        lambda fingerprint: _pca_basis(spark, sf_dir, k, d, fingerprint))


def _pca_basis(spark: SparkSession, sf_dir: str, k: int, d: int,
               fingerprint: str):
    """The persisted basis when its fingerprint matches, else a trained
    and persisted one (see :func:`embedding_pca`)."""
    import numpy as np

    from ..table import DeltaSparkTable

    index = DeltaSparkTable(spark, pca_basis_table_uri(sf_dir, k))
    if index.exists():
        meta = (index.history(limit=1)[0].get("userMetadata") or {})
        if meta.get("corpus_fingerprint") == fingerprint:
            rows = {(r["kind"], r["idx"]): np.asarray(r["vals"])
                    for r in index.read().collect()}
            return (
                rows[("mean", 0)],
                np.stack([rows[("comp", j)] for j in range(k)], axis=1),
                rows[("expl", 0)],
            )

    def _moments(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = _np.stack(pdf["embedding"].to_numpy()).astype(_np.float64)
            yield _pd.DataFrame({
                "cnt": [int(x.shape[0])],
                "s": [x.sum(axis=0).tolist()],
                "ss": [(x.T @ x).ravel().tolist()],
            })

    partials = (
        load(spark, sf_dir, "embeddings")
        .select("embedding")
        .mapInPandas(
            _moments, "cnt long, s array<double>, ss array<double>"
        )
        .collect()
    )
    n = sum(r["cnt"] for r in partials)
    if n < 2:
        raise ValueError("PCA needs at least 2 embeddings")
    s = np.sum([np.asarray(r["s"]) for r in partials], axis=0)
    ss = np.sum([np.asarray(r["ss"]) for r in partials], axis=0).reshape(d, d)
    mean = s / n
    cov = (ss - n * np.outer(mean, mean)) / (n - 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    components = evecs[:, order]
    total_var = float(np.clip(evals.sum(), 1e-30, None))
    explained = np.clip(evals[order], 0.0, None) / total_var

    # persist: the basis is (2 + k) tiny rows — the
    # component matrix decomposes column-per-row so any k rebuilds
    # exactly (arrays round-trip as array<double>)
    basis_rows = (
        [("mean", 0, mean.tolist()), ("expl", 0, explained.tolist())]
        + [("comp", j, components[:, j].tolist()) for j in range(k)]
    )
    index.write(
        spark.createDataFrame(
            basis_rows, "kind string, idx int, vals array<double>"),
        commit_metadata={"corpus_fingerprint": fingerprint, "k": str(k)},
    )
    return mean, components, explained


def _embedding_dim(spark: SparkSession, sf_dir: str) -> int:
    row = (
        load(spark, sf_dir, "embeddings")
        .select(F.size("embedding").alias("d")).first()
    )
    if row is None or row["d"] is None or row["d"] < 1:
        raise ValueError(
            "embeddings table is empty or its first embedding is null"
        )
    return int(row["d"])


def embedding_pca_project(
    spark: SparkSession, sf_dir: str, k: int = 16, basis=None
) -> DataFrame:
    """Project every embedding onto the corpus's top-``k`` principal
    components — the dimensionality-reduction pass that precedes ANN
    indexing / clustering at scale (a 4x reduction shrinks every
    downstream distance computation and index the same 4x, usually
    for a few percent of variance).

    The basis comes from :func:`embedding_pca` (driver-side d x d
    eigendecomposition over distributed partial moments; persisted +
    session-cached per corpus fingerprint since r8, so repeat calls
    are map-only) unless an already-trained ``basis=(mean,
    components)`` is passed through — callers that train AND project
    in one breath (the registry guard, whitening pipelines) skip even
    the first cache probe.  Projection broadcasts the (d x k) basis inside an
    Arrow-batched ``mapInPandas`` closure — map-only, no shuffle.
    Output: ``(vec_id, label, proj array<double>)`` with
    ``proj = (x - mean) @ components``.
    """
    if basis is None:
        mean, components, _ = embedding_pca(spark, sf_dir, k)
    else:
        mean, components = basis
        if components.shape[1] != k:
            raise ValueError(
                f"basis has {components.shape[1]} components, k={k}"
            )

    def _project(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = _np.stack(pdf["embedding"].to_numpy()).astype(_np.float64)
            proj = (x - mean) @ components
            yield _pd.DataFrame({
                "vec_id": pdf["vec_id"],
                "label": pdf["label"],
                "proj": list(map(list, proj)),
            })

    return (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "label", "embedding")
        .mapInPandas(_project, "vec_id long, label int, proj array<double>")
    )


def hybrid_search_rrf(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = 5,
    inner_k: int = 20,
    top_k: int = 10,
    k_rrf: int = 60,
) -> DataFrame:
    """Hybrid retrieval with Reciprocal Rank Fusion: fuse a SPARSE
    ranking (BM25 over the query document's distinct tokens,
    ``textops.bm25_search``) and a DENSE ranking (exact cosine over
    the aligned embeddings, :func:`cosine_topk`) as

        rrf(q, d) = sum over systems s of 1 / (k_rrf + rank_s(q, d))

    — the standard zero-tuning fusion (Cormack et al. 2009) modern
    retrieval stacks run over lexical + vector legs.  Each leg keeps
    its own top-``inner_k``; a doc absent from a leg contributes 0.
    Scores round to 9 decimals before the final ranking so top-k
    membership is cross-engine deterministic (the BM25 leg's own
    rounding convention); ties break on doc_id.

    Plan: both legs are the already-audited plans (inverted-postings
    probe; broadcast-query brute-force cosine); the fusion is one
    full-outer join of two (queries x inner_k)-row frames and a
    per-query WindowGroupLimit — fusion cost is rank-table-sized,
    never corpus-sized, at any scale.

    This is the EXACT, oracle-backed form.  The production read path
    at corpus scale is ``incremental.hybrid_search_maintained`` (r10):
    the dense leg reads the CDC-maintained IVF+PQ indexes instead of
    brute-force cosine, fused through the shared ``_rrf_fuse``
    epilogue — bit-identical to this form at full nprobe/rerank."""
    from .textops import bm25_search

    docs = load(spark, sf_dir, "documents")
    qdocs = (
        docs.where(F.col("doc_id") < n_queries)
        .select("doc_id", "text").collect()
    )  # bounded: n_queries rows
    sparse = bm25_search(
        spark, sf_dir,
        queries=[(r["doc_id"], r["text"]) for r in qdocs],
        top_k=inner_k, exclude_qid_doc=True,
    ).select(
        F.col("qid").cast("long").alias("q_id"),
        "doc_id",
        F.col("rank").alias("r_sparse"),
    )
    dense = cosine_topk(spark, sf_dir, k=inner_k, n_queries=n_queries) \
        .select(
            "q_id",
            F.col("vec_id").alias("doc_id"),
            F.col("rank").alias("r_dense"),
        )
    return _rrf_fuse(sparse, dense, k_rrf, top_k)


def _rrf_fuse(
    sparse: DataFrame, dense: DataFrame, k_rrf: int, top_k: int
) -> DataFrame:
    """THE Reciprocal-Rank-Fusion epilogue — one definition shared by
    the exact oracle-backed form (``hybrid_search_rrf``) and the
    maintained-index production path
    (``incremental.hybrid_search_maintained``), so the two can never
    fuse differently.  Inputs: ``(q_id, doc_id, r_sparse)`` and
    ``(q_id, doc_id, r_dense)`` rank tables; a doc absent from a leg
    contributes 0.  Scores round to 9 decimals before ranking (the
    cross-engine determinism convention); ties break on doc_id.  One
    full-outer join of two rank tables + a per-query
    WindowGroupLimit — rank-table-sized at any scale."""
    contrib = (
        F.when(F.col("r_sparse").isNotNull(),
               1.0 / (k_rrf + F.col("r_sparse"))).otherwise(F.lit(0.0))
        + F.when(F.col("r_dense").isNotNull(),
                 1.0 / (k_rrf + F.col("r_dense"))).otherwise(F.lit(0.0))
    )
    fused = (
        sparse.join(dense, ["q_id", "doc_id"], "full_outer")
        .select("q_id", "doc_id", F.round(contrib, 9).alias("rrf_score"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("q_id").orderBy(
        F.desc("rrf_score"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= top_k)
        .select("q_id", "doc_id", "rrf_score", "rank")
    )
