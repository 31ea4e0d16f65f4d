"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design:

- *Exact*: hash-groupBy on a content fingerprint — one shuffle keyed
  by the hash, no driver data.
- *Exact n-gram Jaccard*: shingle -> self-join on shingle -> count
  intersections.  Exact and oracle-checkable; the shingle join is the
  classic "pairs sharing a shingle" plan whose cost is bounded by
  shingle selectivity (word trigrams, not unigrams, precisely so the
  join doesn't explode).
- *MinHash+LSH*: the 100 TB path — constant-size signatures per doc,
  banding -> bucket join -> candidate pairs -> exact verification on
  candidates only.  All hash math is ``xxhash64`` JVM-side.
- *SimHash*: one 64-bit signature per doc computed with array
  lambdas inside codegen (zero shuffles to build), banded join on
  signature chunks for Hamming-neighbor candidates.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import session_cache
from .relational import load
from .textops import TOKENS

# The corpus-side derivations below (shingle stream, MinHash/SimHash
# signatures, truncated LSH bucket tables) are index state: each is
# materialized once per (session, corpus, fingerprint, params) through
# ``session_cache.get`` and reused by every dedup query after it.


#: cross-engine 64-bit hash: the top 60 bits of md5, as a positive
#: bigint.  Spark (`conv(substring(md5(x),1,15),16,10)`) and DuckDB
#: (`('0x' || substr(md5(x),1,15))::BIGINT`) compute the identical
#: value — unlike xxhash64, which only Spark implements — so a
#: near-dup pipeline run under this hash is recomputable by the
#: DuckDB oracle in SQL.  Lives HERE (the operators layer) because
#: both the batch LSH family and the streaming ingest filter dial
#: through it; streaming/ingest_dedup re-exports it.
PORTABLE_H64 = "CAST(conv(substring(md5({x}), 1, 15), 16, 10) AS BIGINT)"


def portable_hash_family():
    """The md5-derived cross-engine hash family as the
    ``(base_hash, seed_hash, hash_sql)`` triple consumed by
    ``_signatures_from_stream`` / ``band_buckets`` — ONE rendering
    shared by the batch operators' ``portable_hash=True`` dials and
    the streaming ingest filter (``portable_doc_buckets``), so the
    DuckDB oracles and every Spark portable path hash identically by
    construction.  md5 costs ~3x xxhash64; production paths keep
    xxhash64 and this family is the verification dial."""
    return (
        lambda c: F.expr(PORTABLE_H64.format(x=c)),
        # seed factory over the exploded INT seed column + h0 — the
        # rendered value ('<seed>:<h0>') is exactly what the DuckDB
        # oracles recompute (CAST(i AS VARCHAR) || ':' || CAST(h0 ...))
        lambda c: F.expr(PORTABLE_H64.format(
            x=f"concat(CAST({c} AS STRING), ':', CAST(h0 AS STRING))")),
        PORTABLE_H64,
    )


def band_buckets(
    sigs: DataFrame, num_hashes: int, bands: int,
    hash_sql: str = "xxhash64({x})",
) -> DataFrame:
    """(doc_id, sig) -> (doc_id, band, h): one bucket per signature
    slice.  THE banding scheme — shared by the batch LSH operators and
    the streaming ingest filter so they can never band differently.
    ``hash_sql`` (a ``{x}`` template) swaps the slice hash — the
    portable (md5) oracle dial routes through HERE, so the banding
    structure itself can never fork (streaming/ingest_dedup.py:
    portable_doc_buckets); the default renders the exact historical
    xxhash64 expression."""
    if bands < 1 or num_hashes % bands != 0:
        # bands > num_hashes would make every slice empty: every doc
        # hashes to xxhash64('') and the bucket join degenerates to the
        # full O(n^2) cross product; non-divisible combos silently
        # ignore trailing hashes
        raise ValueError(
            f"bands={bands} must be >= 1 and divide num_hashes="
            f"{num_hashes} exactly"
        )
    rows_per_band = num_hashes // bands
    slice_x = (f"concat_ws(',', slice(sig, b * {rows_per_band} + 1, "
               f"{rows_per_band}))")
    band_expr = (
        f"transform(sequence(0, {bands - 1}), "
        f"b -> named_struct('band', b, 'h', {hash_sql.format(x=slice_x)}))"
    )
    return sigs.select(
        "doc_id", F.explode(F.expr(band_expr)).alias("bh")
    ).select("doc_id", F.col("bh.band").alias("band"), F.col("bh.h").alias("h"))


def _jaccard_from_intersections(
    inter: DataFrame, sizes: DataFrame, threshold: float,
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """(doc_a, doc_b, n_common) x per-doc sizes -> thresholded exact
    Jaccard pairs (shared by the exact and the LSH-verified paths)."""
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .withColumn(
            "jaccard",
            (F.col("n_common")
             / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_common")))
            .cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", *extra_cols, "jaccard")
    )


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: keep the smallest doc_id per
    distinct normalized text.  Output: the surviving doc ids."""
    from .textops import NORM_TEXT

    docs = load(spark, sf_dir, "documents")
    return (
        # NORM_TEXT is the shared normalization contract — pipeline.py's
        # exact-dedup stage and the DuckDB _NORM oracle mirror it
        docs.withColumn("fp", F.expr(f"md5({NORM_TEXT})"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_dups"))
        .select("doc_id", "n_dups")
    )


def _shingle_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct word-trigram shingles as a flat (doc_id, sh) stream.

    posexplode the tokens once, then a window ``lead`` builds each
    trigram — no per-row array materialization.  (The array-lambda
    formulation hits Catalyst projection collapse: the token-split
    expression gets inlined into every element_at and the regex
    re-runs per shingle — ~10x slower.)  One shuffle on doc_id, all
    codegen.

    Returns a MATERIALIZED (localCheckpoint) frame, session-cached
    per (corpus, fingerprint): jaccard, the whole MinHash family and
    cluster dedup all start from this stream.
    """
    return session_cache.get(
        spark, sf_dir, "documents", ("shingles",),
        lambda _fp: shingles_of(
            load(spark, sf_dir, "documents")).localCheckpoint())


def shingles_of(docs: DataFrame) -> DataFrame:
    """Distinct word-trigram shingles of an arbitrary documents frame
    (``doc_id``, ``text``) — the un-cached core of ``_shingle_stream``,
    reused by the streaming ingest filter on per-batch frames."""
    from pyspark.sql.window import Window

    ex = docs.select("doc_id", F.posexplode(F.expr(TOKENS)).alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        ex.withColumn("t1", F.lead("tok", 1).over(w))
        .withColumn("t2", F.lead("tok", 2).over(w))
        .where(F.col("t2").isNotNull())
        .select("doc_id", F.concat_ws(" ", "tok", "t1", "t2").alias("sh"))
        .distinct()
    )


def _shingle_sizes(stream: DataFrame) -> DataFrame:
    return stream.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))


def near_dup_jaccard(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.4,
    max_shingle_df: Optional[int] = 1000,
) -> DataFrame:
    """Exact word-trigram Jaccard near-duplicate pairs.

    Plan: explode distinct shingles, self-join on the shingle to count
    intersections (the only shuffle), then Jaccard from per-doc
    shingle counts.  Deterministic: pairs with doc_a < doc_b.

    ``max_shingle_df`` is the scale guard: a shingle appearing in d
    documents contributes d^2/2 candidate pairs, so boilerplate
    shingles (d in the millions at 100 TB) dominate cost while carrying
    no similarity signal.  Shingles above the cap are dropped from the
    *intersection* side only (denominator sizes stay exact), bounding
    pair expansion at O(sum min(df, cap)^2).  The default cap (1000)
    exceeds the whole sf0.01 corpus, so the driver's oracle comparison
    is exact; pass None for the fully exact (self-join) plan.

    Intersection plan (cap set): group the stream by shingle into
    per-shingle doc lists and explode the pairs — ONE exchange on the
    shingle (vs the self-join's two join sides + pair shuffle; measured
    4.9 s -> 3.0 s at sf0.1 steady-state).  Skew safety: a
    ``row_number`` window truncates each shingle's run at cap+1 rows
    *before* ``collect_list``, so no aggregation buffer ever exceeds
    the cap even for a shingle in billions of docs (the window sort
    spills; a truncated group has size cap+1 and is dropped by the
    df-cap filter — exactly the cap semantics).  Singleton shingles
    (df=1, the large majority) die in the same filter before pair
    expansion."""
    from pyspark.sql.window import Window

    # the shingle stream feeds multiple plan branches (sizes + the
    # intersection path); _shingle_stream returns it materialized (and
    # session-cached), so every branch reads checkpoint blocks
    ex = _shingle_stream(spark, sf_dir)
    sizes = _shingle_sizes(ex)  # full per-doc sizes, before the prefilter
    if max_shingle_df is not None:
        from .relational import widen_for_compute

        cap = max_shingle_df
        # pin the window exchange with a NUMBERED repartition on the
        # same key (r16): AQE sizes the shuffle by its INPUT bytes and
        # coalesces the tiny stream to 1-2 partitions — blind to the
        # d^2 pair explosion that runs in the post-exchange stage.  A
        # REPARTITION_BY_NUM is not coalescible, so the explosion
        # keeps its parallelism; the window needs this exchange
        # anyway (same key), so no extra shuffle is added.  A/B med
        # 0.767 -> 0.662 s; no-op once the stream arrives with >= the
        # session's parallelism.
        src = widen_for_compute(ex, "sh")
        w = Window.partitionBy("sh").orderBy("doc_id")
        grp = (
            src.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= cap + 1)
            .groupBy("sh")
            .agg(F.collect_list("doc_id").alias("ds"))
            .where((F.size("ds") >= 2) & (F.size("ds") <= cap))
        )
        pairs = (
            grp.select("ds", F.explode("ds").alias("doc_a"))
            .select("doc_a", F.explode("ds").alias("doc_b"))
            .where(F.col("doc_a") < F.col("doc_b"))
        )
        inter = pairs.groupBy("doc_a", "doc_b").agg(
            F.count(F.lit(1)).alias("n_common")
        )
    else:
        # exact-any-scale fallback: self-join keeps per-row state flat
        # (no doc lists) at the price of two join sides on the shingle
        a = ex.alias("a")
        b = ex.alias("b")
        inter = (
            a.join(b, (F.col("a.sh") == F.col("b.sh"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    return _jaccard_from_intersections(inter, sizes, threshold,
                                       extra_cols=("n_common",))


def minhash_signatures(
    spark: SparkSession, sf_dir: str, num_hashes: int = 64,
    portable_hash: bool = False,
) -> DataFrame:
    """MinHash signatures: ``sig[i] = min over shingles of
    xxhash64(i, shingle)``.

    Shape: hash each shingle once, explode the seed dimension, one
    map-side-combined ``min`` aggregate keyed (doc_id, seed), regroup
    to the array — see ``_signatures_from_stream`` for why this beats
    the former 64-separate-aggregates plan by ~30% on well-partitioned
    inputs with bit-identical output.  (A nested array-lambda formulation is ~100x slower:
    higher-order functions run interpreted and re-evaluate the hash
    per seed.)

    Session-cached per (corpus, fingerprint, num_hashes, hash family)
    like the shingle stream it derives from (constant-size per doc: 64
    longs — far smaller than the stream itself)."""
    def build(_fp: str) -> DataFrame:
        base_hash = seed_hash = None
        if portable_hash:
            base_hash, seed_hash, _ = portable_hash_family()
        return _signatures_from_stream(
            _shingle_stream(spark, sf_dir), num_hashes,
            base_hash=base_hash, seed_hash=seed_hash).localCheckpoint()

    return session_cache.get(
        spark, sf_dir, "documents",
        ("minhash", num_hashes, "md5" if portable_hash else "xx"), build)


def _signatures_from_stream(
    stream: DataFrame, num_hashes: int,
    base_hash=None, seed_hash=None,
) -> DataFrame:
    # hash the (variable-length) shingle string once; the per-seed
    # hashes then run over a fixed 8-byte long — ~20x cheaper than
    # re-hashing the string per seed.  ``base_hash(col_name)`` /
    # ``seed_hash(seed_col)`` (Column factories; the seed factory
    # reads the INT seed column named ``seed_col`` plus ``h0``) swap
    # the hash family — the portable md5 oracle dial routes through
    # HERE so the signature STRUCTURE can never fork from production;
    # defaults are the exact historical xxhash64 expressions.
    #
    # Plan shape (r10): explode the seed dimension into ROWS and run
    # ONE min aggregate keyed (doc_id, i), then regroup to the
    # signature array.  The former 64-separate-min-aggregates
    # formulation never entered whole-stage codegen (64 aggregate
    # functions) and evaluated 64 interpreted hash exprs per shingle
    # row in the agg update path — -30% on well-partitioned batch
    # inputs (0.97 -> 0.74 s signature stage at sf0.1 batch sizes);
    # neutral inside the one-file-per-trigger streaming pipeline,
    # whose per-batch fixed costs dominate (SCALE.md sign-stage
    # section).  Output is BIT-IDENTICAL
    # (xxhash64 of an INT column equals xxhash64 of the same INT
    # literal; parity pinned by tests/test_r10_entries.py).  Both
    # aggregates combine map-side, so shuffle volume stays
    # ~num_hashes longs per doc either way; seeds explode AFTER the
    # base hash, so the string is still hashed once.
    h0 = base_hash("sh") if base_hash else F.xxhash64("sh")
    ex = stream.select("doc_id", h0.alias("h0"))
    mk = seed_hash or (lambda c: F.xxhash64(F.col(c), F.col("h0")))
    seeded = ex.select(
        "doc_id",
        F.explode(F.expr(f"sequence(0, {num_hashes - 1})")).alias("i"),
        "h0",
    )
    mins = seeded.groupBy("doc_id", "i").agg(F.min(mk("i")).alias("mh"))
    return (
        mins.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("i", "mh"))).alias("s"))
        .select("doc_id", F.expr("transform(s, x -> x.mh)").alias("sig"))
    )


def _bucket_candidate_pairs(
    buckets: DataFrame, max_bucket_size: Optional[int]
) -> DataFrame:
    """LSH bucket memberships ``(doc_id, band, h)`` -> distinct
    candidate ``(doc_a, doc_b)`` pairs — the hot-bucket-capped
    expansion SHARED by the batch LSH operators (minhash + simhash).

    A bucket with m members emits ~m^2/2 candidates under the naive
    membership self-join; boilerplate content makes m unbounded at
    corpus scale, so the candidate stage must be bounded even though
    pair OUTPUT is inherently quadratic in duplicate-set size
    (``minhash_cluster_keep`` is the linear production path — see its
    docstring).  Same skew guard as ``near_dup_jaccard``'s
    row_number truncation, with one semantic difference: here
    oversized buckets are TRUNCATED, not dropped — LSH bucket
    membership is a similarity signal (unlike a high-df shingle, which
    is noise), so the cap keeps each bucket's ``max_bucket_size``
    smallest doc_ids and their pairs instead of forfeiting the bucket.
    Per-bucket candidate emission is bounded at cap^2/2 pairs.

    Plan shape: truncate membership FIRST (``_truncate_buckets`` — a
    row_number window on the same (band, h) key the join shuffles on),
    then the membership self-join.  Pair generation stays inside the
    join's codegen inner loop — measured 3-4x faster at sf0.1 than a
    collect_list + double-explode formulation of the same semantics,
    whose intermediate rows each carry the full bucket array (cap
    longs) per exploded member.  ``max_bucket_size=None`` skips the
    window (exact at any duplicate structure — the small-fixture /
    oracle-anchor path).  Capped coverage is AUDITABLE, not silent:
    ``lsh_bucket_overflow`` reports every bucket past the cap with its
    population (SCALE.md "no silent caps" rule).
    """
    buckets = _truncate_buckets(buckets, max_bucket_size)
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.h") == F.col("b.h"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _truncate_buckets(
    buckets: DataFrame, max_bucket_size: Optional[int]
) -> DataFrame:
    """Keep each (band, h) bucket's ``max_bucket_size`` smallest
    doc_ids (extra columns ride along); ``None`` is a no-op.

    Adaptive two-path plan: a windowed sort of ALL memberships costs a
    full shuffle+sort even when no bucket is hot (measured +0.3 s on
    the sf0.1 minhash line — ~30% of the operator — for a fixture with
    ZERO overflowing buckets).  Instead, one map-side-combined count
    aggregate materializes the hot (band, h) keys (provably
    <= rows/cap of them, in practice a handful of boilerplate
    buckets).  No overflow — the common case — returns the input plan
    untouched: the cap then costs one small counting job and nothing
    in the candidate stage.  With overflow, cold memberships pass
    through a broadcast anti-join and only the hot rows pay the
    row_number sort, whose windows the same broadcast semi-join
    bounds.  The hot-key frame is bounded by construction, so the
    broadcast is safe at any corpus size."""
    if max_bucket_size is None:
        return buckets
    if max_bucket_size < 2:
        raise ValueError(
            f"max_bucket_size={max_bucket_size} cannot form pairs — "
            "need >= 2 (or None for the uncapped plan)"
        )
    from pyspark.sql.window import Window

    hot = (
        buckets.groupBy("band", "h")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .where(F.col("n_members") > max_bucket_size)
        .select("band", "h")
        .localCheckpoint()
    )
    if not hot.take(1):
        return buckets
    cold = buckets.join(F.broadcast(hot), ["band", "h"], "left_anti")
    w = Window.partitionBy("band", "h").orderBy("doc_id")
    truncated_hot = (
        buckets.join(F.broadcast(hot), ["band", "h"], "left_semi")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= max_bucket_size)
        .drop("rn")
    )
    return cold.unionByName(truncated_hot)


def _cached_truncated_buckets(
    spark: SparkSession, sf_dir: str, params: tuple, build
) -> DataFrame:
    """Session-cached materialization of a truncated bucket-membership
    frame.  The capped bucket table IS the batch LSH index (the
    streaming ingest filter persists the same structure on disk):
    banding + hot-bucket truncation are corpus-level, query-independent
    work, so one materialization serves every candidate join in the
    session — without it each query re-paid the truncation's
    count/sort pass (~30% of the sf0.1 minhash line).  ``params``
    distinguishes the banding scheme + dials; ``build`` constructs the
    lazy frame on a miss."""
    return session_cache.get(
        spark, sf_dir, "documents", ("buckets", *params),
        lambda _fp: build().localCheckpoint())


def lsh_bucket_overflow(
    buckets: DataFrame, max_bucket_size: int
) -> DataFrame:
    """Buckets whose population exceeds the candidate-expansion cap —
    ``(band, h, n_members, n_beyond_cap)``, the audit twin of
    ``_bucket_candidate_pairs`` (no silent caps: a pipeline owner
    reads this to decide between raising the cap and routing the hot
    content through ``minhash_cluster_keep``).  One count aggregate on
    the same (band, h) key — no pair expansion."""
    return (
        buckets.groupBy("band", "h")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .where(F.col("n_members") > max_bucket_size)
        .withColumn("n_beyond_cap", F.col("n_members") - max_bucket_size)
        .orderBy(F.desc("n_members"), "band", "h")
    )


def minhash_lsh_near_dups(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.4,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket_size: Optional[int] = 1000,
    portable_hash: bool = False,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs, exact-verified.

    banding: 16 bands x 4 rows -> candidate recall ~ 1-(1-j^4)^16;
    candidates bucket-join on (band, band-hash); exact trigram Jaccard
    verifies each candidate, so output precision is exact (recall is
    probabilistic — the scale/accuracy dial).

    ``max_bucket_size`` caps per-bucket candidate expansion (see
    ``_bucket_candidate_pairs``): a (band, h) bucket keeps pairs among
    its cap smallest doc_ids only, bounding the stage at cap^2/2 pairs
    per bucket where the old membership self-join was quadratic in
    bucket population.  The default (1000) exceeds every fixture's
    duplicate-set size, so small-scale results are identical to the
    uncapped plan (``None``); audit overflow with
    ``lsh_bucket_overflow``.

    ``portable_hash=True`` runs the identical pipeline under the
    md5-derived ``PORTABLE_H64`` family (``portable_hash_family``)
    so a DuckDB oracle can recompute the whole operator — signatures,
    banding, candidates, exact verification — in SQL (the r9
    streaming-ingest-filter conversion technique); production keeps
    xxhash64.
    """
    # the shingle stream arrives materialized (and session-cached) —
    # signatures and exact verification both reuse its checkpoint
    # blocks instead of re-tokenizing the corpus three times
    stream = _shingle_stream(spark, sf_dir)
    # the truncated bucket table is the LSH index: session-cached so
    # repeat queries pay only the candidate join + verify
    buckets = minhash_bucket_index(
        spark, sf_dir, num_hashes, bands, max_bucket_size,
        portable_hash=portable_hash)
    candidates = _bucket_candidate_pairs(buckets, None)
    # exact verification restricted to candidate docs: semi-filter the
    # shingle stream to candidate ids, count common shingles per
    # candidate pair.  No broadcast hints — candidate cardinality grows
    # with the corpus (unlike the fixed-size query/centroid sets in
    # similarity.py), so AQE picks broadcast only while the sets
    # actually fit
    sizes = _shingle_sizes(stream)
    docs_a = candidates.select(F.col("doc_a").alias("doc_id")).distinct()
    docs_b = candidates.select(F.col("doc_b").alias("doc_id")).distinct()
    exa = stream.join(docs_a, "doc_id").select(
        F.col("doc_id").alias("doc_a"), "sh"
    )
    exb = stream.join(docs_b, "doc_id").select(
        F.col("doc_id").alias("doc_b"), "sh"
    )
    inter = (
        exa.join(exb, "sh")
        .join(candidates, ["doc_a", "doc_b"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return _jaccard_from_intersections(inter, sizes, threshold)


def simhash_signatures(
    spark: SparkSession, sf_dir: str, portable_hash: bool = False,
) -> DataFrame:
    """64-bit SimHash per document: each token votes ±1 on each bit of
    its xxhash64; the signature is the sign vector.

    Shape: explode tokens, hash each once, then 64 codegen'd
    ``sum((h >> j) & 1)`` aggregates in one groupBy (bit j is set iff
    set-bit count exceeds half the tokens).  One shuffle on doc_id
    with map-side combine.  Session-cached per (corpus, fingerprint,
    hash family) — one long per doc.

    ``portable_hash=True`` derives the per-token hash from md5
    (``PORTABLE_H64``) so the whole signature — and therefore the
    banded candidate join and the Hamming verify — is recomputable by
    the DuckDB oracle.  The portable hash is 60-bit (top 60 bits of
    md5 as a positive bigint), so signature bits 60-63 never vote set
    under it — pure integer vote counting either way, no cross-engine
    hazard."""
    return session_cache.get(
        spark, sf_dir, "documents",
        ("simhash", "md5" if portable_hash else "xx"),
        lambda _fp: _simhash_of(
            load(spark, sf_dir, "documents"), portable_hash
        ).localCheckpoint())


def _simhash_of(docs: DataFrame, portable_hash: bool) -> DataFrame:
    # signature over the first 32767 tokens: the packed 15-bit lanes
    # below cap per-lane counts at 32767 — beyond that the top lane's
    # sum would cross the sign bit (ANSI overflow).  A 32k-token prefix
    # is a faithful near-dup fingerprint; extremely long docs should be
    # chunked upstream anyway (chunk_documents).
    tok_hash = (F.expr(PORTABLE_H64.format(x="tok")) if portable_hash
                else F.xxhash64("tok"))
    ex = (
        docs.select("doc_id",
                    F.explode(F.expr(f"slice({TOKENS}, 1, 32767)"))
                    .alias("tok"))
        .select("doc_id", tok_hash.alias("h"))
    )
    # pack 4 x 15-bit bit-counters per 64-bit sum -> 16 aggregates
    # instead of 64 (~6x faster agg).  15-bit lanes (offsets 0/15/30/45)
    # keep the max accumulated value at bit 59 — 16-bit lanes put lane
    # 3's counter at bits 48..63 and overflowed signed long at 32768
    # set-bit counts.
    aggs = []
    for gidx in range(16):
        lanes = " + ".join(
            f"(shiftleft(shiftright(h, {4 * gidx + k}) & 1, {15 * k}))"
            for k in range(4)
        )
        aggs.append(F.sum(F.expr(lanes)).alias(f"p{gidx}"))
    aggs.append(F.count(F.lit(1)).alias("n_tok"))
    g = ex.groupBy("doc_id").agg(*aggs)
    sig = " | ".join(
        f"(CASE WHEN 2 * (shiftright(p{gidx}, {15 * k}) & 32767) > n_tok "
        f"THEN shiftleft(1L, {4 * gidx + k}) ELSE 0L END)"
        for gidx in range(16)
        for k in range(4)
    )
    return g.select("doc_id", F.expr(sig).alias("simhash"))


def simhash_bucket_index(
    spark: SparkSession, sf_dir: str, max_hamming: int = 8,
    max_bucket_size: Optional[int] = 1000,
    portable_hash: bool = False,
) -> DataFrame:
    """Truncated SimHash banding index ``(doc_id, simhash, band, h)``,
    session-cached (see ``_cached_truncated_buckets``): ``max_hamming + 1``
    bands partition the 64 bits so any pair within the Hamming bound
    collides in at least one band (pigeonhole — the exactness argument
    in ``simhash_near_dups``).  Built once per (corpus, dials); batch
    queries and audits share it."""
    if not 0 <= max_hamming < 64:
        raise ValueError(f"max_hamming={max_hamming} out of [0, 64)")
    n_bands = max_hamming + 1
    base, rem = divmod(64, n_bands)
    offsets = []
    off = 0
    for b in range(n_bands):
        width = base + (1 if b < rem else 0)
        offsets.append((b, off, width))
        off += width
    chunks = ", ".join(
        f"named_struct('band', {b}, 'chunk', "
        + (f"shiftright(simhash, {off}) & {(1 << width) - 1}L)"
           if width < 64 else "simhash)")  # 2^64-1 overflows a long literal
        for b, off, width in offsets
    )
    sigs = simhash_signatures(spark, sf_dir, portable_hash=portable_hash)
    return _cached_truncated_buckets(
        spark, sf_dir,
        ("simhash", max_hamming, max_bucket_size,
         "md5" if portable_hash else "xx"),
        lambda: _truncate_buckets(
            sigs.select(
                "doc_id", "simhash",
                F.explode(F.expr(f"array({chunks})")).alias("bc"),
            ).select("doc_id", "simhash", F.col("bc.band").alias("band"),
                     F.col("bc.chunk").alias("h")),
            max_bucket_size,
        ),
    )


def minhash_bucket_index(
    spark: SparkSession, sf_dir: str, num_hashes: int = 64,
    bands: int = 16, max_bucket_size: Optional[int] = 1000,
    portable_hash: bool = False,
) -> DataFrame:
    """Truncated MinHash LSH bucket index ``(doc_id, band, h)``,
    session-cached (see ``_cached_truncated_buckets``); the batch twin of the
    streaming ingest filter's persisted bucket table.
    ``portable_hash=True`` builds the index under the md5-derived
    ``PORTABLE_H64`` family (same structure, cross-engine
    recomputable — the oracle dial); the cache key carries the
    family so the two indexes never alias."""
    sigs = minhash_signatures(
        spark, sf_dir, num_hashes, portable_hash=portable_hash)
    hash_sql = (portable_hash_family()[2] if portable_hash
                else "xxhash64({x})")
    return _cached_truncated_buckets(
        spark, sf_dir,
        ("minhash", num_hashes, bands, max_bucket_size,
         "md5" if portable_hash else "xx"),
        lambda: _truncate_buckets(
            band_buckets(sigs, num_hashes, bands, hash_sql=hash_sql),
            max_bucket_size),
    )


def simhash_near_dups(
    spark: SparkSession, sf_dir: str, max_hamming: int = 8,
    max_bucket_size: Optional[int] = 1000,
    portable_hash: bool = False,
) -> DataFrame:
    """Hamming-neighbor pairs via banded join + exact popcount verify.

    The band count DERIVES from ``max_hamming``: with
    ``max_hamming + 1`` bands partitioning the 64 bits, a pair within
    the distance bound cannot touch every band (pigeonhole), so at
    least one band collides and the pair becomes a candidate — the
    output is EXACT for the bound, not best-effort.  (A fixed 4-band
    scheme only guaranteed distance <= 3 while the default bound was
    8: pairs at distance 4-8 spread across all four bands were
    silently missed.)  More bands mean narrower chunks and more
    candidates — the usual recall-guarantee/cost trade, here resolved
    in favor of the contract.

    The popcount verify runs INLINE on the join output, BEFORE the
    pair ``distinct``: at sf0.1 the 9-band join emits ~10.6M raw
    candidates but only ~91k pairs survive the Hamming bound, so
    filtering first keeps the 10M in one codegen pipeline (join ->
    bit_count -> filter, no exchange) and the distinct shuffles only
    survivors x band-multiplicity rows.  r6's plan distinct'd all ~7M
    distinct candidates (widened by both 64-bit sigs) before
    filtering — that exchange was the 3.3x bench regression
    (1.63 s -> ~0.6 s reclaimed here).

    ``max_bucket_size`` caps per-(band, chunk) bucket membership
    before the join (``_truncate_buckets``): a bucket keeps pairs
    among its cap smallest doc_ids.  NB the exactness guarantee is
    conditional on no CONTRIBUTING bucket overflowing the cap —
    chunks are only ~64/(max_hamming+1) bits wide, so at corpus scale
    hot chunk values WILL overflow and pairs entirely beyond the
    truncation point are not enumerated (their membership is quadratic
    output by definition; route them through
    ``minhash_cluster_keep``).  Audit with ``lsh_bucket_overflow``;
    ``None`` restores the unconditional plan."""
    # portable_hash=True signs under the md5-derived PORTABLE_H64
    # token hash (integer vote counting — exactly cross-engine) so
    # the DuckDB oracle recomputes signatures, banding, candidates,
    # and the popcount verify in SQL
    banded = simhash_bucket_index(spark, sf_dir, max_hamming,
                                  max_bucket_size,
                                  portable_hash=portable_hash)
    # r15 optimization: GROUPED pair expansion replaces the bucket
    # self-join (the fuzzy_self_join rewrite — one groupBy Exchange on
    # the bucket key instead of two join-side Exchanges + sort-merge
    # sorts).  Single-member buckets die before any pair exists; the
    # surviving buckets expand i x j map-side via chained explodes.
    # Per-bucket memory is O(bucket size), already bounded by the
    # ``max_bucket_size`` truncation in the bucket index.  Output is
    # identical: same candidate set, same inline bit_count verify,
    # same distinct.
    buckets = (
        banded.groupBy("band", "h")
        .agg(F.collect_list(F.struct("doc_id", "simhash")).alias("ms"))
        .where(F.size("ms") >= 2)
    )
    return (
        buckets
        .select(F.explode("ms").alias("a"), F.col("ms"))
        .select("a", F.explode("ms").alias("b"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        # verify inline, pre-distinct: explode output -> bit_count ->
        # filter is one codegen pipeline with no exchange in between
        .withColumn("hamming",
                    F.bit_count(F.expr("a.simhash ^ b.simhash")))
        .where(F.col("hamming") <= max_hamming)
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"), "hamming")
        .distinct()
    )


def winnow_fingerprints(
    spark: SparkSession, sf_dir: str, k: int = 5, window: int = 4
) -> DataFrame:
    """Winnowed k-gram document fingerprints (Schleimer, Wilkerson &
    Aiken 2003 — the MOSS algorithm): hash every k-token gram, slide a
    ``window``-wide frame over the gram-hash sequence, and select each
    frame's MINIMUM hash.  The winnowing guarantee: any shared token
    run of length >= k + window - 1 produces at least one COMMON
    selected fingerprint in both documents — the substring-level dedup
    signal (Lee et al. 2022 showed repeated spans, not just whole-doc
    dups, degrade LM training), at ~1/window the fingerprint density
    of exhaustive k-gram hashing.

    Output: distinct ``(doc_id, fp)`` selected fingerprints.  The fp
    is ``md5`` of the space-joined gram — deterministic and
    engine-portable, so the driver's DuckDB oracle reproduces it
    byte-for-byte (unlike seed-dependent xxhash sketches, this entry
    IS oracle-backed).

    Plan shape (r15 optimization — was posexplode + two doc-keyed
    windows + distinct, i.e. one full token-stream Exchange plus a
    second (doc_id, fp) Exchange): the gram hashes AND the sliding
    frame minima are built in the ARRAY domain of each document row
    (single-level ``transform`` lambdas over the bound token array —
    bound once per row; multiple references block Catalyst projection
    collapse, so the tokenizer regex runs once per doc, not per
    gram), and per-doc ``array_distinct`` IS the (doc_id, fp)
    distinct.  ZERO Exchanges: the whole operator is map + explode,
    so at corpus scale no token ever crosses the network.  The output
    row set is bit-identical to the window formulation (same md5
    grams, same frame minima, same truncated-frame rule — A/B'd
    exhaustively at sf0.1).  Docs shorter than k tokens
    emit nothing; docs with fewer than ``window`` grams winnow their
    single truncated frame (the standard short-document variant), so
    every fingerprintable doc yields at least one selection."""
    if k < 1 or window < 1:
        raise ValueError(f"k={k} and window={window} must be >= 1")
    from .relational import widen_for_compute

    # r16 (guide §2.5): the tokenizer+md5 HOF pipeline below is
    # interpreted and orders of magnitude heavier than the scan — a
    # single-row-group corpus file would pin it to ONE task
    docs = widen_for_compute(load(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.expr(TOKENS).alias("t"))
    grams = toks.select(
        "doc_id",
        F.expr(
            f"CASE WHEN size(t) >= {k} THEN "
            f"transform(sequence(1, size(t) - {k} + 1), "
            f"i -> md5(concat_ws(' ', slice(t, i, {k})))) "
            "ELSE array() END"
        ).alias("g"),
    )
    # frame minima: positions 1..max(n_grams-window, 0)+1 (full frames
    # plus the single truncated frame of a short doc); empty gram
    # arrays must short-circuit or array_min(slice([], ...)) would
    # fabricate a NULL fingerprint row
    return grams.select(
        "doc_id",
        F.explode(F.expr(
            f"CASE WHEN size(g) >= 1 THEN "
            f"array_distinct(transform("
            f"sequence(1, greatest(size(g) - {window}, 0) + 1), "
            f"i -> array_min(slice(g, i, {window})))) "
            "ELSE array() END"
        )).alias("fp"),
    )


def winnow_repeated_spans(
    spark: SparkSession, sf_dir: str, k: int = 5, window: int = 4
) -> DataFrame:
    """Cross-document repeated spans: winnowed fingerprints shared by
    >= 2 documents — ``(fp, n_docs, min_doc_id)``.

    This is the aggregate (linear) form: a fingerprint in d documents
    costs d rows through one fp-keyed count — never the d^2/2 pairs a
    span-pair join would emit on boilerplate, the same no-pair-blowup
    rule as the LSH bucket caps and the ingest filter.  A consumer
    that needs the actual documents joins ``winnow_fingerprints`` back
    on fp (bounded per-fp by construction if it truncates like
    `_truncate_buckets`)."""
    fps = winnow_fingerprints(spark, sf_dir, k, window)
    return (
        fps.groupBy("fp")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .where(F.col("n_docs") >= 2)
    )


def winnow_doc_repetition(
    spark: SparkSession, sf_dir: str, k: int = 5, window: int = 4
) -> DataFrame:
    """Per-document cross-corpus repetition score:
    ``(doc_id, n_fps, n_repeated, repeated_frac)`` where
    ``repeated_frac`` is the fraction of the doc's winnowed
    fingerprints that appear in at least one OTHER document — the
    boilerplate-document filter signal (a page that is mostly
    templated/navigation text scores near 1 even when no single whole
    document duplicates it; `repetition_quality` catches only
    WITHIN-doc repetition).

    Plan: fingerprints aggregate to corpus df on fp (linear), then one
    broadcast-eligible join back to the per-doc fingerprint stream and
    a doc-keyed count — no pair expansion anywhere, so a fingerprint
    shared by a million docs costs a million rows, not a million
    squared.  Oracle-backed like the other winnowing entries (md5
    fingerprints are engine-portable)."""
    # the fingerprint stream feeds both the corpus-df aggregate and the
    # join probe side — materialize the interpreted map pipeline once
    # (eager; same multi-consumer rule as duplicate_components, r15
    # guide §2.4/§4)
    fps = winnow_fingerprints(spark, sf_dir, k, window).localCheckpoint()
    df = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("fp_docs"))
    return (
        fps.join(df, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fps"),
            F.sum((F.col("fp_docs") >= 2).cast("long")).alias("n_repeated"),
        )
        .withColumn(
            "repeated_frac",
            (F.col("n_repeated") / F.col("n_fps")).cast("double"),
        )
    )


def strip_repeated_spans(
    spark: SparkSession, sf_dir: str, k: int = 5, min_docs: int = 2
) -> DataFrame:
    """Remove corpus-repeated token runs from every document — the
    substring-dedup TRANSFORM (Lee et al. 2022 drop repeated spans
    from training data; ``winnow_*`` only flags them).  A token is
    removed iff some k-gram covering it appears in >= ``min_docs``
    distinct documents.  Output per doc:
    ``(doc_id, n_tokens, n_removed, clean_text)`` where ``clean_text``
    is the surviving NORMALIZED token sequence in original order (the
    operator works on the tokenized stream, like every text op here —
    raw-byte reconstruction is a rendering concern, not a dedup one).

    Exhaustive k-grams (not winnowed): removal needs exact span
    coverage, and the cost stays linear — gram stream ~= token stream,
    one fp-keyed distinct-doc count, one positions explode bounded by
    k x repeated grams.  No pair expansion: a million-doc boilerplate
    fp costs a million gram rows through the count, never pairs.
    md5 fingerprints keep the entry oracle-backed.

    r15 optimization (results bit-identical): the corpus tokenizes
    ONCE into a checkpointed per-doc token array (one row per doc —
    a far smaller materialization than the old exploded token
    stream); grams build map-side in the array domain (posexplode of
    a ``transform`` over the bound array — was a doc-keyed ``lead``
    window, i.e. a full token-stream Exchange + sort); per-doc token
    totals come from ``size(t)`` (was a second token-stream groupBy
    Exchange); and the covered-positions stream feeds the anti-join
    WITHOUT a distinct (left-anti semantics ignore right-side
    duplicates — was another Exchange + aggregate).  Net: 3 fewer
    Exchanges and one sort removed from the plan.  The gram stream
    itself is checkpointed so its interpreted md5 transform runs
    once, not once per consumer."""
    if k < 1:
        raise ValueError(f"k={k} must be >= 1")
    from .relational import widen_for_compute

    # r16 (guide §2.5): parallelize the interpreted tokenizer + gram
    # md5 transform past a single-row-group scan's one task
    docs = widen_for_compute(load(spark, sf_dir, "documents"))
    # tokenize once; feeds grams, the reconstruction AND the totals
    toks = docs.select(
        "doc_id", F.expr(TOKENS).alias("t")
    ).localCheckpoint()
    ex = toks.select("doc_id", F.posexplode("t").alias("pos", "tok"))
    grams = toks.select(
        "doc_id",
        F.posexplode(F.expr(
            f"CASE WHEN size(t) >= {k} THEN "
            f"transform(sequence(1, size(t) - {k} + 1), "
            f"i -> md5(concat_ws(' ', slice(t, i, {k})))) "
            "ELSE array() END"
        )).alias("pos", "fp"),
        # checkpointed: TWO consumers (the hot-fp count and the
        # covered-positions join) read the gram stream, and the
        # md5-over-slices transform is a higher-order function —
        # interpreted, not codegen'd — so re-deriving it per consumer
        # doubles the most expensive map stage (A/B: 2.4 s
        # re-derived vs 1.9 s checkpointed; the pre-r15 window
        # formulation read 1.9-2.5 s with two extra Exchanges)
    ).localCheckpoint(eager=False)
    hot = (
        grams.groupBy("fp")
        .agg(F.countDistinct("doc_id").alias("fp_docs"))
        .where(F.col("fp_docs") >= min_docs)
        .select("fp")
    )
    covered = (
        grams.join(hot, "fp")
        .select("doc_id",
                F.explode(F.expr(f"sequence(pos, pos + {k - 1})"))
                .alias("pos"))
    )
    kept = ex.join(covered, ["doc_id", "pos"], "left_anti")
    clean = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.expr("transform(array_sort(collect_list(struct(pos, tok))), "
                   "p -> p.tok)"),
        ).alias("clean_text"),
    )
    # the old totals aggregated the EXPLODED stream, so zero-token
    # docs had no row and were absent from the output — keep that
    totals = toks.select(
        "doc_id", F.size("t").cast("long").alias("n_tokens")
    ).where(F.col("n_tokens") > 0)
    return (
        totals.join(clean, "doc_id", "left")
        .select(
            "doc_id", "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def minhash_buckets(
    spark: SparkSession, sf_dir: str, num_hashes: int = 64,
    bands: int = 16, portable_hash: bool = False,
) -> DataFrame:
    """(doc_id, band, h) LSH bucket memberships."""
    sigs = minhash_signatures(spark, sf_dir, num_hashes,
                              portable_hash=portable_hash)
    hash_sql = (portable_hash_family()[2] if portable_hash
                else "xxhash64({x})")
    return band_buckets(sigs, num_hashes, bands, hash_sql=hash_sql)


def minhash_cluster_keep(
    spark: SparkSession, sf_dir: str,
    num_hashes: int = 64, bands: int = 16,
    iterations: Optional[int] = None, max_iterations: int = 50,
    portable_hash: bool = False,
) -> DataFrame:
    """Cluster-level dedup without pairwise blowup.

    Emitting all near-duplicate *pairs* is quadratic in duplicate-set
    size (a 20-copy document contributes 190 pairs); production dedup
    wants one surviving representative per cluster.  This runs
    min-label propagation over the bipartite doc<->LSH-bucket graph:
    each round, a bucket takes its members' min label and docs take
    their buckets' min.  Cost per round is O(docs x bands),
    independent of duplicate-set sizes.

    Propagation runs TO CONVERGENCE by default (labels only decrease,
    so an unchanged label sum means a fixed point): a duplicate CHAIN
    with graph diameter d needs ~d/2 rounds, and stopping early left
    far components carrying a non-representative label — a cluster
    with no ``keep=True`` member, i.e. documents silently dropped by
    any keep-filtering consumer.  ``iterations`` pins an exact round
    count (testing); exhausting ``max_iterations`` before the
    fixpoint raises ``graph.ComponentConvergenceError`` (r7) instead
    of returning exactly that silent-drop shape.

    Documents too short to shingle (< 3 tokens) carry no LSH evidence
    and come back as singleton clusters with ``keep=True`` — exact
    dedup upstream is responsible for byte-identical short docs.

    Returns (doc_id, cluster_id, keep) covering EVERY document.
    ``portable_hash=True`` swaps in the md5-derived ``PORTABLE_H64``
    family so the bucket graph — and therefore the components — is
    recomputable by the DuckDB oracle (recursive-CTE propagation).
    """
    from .graph import bipartite_components

    # materialize bucket memberships once — the iteration would
    # otherwise recompute the whole signature pipeline per round
    buckets = minhash_buckets(
        spark, sf_dir, num_hashes, bands,
        portable_hash=portable_hash).localCheckpoint()
    # buckets is distinct (doc_id, band, h) by construction and just
    # materialized -> prepared membership (no re-distinct shuffle)
    labels = bipartite_components(
        buckets, "doc_id", ("band", "h"),
        iterations=iterations, max_iterations=max_iterations,
        prepared=True,
    )
    # total coverage: docs without buckets (unshingleable) join back as
    # their own singleton clusters instead of vanishing from the output
    all_docs = load(spark, sf_dir, "documents").select("doc_id")
    return all_docs.join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce("component", F.col("doc_id")).alias("cluster_id"),
        (F.coalesce("component", F.col("doc_id")) == F.col("doc_id")).alias("keep"),
    )


def ppjoin_near_dups(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.4,
    max_prefix_df: Optional[int] = 1000,
) -> DataFrame:
    """Exact word-trigram Jaccard near-duplicate pairs via PREFIX
    FILTERING (the PPJoin family — Xiao, Wang, Lin & Yuan 2011):
    bit-for-bit the same output contract as ``near_dup_jaccard``, at a
    candidate cost that scales with RARE-shingle co-occurrence instead
    of every shared shingle.

    Prefix principle: order every document's shingles by ascending
    corpus document-frequency (rarest first; ties on the shingle).  If
    ``J(a, b) >= t`` then a and b MUST share at least one shingle
    inside their prefixes of length ``n - ceil(t * n) + 1`` — so the
    candidate self-join runs only on the prefix stream, roughly a
    ``(1 - t/(1+t))`` fraction of the corpus shingle volume, and the
    shingles it joins on are by construction the LOW-df ones.  The
    boilerplate shingles that dominate ``near_dup_jaccard``'s shared-
    shingle expansion (df in the millions at 100 TB, zero signal) sort
    to the END of every ordering and almost never enter a prefix.
    Size filter ``t * |b| <= |a| <= |b| / t`` prunes candidates before
    verification (J >= t bounds the size ratio).

    Verification is exact: candidate pairs (distinct, already
    size-filtered) rejoin the full shingle stream on (doc, shingle) to
    count true intersections, then the shared
    ``_jaccard_from_intersections`` epilogue thresholds — output
    equals ``near_dup_jaccard(threshold)`` exactly, so the entry
    shares its DuckDB oracle.

    ``max_prefix_df`` is the same scale guard the LSH family carries:
    a prefix bucket can only reach size d when a df=d shingle lands in
    d prefixes (possible only if EVERY holder has it in-prefix), so
    buckets are inherently rare-shingle-small; the cap drops
    join-side rows of any pathological hotter bucket (> cap holders)
    — those shingles still count in verification, and at the default
    (1000, above the whole sf0.01 corpus df) the plan is exact for the
    oracle.  Candidate emission is bounded at O(sum_prefix min(df,
    cap)^2); verification cost is O(sum_cand |a| + |b|), driven by the
    true-near-dup density, not the boilerplate density.
    """
    from pyspark.sql.window import Window

    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold={threshold} must be in (0, 1]")
    ex = _shingle_stream(spark, sf_dir)
    sizes = _shingle_sizes(ex)

    dfreq = ex.groupBy("sh").agg(F.count(F.lit(1)).alias("sh_df"))
    rk = Window.partitionBy("doc_id").orderBy(F.asc("sh_df"), F.asc("sh"))
    ranked = (
        ex.join(dfreq, "sh")
        .withColumn("rnk", F.row_number().over(rk))
        .join(sizes, "doc_id")
        # prefix length n - ceil(t*n) + 1.  The 1e-9 backs out float
        # inflation: 0.4 * 15 = 6.0000000000000003 in IEEE, and
        # ceil'ing that to 7 would SHORTEN the prefix and silently
        # drop pairs — exactness depends on the true rational ceil.
        .where(F.col("rnk")
               <= F.col("n_sh")
               - F.ceil(threshold * F.col("n_sh") - 1e-9) + 1)
        .select("doc_id", "sh", "n_sh", "sh_df")
    )
    if max_prefix_df is not None:
        # truncate INSIDE the window (bounded buffer even for a
        # pathological hot prefix bucket), then expand pairs GROUPED
        # (r15, the fuzzy_self_join rewrite): the groupBy reuses the
        # truncation window's (sh) partitioning, so the whole
        # candidate stage costs the ONE exchange the window already
        # paid — the old self-join added two more plus its sorts.
        # Size-ratio filter and the a < b ordering apply inline in
        # the explode pipeline; candidate set is identical.
        bw = Window.partitionBy("sh").orderBy("doc_id")
        ranked = (
            ranked.withColumn("bn", F.row_number().over(bw))
            .where(F.col("bn") <= max_prefix_df)
            .drop("bn")
        )
        grp = (
            ranked.groupBy("sh")
            .agg(F.collect_list(F.struct("doc_id", "n_sh")).alias("ms"))
            .where(F.size("ms") >= 2)
        )
        cand = (
            grp.select(F.explode("ms").alias("a"), F.col("ms"))
            .select("a", F.explode("ms").alias("b"))
            .where(
                (F.col("a.doc_id") < F.col("b.doc_id"))
                # J >= t bounds the size ratio: t*|b| <= |a| (a
                # smaller or equal side either way after the <
                # ordering); epsilon for the same float-inflation
                # reason as the prefix bound
                & (F.col("a.n_sh") >= threshold * F.col("b.n_sh") - 1e-9)
                & (F.col("b.n_sh") >= threshold * F.col("a.n_sh") - 1e-9)
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
    else:
        # exact-any-scale fallback (no cap): the self-join keeps
        # per-row state flat — no doc lists — like near_dup_jaccard's
        # uncapped path
        a = ranked.alias("a")
        b = ranked.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.sh") == F.col("b.sh"))
                & (F.col("a.doc_id") < F.col("b.doc_id"))
                & (F.col("a.n_sh") >= threshold * F.col("b.n_sh") - 1e-9)
                & (F.col("b.n_sh") >= threshold * F.col("a.n_sh") - 1e-9),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
    # exact verification: count true intersections for candidates only
    ea = ex.select(F.col("doc_id").alias("doc_a"), "sh")
    eb = ex.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (
        cand.join(ea, "doc_a")
        .join(eb, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return _jaccard_from_intersections(inter, sizes, threshold,
                                       extra_cols=("n_common",))


def line_dedup_corpus(
    spark: SparkSession,
    sf_dir: str,
    line_words: int = 8,
) -> DataFrame:
    """CCNet-style cross-document LINE dedup (Wenzek et al. 2020): hash
    every line of every document, keep only each distinct line's
    globally FIRST occurrence (ordered by (doc_id, position)), and
    reassemble documents from their surviving lines — the pass that
    strips boilerplate (headers, footers, navigation, license blocks)
    repeated across a web crawl.  Documents whose every line is a
    repeat disappear entirely (they contain no novel text).

    The synthetic corpus is single-line, so lines are derived by
    deterministic re-chunking: ``line_words``-word non-overlapping
    windows over the normalized token stream (real corpora split on
    ``\\n`` instead — the dedup skeleton downstream is identical and is
    what this operator is about).

    Scale shape (the reason this is NOT a window function): the winner
    per line is ``min(struct(doc_id, pos))`` under a ``groupBy(line)``
    — a hash aggregate with map-side partial combine, so a boilerplate
    line repeated a billion times costs one partial per input
    partition, never a billion-row sort partition the way
    ``row_number() OVER (PARTITION BY line)`` would.  The winner rows
    ARE the kept occurrences (the group key carries the text), so no
    join back is needed.  One skew-immune shuffle on the line, one
    regroup shuffle on doc_id.  Reference scope: ASML-Labs/
    dagster-delta has no corpus operators; this extends the LLM
    curation family (SURVEY §2 extension surface)."""
    if line_words < 1:
        raise ValueError(f"line_words must be >= 1, got {line_words}")
    # scan widening A/B'd here and REJECTED (r16, 6 trials: med 0.661
    # unwidened vs 0.806 widened — the full-text exchange outweighs
    # the parallelized re-chunk transform at this SF)
    docs = load(spark, sf_dir, "documents")
    w = int(line_words)
    sized = (
        docs.select("doc_id", F.expr(TOKENS).alias("t"))
        .withColumn("n", F.size("t"))
        .where(F.col("n") > 0)
        .withColumn(
            "n_lines",
            F.expr(f"CAST(ceil(n / CAST({w} AS DOUBLE)) AS BIGINT)"),
        )
    )
    lines = sized.select(
        "doc_id",
        "n_lines",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST(n_lines AS INT) - 1), "
                f"i -> array_join(slice(t, i * {w} + 1, {w}), ' '))"
            )
        ).alias("pos", "line"),
    )
    winners = lines.groupBy("line").agg(
        F.min(F.struct("doc_id", "pos", "n_lines")).alias("w")
    )
    kept = winners.select(
        F.col("w.doc_id").alias("doc_id"),
        F.col("w.pos").alias("pos"),
        F.col("w.n_lines").alias("n_lines"),
        "line",
    )
    return (
        kept.groupBy("doc_id", "n_lines")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.expr("transform(sort_array(collect_list("
                       "struct(pos, line))), x -> x.line)"),
                "\n",
            ).alias("kept_text"),
        )
        .select(
            "doc_id",
            "n_lines",
            "n_kept",
            (F.col("n_lines") - F.col("n_kept")).alias("n_dropped"),
            "kept_text",
        )
    )
