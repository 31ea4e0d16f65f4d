"""Pins for the vectorized cosine/IVF rerank DOT epilogues.

``cosine_topk``, ``ivf_ann_topk`` and ``ivf_quantized_topk``'s stage-1
scoring run in the shared Arrow-batched scorer
``similarity._pair_topk_scores`` (``mapInArrow``, preallocated ``out=``
buffers, per-batch partial top-k).  These tests pin the equivalence
contract: the vectorized path must match the exact JVM formulation
(kept here as a test-local reference) bit-for-bit — including the
degenerate inputs the generation contract normally excludes
(zero-norm vectors, NaN elements, ragged rows).  Degenerate QUERY
sets are handled when the queries collect: an empty set returns an
empty frame, a ragged one raises.
"""

import math

import pytest

from dagster_delta_spark.operators import similarity


def _write_embeddings(spark, tmp_path, rows):
    from pyspark.sql.types import (
        ArrayType, FloatType, LongType, StructField, StructType)

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", LongType()),
    ])
    df = spark.createDataFrame([(i, v, 0) for i, v in rows], schema)
    out = str(tmp_path / "embeddings.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(out)
    return str(tmp_path)


def _rows_set(df):
    return {
        (r["q_id"], r["vec_id"], r["rank"],
         None if r["cosine"] is None
         else ("nan" if math.isnan(r["cosine"]) else r["cosine"]))
        for r in df.collect()
    }


def _assert_bit_identical(new, old):
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def _cosine_topk_jvm(spark, sf_dir, k=5, n_queries=5):
    """The exact pure-JVM formulation of ``cosine_topk``: a broadcast
    query join scored by the interpreted DOT/NORM folds."""
    from pyspark.sql import functions as F

    from dagster_delta_spark.operators.relational import load
    from dagster_delta_spark.operators.similarity import (
        DOT, _topk, _with_norm)

    emb = _with_norm(load(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    dot = DOT.format(a="q_emb", b="embedding")
    scored = (
        emb.join(F.broadcast(queries), F.col("vec_id") != F.col("q_id"))
        .withColumn("cosine", F.expr(dot) / (F.col("norm") * F.col("q_norm")))
    )
    return _topk(scored, k)


def _schema(df):
    return [(f.name, f.dataType) for f in df.schema]


def test_cosine_topk_matches_jvm_on_degenerates(spark, tmp_path):
    d = 6
    rows = [
        # queries (vec_id < 5): a normal one, a zero-norm one
        # (excluded by _with_norm), and a NaN-element one (kept:
        # NaN norm passes Spark's norm > 0)
        (0, [1.0, 0.5, -0.25, 2.0, 0.0, 1.5]),
        (1, [0.0] * d),
        (2, [1.0, float("nan"), 0.0, 0.0, 0.0, 0.0]),
        # corpus: near-dup of q0, orthogonal-ish, zero vector
        # (excluded), NaN element (NaN cosine ranks FIRST), ragged row
        # (null cosine ranks LAST, enters only when candidates < k)
        (10, [1.0, 0.5, -0.25, 2.0, 0.001, 1.5]),
        (11, [0.0, 0.0, 0.0, 0.0, 1.0, -1.0]),
        (12, [0.0] * d),
        (13, [1.0, float("nan"), 0.0, 0.0, 0.0, 0.0]),
        (14, [1.0, 0.5]),
    ]
    sf_dir = _write_embeddings(spark, tmp_path, rows)
    new = similarity.cosine_topk(spark, sf_dir, k=5, n_queries=5)
    old = _cosine_topk_jvm(spark, sf_dir, k=5, n_queries=5)
    _assert_bit_identical(new, old)
    got = _rows_set(new)
    qids = {q for q, *_ in got}
    assert 1 not in qids, "zero-norm query must be excluded"
    assert 2 in qids, "NaN-norm query passes Spark's norm > 0"
    # NaN cosines rank first for q0 (vecs 2 and 13, id-asc tie-break);
    # zero-norm corpus row never appears; the ragged row enters
    # (k=5 > 4 real candidates) with a NULL cosine ranked last
    assert (0, 2, 1, "nan") in got and (0, 13, 2, "nan") in got
    assert all(v != 12 for _q, v, _r, _c in got)
    assert (0, 14, 5, None) in got


def test_cosine_topk_matches_jvm_on_testdata(spark):
    new = similarity.cosine_topk(spark, "/root/testdata/sf0.001")
    old = _cosine_topk_jvm(spark, "/root/testdata/sf0.001")
    assert new.count() > 0
    _assert_bit_identical(new, old)


def test_cosine_topk_empty_queries_return_empty(spark, tmp_path):
    rows = [(10, [1.0, 0.5]), (11, [0.5, 1.0])]  # no vec_id < 5
    sf_dir = _write_embeddings(spark, tmp_path, rows)
    new = similarity.cosine_topk(spark, sf_dir)
    old = _cosine_topk_jvm(spark, sf_dir)
    assert new.count() == 0 and old.count() == 0
    assert _schema(new) == _schema(old)


def test_cosine_topk_ragged_queries_raise(spark, tmp_path):
    rows = [(0, [1.0, 0.5, -0.25]), (1, [1.0, 0.5]),
            (10, [1.0, 1.0, 1.0])]
    sf_dir = _write_embeddings(spark, tmp_path, rows)
    with pytest.raises(ValueError, match=r"ragged query embeddings.*"
                       r"dimension 2 at vec_id \[1\].*"
                       r"dimension 3 at vec_id \[0\]"):
        similarity.cosine_topk(spark, sf_dir)


def test_ivf_topk_without_queries_return_empty(spark):
    from pyspark.sql.types import DoubleType, IntegerType, LongType

    sf = "/root/testdata/sf0.001"
    for empty in (similarity.ivf_ann_topk(spark, sf, n_queries=0),
                  similarity.ivf_pq_topk(spark, sf, n_queries=0)):
        assert empty.count() == 0
        assert _schema(empty) == [
            ("q_id", LongType()), ("vec_id", LongType()),
            ("cosine", DoubleType()), ("rank", IntegerType())]


def test_probe_map_driver_degenerate_centroids():
    """No centroids: every query probes nothing.  A centroid of another
    dimension than the queries raises, naming its cell."""
    import numpy as np

    q_ids = np.asarray([0, 1], dtype=np.int64)
    qmat = np.ones((2, 3))
    qnorms = np.sqrt(np.full(2, 3.0))
    assert similarity._probe_map_driver(
        [], q_ids, qmat, qnorms, nprobe=2) == {0: set(), 1: set()}
    cents = [{"cell": 1, "c_emb": [1.0, 0.0, 0.0], "c_norm": 1.0},
             {"cell": 2, "c_emb": [1.0, 0.0], "c_norm": 1.0}]
    with pytest.raises(ValueError, match=r"ragged centroid.*\{2: 2\}"):
        similarity._probe_map_driver(cents, q_ids, qmat, qnorms, nprobe=2)


def test_cosine_topk_plan_is_map_side(spark):
    """The pair scoring is a map-only Arrow node: no broadcast join,
    no per-pair fold — the only Exchange left is the final top-k
    window's."""
    df = similarity.cosine_topk(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "zip_with" not in plan


def test_ivf_epilogues_match_jvm_formulations(spark):
    """ivf_ann_topk and ivf_quantized_topk run the vectorized scorer;
    both must reproduce the JVM join formulations bit-for-bit on real
    data, with probe sets from the _probe_cells window (ivf_ann_topk
    ranks its probes on the driver: this pins the two identical)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from dagster_delta_spark.operators.similarity import (
        DOT, _dequantized_table, _probe_cells, _resolve_cells,
        _resolve_nprobe, _topk, ivf_assignments, ivf_train_centroids,
    )

    sf = "/root/testdata/sf0.001"
    k, n_queries, rerank = 5, 5, 50
    n_cells = _resolve_cells(spark, sf, None)
    nprobe = _resolve_nprobe(None, n_cells)
    cents = ivf_train_centroids(spark, sf, n_cells)
    assigned = ivf_assignments(spark, sf, n_cells)
    probes = _probe_cells(assigned, cents, n_queries, nprobe)

    dot = DOT.format(a="q_emb", b="embedding")
    old_ivf = _topk(
        assigned.join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != F.col("q_id"))
        .withColumn("cosine",
                    F.expr(dot) / (F.col("norm") * F.col("q_norm"))),
        k)
    new_ivf = similarity.ivf_ann_topk(spark, sf, k=k,
                                      n_queries=n_queries)
    assert new_ivf.count() > 0
    _assert_bit_identical(new_ivf, old_ivf)

    cand = assigned.select("vec_id", "cell").join(
        _dequantized_table(spark, sf), "vec_id")
    adot = DOT.format(a="q_emb", b="aemb")
    w = Window.partitionBy("q_id").orderBy(
        F.desc("acos"), F.asc("vec_id"))
    shortlist = (
        cand.join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != F.col("q_id"))
        .withColumn("acos",
                    F.expr(adot) / (F.col("anorm") * F.col("q_norm")))
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= rerank)
        .select("q_id", "vec_id", "q_emb", "q_norm"))
    old_sq8 = _topk(
        assigned.select("vec_id", "embedding", "norm")
        .join(F.broadcast(shortlist), "vec_id")
        .withColumn("cosine",
                    F.expr(dot) / (F.col("norm") * F.col("q_norm"))),
        k)
    new_sq8 = similarity.ivf_quantized_topk(
        spark, sf, k=k, n_queries=n_queries, rerank=rerank)
    assert new_sq8.count() > 0
    _assert_bit_identical(new_sq8, old_sq8)
