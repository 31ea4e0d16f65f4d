"""Pins for the vectorized ``embedding_decontaminate`` path.

The operator's scoring runs in an Arrow-batched numpy fold
(``mapInArrow``, preallocated ``out=`` buffers).  These tests pin the
equivalence contract: the vectorized path must match the exact JVM
formulation (kept here as a test-local reference) bit-for-bit —
including the degenerate inputs the generation contract normally
excludes (zero-norm vectors, NaN elements, ragged rows, null ids).
Degenerate EVAL sets are handled when the eval set collects: one with
no usable row returns an empty frame, a ragged one raises.
"""

import math

import pytest

from dagster_delta_spark.operators import similarity


def _write_embeddings(spark, tmp_path, rows):
    """Write (vec_id, embedding float32) rows the way testdata stores
    them — list<float>, the dtype the vectorized path must widen."""
    from pyspark.sql.types import (
        ArrayType, FloatType, LongType, StructField, StructType)

    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("label", LongType()),
    ])
    df = spark.createDataFrame(
        [(i, v, 0) for i, v in rows], schema)
    out = str(tmp_path / "embeddings.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(out)
    return str(tmp_path)


def _embedding_decontaminate_jvm(spark, sf_dir, threshold=0.4,
                                 eval_mod=17, eval_rem=3):
    """The exact pure-JVM formulation of ``embedding_decontaminate``:
    corpus x broadcast eval scored by the interpreted DOT/NORM folds,
    best match per corpus vector by a window."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from dagster_delta_spark.operators.relational import load
    from dagster_delta_spark.operators.similarity import DOT, _with_norm

    emb = _with_norm(load(spark, sf_dir, "embeddings"))
    ev = (
        emb.where(F.pmod(F.col("vec_id"), F.lit(eval_mod)) == eval_rem)
        .select(F.col("vec_id").alias("eval_id"),
                F.col("embedding").alias("eval_emb"),
                F.col("norm").alias("eval_norm"))
    )
    dot = DOT.format(a="embedding", b="eval_emb")
    scored = (
        emb.join(F.broadcast(ev))   # corpus x broadcast eval
        .withColumn("cosine",
                    F.expr(dot) / (F.col("norm") * F.col("eval_norm")))
        .where(F.col("cosine") >= threshold)
    )
    best = Window.partitionBy("vec_id").orderBy(
        F.desc("cosine"), F.asc("eval_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(best))
        .where(F.col("rnk") == 1)
        .select("vec_id", F.col("eval_id").alias("matched_eval_id"),
                F.round(F.col("cosine").cast("double"), 9).alias("cosine"))
    )


def _rows_set(df):
    return {
        (r["vec_id"], r["matched_eval_id"],
         None if r["cosine"] is None
         else ("nan" if math.isnan(r["cosine"]) else r["cosine"]))
        for r in df.collect()
    }


def test_vectorized_equals_jvm_on_degenerates(spark, tmp_path):
    d = 6
    rows = []
    # eval ids: vec_id % 17 == 3 -> 3, 20, 37, 54
    rows.append((3, [1.0, 0.5, -0.25, 2.0, 0.0, 1.5]))
    rows.append((20, [0.0] * d))           # zero-norm EVAL row: excluded
    rows.append((37, [-1.0, 0.5, 0.25, -2.0, 0.25, 1.5]))
    rows.append((54, [0.5, 0.5, 0.5, 0.5, 0.5, 0.5]))
    # corpus: near-dup of eval 3, orthogonal-ish, zero vector,
    # NaN element, ragged row
    rows.append((1, [1.0, 0.5, -0.25, 2.0, 0.001, 1.5]))
    rows.append((2, [0.0, 0.0, 0.0, 0.0, 1.0, -1.0]))
    rows.append((4, [0.0] * d))            # zero-norm corpus: excluded
    rows.append((5, [1.0, float("nan"), 0.0, 0.0, 0.0, 0.0]))
    rows.append((6, [1.0, 0.5]))           # ragged: can never flag
    sf_dir = _write_embeddings(spark, tmp_path, rows)

    new = similarity.embedding_decontaminate(spark, sf_dir)
    old = _embedding_decontaminate_jvm(spark, sf_dir)
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0

    got = _rows_set(new)
    flagged = {v for v, _e, _c in got}
    # the exact-self-match eval rows flag themselves at cosine 1
    assert (3, 3, 1.0) in got and (37, 37, 1.0) in got
    assert (54, 54, 1.0) in got
    # zero-norm rows excluded on both sides; ragged row never flags
    assert 4 not in flagged and 6 not in flagged
    assert all(e != 20 for _v, e, _c in got)
    # the near-dup of eval 3 flags with best match 3
    assert any(v == 1 and e == 3 for v, e, _c in got)
    # NaN cosine passes the threshold (Spark ranks NaN above all)
    assert any(v == 5 and c == "nan" for v, _e, c in got)


def test_ragged_eval_set_raises(spark, tmp_path):
    rows = [
        (3, [1.0, 0.5, -0.25]),
        (20, [1.0, 0.5]),        # ragged EVAL row
        (1, [1.0, 0.5, -0.25]),
    ]
    sf_dir = _write_embeddings(spark, tmp_path, rows)
    with pytest.raises(ValueError, match=r"ragged eval embeddings.*"
                       r"dimension 2 at vec_id \[20\].*"
                       r"dimension 3 at vec_id \[3\]"):
        similarity.embedding_decontaminate(spark, sf_dir)


def test_eval_set_without_usable_rows_returns_empty(spark, tmp_path):
    rows = [
        (3, [1.0, None, 0.0]),   # null-element EVAL row: dropped
        (20, [0.0, 0.0, 0.0]),   # zero-norm EVAL row: dropped
        (1, [1.0, 0.5, -0.25]),
        (2, [0.0, 1.0, 0.0]),
    ]
    sf_dir = _write_embeddings(spark, tmp_path, rows)
    new = similarity.embedding_decontaminate(spark, sf_dir)
    old = _embedding_decontaminate_jvm(spark, sf_dir)
    assert new.count() == 0 and old.count() == 0
    assert ([(f.name, f.dataType) for f in new.schema]
            == [(f.name, f.dataType) for f in old.schema])


def test_null_vec_id_corpus_row_is_skipped(spark, tmp_path):
    """A corpus row without a vec_id cannot be reported: it is skipped,
    and every other row is exactly the JVM formulation's."""
    rows = [
        (3, [1.0, 0.5, -0.25, 2.0]),
        (1, [1.0, 0.5, -0.25, 2.001]),
        (None, [1.0, 0.5, -0.25, 2.0]),
        (2, [0.0, 0.0, 1.0, 0.0]),
    ]
    sf_dir = _write_embeddings(spark, tmp_path, rows)
    new = similarity.embedding_decontaminate(spark, sf_dir)
    got = _rows_set(new)
    assert all(v is not None for v, _e, _c in got)
    old = _embedding_decontaminate_jvm(spark, sf_dir).where(
        "vec_id IS NOT NULL")
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
    assert (3, 3, 1.0) in got
    assert {v for v, _e, _c in got} == {1, 3}


def test_vectorized_path_has_no_exchange(spark):
    """The vectorized plan is map-only: the best-match aggregate
    happens inside the Arrow batch, so no Exchange (the JVM plan paid
    a window sort+Exchange).  Uses the real sf0.001 testdata."""
    df = similarity.embedding_decontaminate(
        spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan
