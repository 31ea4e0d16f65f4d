"""LLM data-pipeline operators: sanity + internal consistency (the
value-level correctness lives in the DuckDB oracle gate)."""

import os

import pytest

SF = "/root/testdata/sf0.001"


def test_dedup_exact_counts(spark):
    from dagster_delta_spark.operators.dedup import dedup_exact

    out = dedup_exact(spark, SF)
    rows = out.collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert sum(r["n_dups"] for r in rows) == docs.count()


def test_minhash_lsh_finds_exact_duplicates(spark, tmp_path):
    """An exact duplicate has Jaccard 1.0 -> identical signature ->
    must be found by every band."""
    import pandas as pd

    from dagster_delta_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(20).toPandas()
    dup = docs.iloc[[0]].copy()
    dup["doc_id"] = 99999
    both = pd.concat([docs, dup])
    d = tmp_path / "mini"
    d.mkdir()
    spark.createDataFrame(both).write.mode("overwrite").parquet(
        str(d / "documents.parquet")
    )
    pairs = dedup.minhash_lsh_near_dups(spark, str(d), threshold=0.9)
    found = [(r["doc_a"], r["doc_b"]) for r in pairs.collect()]
    assert (docs.iloc[0]["doc_id"], 99999) in found


def test_simhash_zero_distance_for_duplicates(spark, tmp_path):
    import pandas as pd

    from dagster_delta_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(10).toPandas()
    dup = docs.iloc[[0]].copy()
    dup["doc_id"] = 99999
    d = tmp_path / "mini"
    d.mkdir()
    spark.createDataFrame(pd.concat([docs, dup])).write.mode("overwrite").parquet(
        str(d / "documents.parquet")
    )
    out = dedup.simhash_near_dups(spark, str(d), max_hamming=0)
    found = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in out.collect()}
    assert found.get((docs.iloc[0]["doc_id"], 99999)) == 0


def test_cosine_topk_rank1_is_most_similar(spark):
    from dagster_delta_spark.operators.similarity import cosine_topk

    out = cosine_topk(spark, SF, k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["q_id"], []).append((r["rank"], r["cosine"]))
    for q, rows in by_q.items():
        rows.sort()
        cosines = [c for _, c in rows]
        assert cosines == sorted(cosines, reverse=True)
        assert all(-1.0001 <= c <= 1.0001 for c in cosines)


def test_lsh_ann_subset_of_bruteforce_corpus(spark):
    """ANN results are real corpus vectors with exact cosines."""
    from dagster_delta_spark.operators.similarity import (
        cosine_topk,
        lsh_ann_topk,
    )

    exact = {(r["q_id"], r["vec_id"]): r["cosine"]
             for r in cosine_topk(spark, SF, k=50).collect()}
    ann = lsh_ann_topk(spark, SF, k=5, planes=4).collect()
    for r in ann:
        key = (r["q_id"], r["vec_id"])
        if key in exact:
            assert abs(exact[key] - r["cosine"]) < 1e-9


def test_multimodal_feature_batch_shapes(spark):
    from dagster_delta_spark.operators.multimodal import (
        binarize_documents,
        extract_features,
        frame_sample_plan,
    )

    b = binarize_documents(spark, SF)
    feats = extract_features(b)
    row = feats.limit(1).collect()[0]
    assert row["n_bytes"] > 0
    assert 0 <= row["mean_byte"] <= 255
    assert len(row["head_bytes"]) <= 8
    frames = frame_sample_plan(b).limit(1).collect()[0]
    assert 1 <= frames["n_frames"] <= 4


def test_decode_stub_raises_for_binary_media():
    from dagster_delta_spark.operators.multimodal import decode_stub

    with pytest.raises(NotImplementedError):
        decode_stub(b"...", "image/png")


def test_streaming_rollup_matches_batch(spark):
    from dagster_delta_spark.operators.relational import events_hourly_rollup
    from dagster_delta_spark.streaming import run_hourly_rollup_once

    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in events_hourly_rollup(spark, SF).collect()
    }
    stream = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in run_hourly_rollup_once(spark, SF, "t_rollup_test").collect()
    }
    assert set(stream) == set(batch)
    for k, (n, s) in stream.items():
        assert batch[k][0] == n
        assert abs(batch[k][1] - s) < 1e-6


def test_sessionize_gap_contract(spark):
    from dagster_delta_spark.operators.relational import events_sessionize

    out = events_sessionize(spark, SF, gap_minutes=30)
    row = out.orderBy("user_id", "session_id").limit(1).collect()[0]
    dur = (row["session_end"] - row["session_start"]).total_seconds()
    assert dur >= 0
    assert row["n_events"] >= 1


def test_minhash_cluster_keep_exact_duplicates(spark, tmp_path):
    """Exact duplicates collapse to one surviving representative (the
    min doc_id), distinct docs survive."""
    import pandas as pd

    from dagster_delta_spark.operators.dedup import minhash_cluster_keep

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(10).toPandas()
    dups = pd.concat([docs.iloc[[0]].assign(doc_id=90000 + i) for i in range(3)])
    d = tmp_path / "mini"
    d.mkdir()
    spark.createDataFrame(pd.concat([docs, dups])).write.mode(
        "overwrite"
    ).parquet(str(d / "documents.parquet"))
    out = {r["doc_id"]: (r["cluster_id"], r["keep"])
           for r in minhash_cluster_keep(spark, str(d)).collect()}
    base = docs.iloc[0]["doc_id"]
    cluster = out[base][0]
    for dup_id in (90000, 90001, 90002):
        assert out[dup_id][0] == cluster
        assert out[dup_id][1] is False
    assert out[base] == (cluster, True)
    survivors = sum(1 for _, (c, k) in out.items() if k)
    assert survivors <= 10


def test_minhash_cluster_keep_plan_depth_flat(spark):
    """Label propagation checkpoints per round: plan depth of the result
    must not grow with iterations (un-checkpointed, each round stacks
    2 joins + 2 aggregates and analysis blows up superlinearly)."""
    from dagster_delta_spark.operators.dedup import minhash_cluster_keep

    def plan_size(iters: int) -> int:
        df = minhash_cluster_keep(spark, SF, iterations=iters)
        return len(df._jdf.queryExecution().analyzed().toString())

    p2, p6 = plan_size(2), plan_size(6)
    assert p6 <= p2 * 1.5, (p2, p6)
    # and the result still computes
    assert minhash_cluster_keep(spark, SF, iterations=6).count() > 0


def test_event_bursts_matches_bruteforce(spark):
    """Bin-bounded range join == naive unbounded join on a random
    fixture (catches bin-edge off-by-ones)."""
    import random

    from pyspark.sql import functions as F

    from dagster_delta_spark.operators.asof import event_bursts

    rng = random.Random(7)
    rows = [
        (i, rng.randrange(5), 1_700_000_000 + rng.randrange(0, 600))
        for i in range(400)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, epoch long"
    ).withColumn("ts", F.timestamp_seconds("epoch")).drop("epoch")

    bounded = {
        (r.user_id, r.event_a, r.event_b)
        for r in event_bursts(ev, 60).collect()
    }
    a, b = ev.alias("a"), ev.alias("b")
    naive = {
        (r["user_id"], r["event_a"], r["event_b"])
        for r in a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") > F.col("a.ts"))
            & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 60 SECONDS")),
        )
        .select(
            F.col("a.user_id").alias("user_id"),
            F.col("a.event_id").alias("event_a"),
            F.col("b.event_id").alias("event_b"),
        )
        .collect()
    }
    assert bounded == naive
    assert len(bounded) > 0


def test_event_bursts_hot_user_stress(spark):
    """One user with 1e5 events must complete without a quadratic task:
    with events every 10s and a 60s window each event pairs with the
    next 6, so pairs = 6*N - 21."""
    from pyspark.sql import functions as F

    from dagster_delta_spark.operators.asof import event_bursts

    n = 100_000
    ev = (
        spark.range(n)
        .select(
            F.col("id").alias("event_id"),
            F.lit(1).alias("user_id"),
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") * 10).alias("ts"),
        )
    )
    assert event_bursts(ev, 60).count() == 6 * n - 21


def test_jaccard_stop_shingle_prefilter_exact_below_cap(spark):
    """With the cap above every shingle's document frequency the
    prefiltered plan returns exactly the unfiltered pairs."""
    from dagster_delta_spark.operators.dedup import near_dup_jaccard

    with_cap = {
        (r.doc_a, r.doc_b, r.n_common)
        for r in near_dup_jaccard(spark, SF, max_shingle_df=1000).collect()
    }
    without = {
        (r.doc_a, r.doc_b, r.n_common)
        for r in near_dup_jaccard(spark, SF, max_shingle_df=None).collect()
    }
    assert with_cap == without
    assert len(with_cap) > 0


def test_curate_corpus_end_to_end(spark, tmp_path):
    """Curation pipeline: every kept doc satisfies the filters, content
    duplicates collapse to the smallest doc_id, and the landed table
    round-trips with lang partitioning."""
    from dagster_delta_spark.operators.pipeline import (
        curate_corpus,
        curation_report,
    )

    uri = str(tmp_path / "clean")
    curated = curate_corpus(
        spark, SF, uri, langs=("en",), min_quality=0.3, min_tokens=3
    )
    rows = curated.collect()
    assert len(rows) > 0
    assert all(r["quality_score"] >= 0.3 and r["n_tokens"] >= 3 for r in rows)

    # exact-dup groups collapse: no two kept docs share normalized text
    from pyspark.sql import functions as F

    from dagster_delta_spark.operators.textops import NORM_TEXT

    fps = curated.select(F.expr(f"md5({NORM_TEXT})").alias("fp"))
    assert fps.count() == fps.distinct().count()

    # landed table matches the returned frame and is lang-partitioned
    from dagster_delta_spark import DeltaSparkTable

    t = DeltaSparkTable(spark, uri)
    assert t.read().count() == len(rows)
    assert t.snapshot().partition_columns == ["lang"]

    total = spark.read.parquet(f"{SF}/documents.parquet").count()
    rep = curation_report(curated, total)
    assert rep["docs_kept"] == len(rows) and 0 < rep["keep_rate"] <= 1
    assert rep["total_tokens"] > 0


def test_curate_near_dedup_keeps_surviving_cluster_member(spark, tmp_path):
    """A near-dup cluster whose global representative fails the quality
    filter still keeps its best surviving member."""
    import pandas as pd

    from dagster_delta_spark.operators.pipeline import curate_corpus

    good = ("the quick brown fox jumps over the lazy dog and then "
            "walks to the old market in the town square every day") * 2
    rows = pd.DataFrame({
        # doc 1: junk twin (low quality) is the cluster's min doc_id;
        # doc 2: high-quality twin must survive near-dedup
        "doc_id": [1, 2, 3],
        "text": ["!!!", good, good + " extra tail words here"],
        "lang": ["en"] * 3,
        "source": ["s"] * 3,
    })
    d = tmp_path / "mini"
    d.mkdir()
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        str(d / "documents.parquet")
    )
    out = curate_corpus(
        spark, str(d), min_quality=0.2, min_tokens=5, near_dedup=True
    )
    kept = {r["doc_id"] for r in out.collect()}
    assert 1 not in kept  # filtered by quality
    assert kept & {2, 3}, "cluster must keep a surviving member"


def test_semantic_dedup_drops_planted_duplicates(spark, tmp_path):
    """Planted near-identical vectors are dropped in favour of the
    smallest vec_id, and the full keep set matches the greedy rule
    applied brute-force on the operator's own cell assignment."""
    import numpy as np
    import pandas as pd

    from dagster_delta_spark.operators.similarity import (
        ivf_assignments,
        semantic_dedup,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").limit(60).toPandas()
    rng = np.random.default_rng(7)
    planted = []
    for src, new_id in ((0, 9001), (0, 9002), (1, 9003)):
        v = np.asarray(emb.iloc[src]["embedding"], dtype=np.float32)
        v = v + rng.normal(0, 1e-4, v.shape).astype(np.float32)
        planted.append(
            {"vec_id": new_id, "embedding": v.tolist(),
             "label": int(emb.iloc[src]["label"])}
        )
    both = pd.concat([emb, pd.DataFrame(planted)], ignore_index=True)
    d = tmp_path / "mini"
    d.mkdir()
    spark.createDataFrame(both).write.mode("overwrite").parquet(
        str(d / "embeddings.parquet")
    )

    out = semantic_dedup(spark, str(d), threshold=0.99, n_cells=4).toPandas()
    keep = {int(v) for v in out[out["keep"]]["vec_id"]}
    assert not keep & {9001, 9002, 9003}, "planted copies must be dropped"
    originals = {int(emb.iloc[0]["vec_id"]), int(emb.iloc[1]["vec_id"])}
    assert originals <= keep, "smallest-id member of each dup group survives"
    dup_of = {int(r.vec_id): int(r.dup_of)
              for r in out.itertuples() if not r.keep}
    assert dup_of[9001] == int(emb.iloc[0]["vec_id"])
    assert dup_of[9003] == int(emb.iloc[1]["vec_id"])

    # brute-force equivalence: drop b iff some a<b in the SAME CELL has
    # cosine(a,b) >= threshold (using the operator's own assignment)
    cells = {
        int(r.vec_id): int(r.cell)
        for r in ivf_assignments(spark, str(d), n_cells=4)
        .select("vec_id", "cell").toPandas().itertuples()
    }
    vecs = {int(r.vec_id): np.asarray(r.embedding, dtype=np.float64)
            for r in both.itertuples()}
    expected_drop = set()
    ids = sorted(vecs)
    for j, b_id in enumerate(ids):
        vb = vecs[b_id]
        for a_id in ids[:j]:
            if cells[a_id] != cells[b_id]:
                continue
            va = vecs[a_id]
            cos = float(va @ vb) / (np.linalg.norm(va) * np.linalg.norm(vb))
            if cos >= 0.99:
                expected_drop.add(b_id)
                break
    assert {int(v) for v in out[~out["keep"]]["vec_id"]} == expected_drop


def test_sketch_profile_within_estimator_bounds(spark):
    """HLL++ distinct estimates land within the configured rsd of the
    exact counts; GK percentiles land between neighbouring exact
    order statistics."""
    from pyspark.sql import functions as F

    from dagster_delta_spark.operators.textops import sketch_profile

    prof = {r["source"]: r for r in sketch_profile(spark, SF).collect()}
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    exact = {
        r["source"]: r
        for r in docs.groupBy("source").agg(
            F.countDistinct("text").alias("d_texts"),
            F.countDistinct("doc_id").alias("d_docs"),
            F.expr("percentile(n_chars, 0.5)").alias("p50"),
            F.min("n_chars").alias("lo"),
            F.max("n_chars").alias("hi"),
            F.count(F.lit(1)).alias("n"),
        ).collect()
    }
    assert set(prof) == set(exact)
    for s, p in prof.items():
        e = exact[s]
        assert p["n_rows"] == e["n"]
        # 2% rsd sketches: allow 4 sigma
        for approx_col, exact_val in (
            ("approx_distinct_texts", e["d_texts"]),
            ("approx_distinct_docs", e["d_docs"]),
        ):
            assert abs(p[approx_col] - exact_val) <= max(2, 0.08 * exact_val)
        assert e["lo"] <= p["n_chars_p50"] <= e["hi"]
        # high accuracy + small fixture => p50 is (near-)exact
        assert abs(p["n_chars_p50"] - e["p50"]) <= max(2, 0.02 * e["p50"])


def test_image_codecs_roundtrip():
    """PPM encode/decode identity; BMP decode (hand-built 24-bit
    bottom-up file with row padding); nearest-neighbor resize."""
    import struct

    import numpy as np

    from dagster_delta_spark.operators.multimodal import (
        decode_bmp,
        decode_ppm,
        encode_ppm,
        nn_resize,
    )

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(5, 3, 3), dtype=np.uint8)
    assert (decode_ppm(encode_ppm(img)) == img).all()
    # header comments are legal PPM
    commented = b"P6\n# a comment\n3 5\n255\n" + img.tobytes()
    assert (decode_ppm(commented) == img).all()

    # hand-build a 2x2 24-bit BMP (bottom-up, BGR, rows padded to 4B)
    px = np.array([[[255, 0, 0], [0, 255, 0]],
                   [[0, 0, 255], [10, 20, 30]]], dtype=np.uint8)
    stride = (2 * 3 + 3) & ~3  # = 8
    raster = b""
    for row in px[::-1]:  # bottom-up
        line = b"".join(bytes([b, g, r]) for r, g, b in row)
        raster += line + b"\x00" * (stride - len(line))
    header = (b"BM" + struct.pack("<IHHI", 54 + len(raster), 0, 0, 54)
              + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0,
                            len(raster), 0, 0, 0, 0))
    assert (decode_bmp(header + raster) == px).all()

    small = nn_resize(img, 2, 2)
    assert small.shape == (2, 2, 3)
    assert (small[0, 0] == img[0, 0]).all()  # corner maps to corner


def test_y4m_codec_roundtrip_and_rejects():
    """YUV4MPEG2 encode/decode identity on random clips; malformed
    headers, wrong colourspace and truncated frames all raise."""
    import numpy as np
    import pytest as _pytest

    from dagster_delta_spark.operators.multimodal import (
        decode_y4m,
        encode_y4m,
    )

    rng = np.random.default_rng(13)
    clip = rng.integers(0, 256, size=(4, 5, 7, 3), dtype=np.uint8)
    out, fps = decode_y4m(encode_y4m(clip, fps=30))
    assert fps == 30 and (out == clip).all()
    with _pytest.raises(ValueError, match="YUV4MPEG2"):
        decode_y4m(b"RIFF nonsense\n")
    with _pytest.raises(ValueError, match="colourspace"):
        decode_y4m(b"YUV4MPEG2 W2 H2 F25:1 C420\nFRAME\n" + b"\0" * 6)
    with _pytest.raises(ValueError, match="truncated"):
        decode_y4m(encode_y4m(clip)[:-5])
    with _pytest.raises(ValueError, match="expected"):
        encode_y4m(np.zeros((2, 3, 3), dtype=np.uint8))


def test_video_frame_sampling_and_motion(spark):
    """frame_sample_video extracts the right frames as decodable PPMs
    (pixel-exact vs the generation contract) and video_features'
    motion is the known constant-delta pattern's mean |delta|."""
    import numpy as np

    from dagster_delta_spark.operators.multimodal import (
        binarize_video,
        decode_ppm,
        frame_sample_video,
        video_features,
    )

    sf = "/root/testdata/sf0.001"
    videos = binarize_video(spark, sf).where("doc_id IN (3, 7, 11)")
    feats = {r["doc_id"]: r for r in video_features(videos).collect()}
    for d, r in feats.items():
        assert r["n_frames"] == 2 + d % 5
        assert (r["height"], r["width"]) == (4 + d % 5, 4 + d % 7)
        assert r["duration_s"] == r["n_frames"] / 25.0
        # pixel = (d*31 + f*7 + idx) % 256: inter-frame delta is +7
        # with wraparound to -249 on idx where the sum crosses 256
        n, h, w = r["n_frames"], r["height"], r["width"]
        idx = np.arange(h * w * 3).reshape(h, w, 3)
        clips = np.stack([(d * 31 + f * 7 + idx) % 256
                          for f in range(n)]).astype(np.int16)
        expect = float(np.abs(clips[1:] - clips[:-1]).mean()) if n > 1 else 0.0
        assert abs(r["motion"] - expect) < 1e-9
    sampled = frame_sample_video(videos, every_n=2, max_frames=3)
    rows = sampled.where("doc_id = 7").orderBy("frame_idx").collect()
    assert [r["frame_idx"] for r in rows] == [0, 2]  # n_frames=4 -> 0,2
    d, fi = 7, 2
    h, w = 4 + d % 5, 4 + d % 7
    idx = np.arange(h * w * 3).reshape(h, w, 3)
    want = ((d * 31 + fi * 7 + idx) % 256).astype(np.uint8)
    got = decode_ppm(bytes(rows[1]["payload"]))
    assert (got == want).all()  # sampled frame is pixel-exact


def test_multimodal_real_image_features(spark):
    """The image half of multimodal_features carries REAL decoded
    dimensions (pure functions of doc_id), and resize_payloads
    round-trips through decode -> nn_resize -> re-encode."""
    from dagster_delta_spark.operators.multimodal import (
        PPM_MEDIA_TYPE,
        binarize_images,
        decode_ppm,
        multimodal_features,
        resize_payloads,
    )

    sf = "/root/testdata/sf0.001"
    feats = multimodal_features(spark, sf)
    imgs = {r["doc_id"]: r for r in
            feats.where(feats.media_type == PPM_MEDIA_TYPE).collect()}
    texts = [r for r in feats.where(feats.media_type == "text/plain")
             .limit(5).collect()]
    assert imgs and texts
    for doc_id, r in list(imgs.items())[:10]:
        assert r["img_width"] == 4 + doc_id % 13
        assert r["img_height"] == 3 + doc_id % 7
        assert 0.0 <= r["mean_pixel"] <= 255.0
    for r in texts:  # image fields null on the text half
        assert r["img_width"] is None and r["mean_pixel"] is None

    resized = resize_payloads(
        binarize_images(spark, sf).limit(5), target_dims=(4, 6)
    ).collect()
    for r in resized:
        assert r["media_type"] == PPM_MEDIA_TYPE
        assert decode_ppm(bytes(r["payload"])).shape == (4, 6, 3)


def test_image_codec_properties():
    """Property-based codec checks (no Spark): PPM round-trips any
    uint8 array exactly; nn_resize preserves dtype/channels, is
    idempotent at the same size, and upscale-then-downscale of a
    constant image is lossless."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from dagster_delta_spark.operators.multimodal import (
        decode_ppm,
        encode_ppm,
        nn_resize,
    )

    @settings(max_examples=50, deadline=None)
    @given(
        h=st.integers(1, 16), w=st.integers(1, 16),
        seed=st.integers(0, 2**31 - 1),
        oh=st.integers(1, 16), ow=st.integers(1, 16),
    )
    def check(h, w, seed, oh, ow):
        rng = np.random.default_rng(seed)
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert (decode_ppm(encode_ppm(img)) == img).all()
        r = nn_resize(img, oh, ow)
        assert r.shape == (oh, ow, 3) and r.dtype == np.uint8
        assert (nn_resize(img, h, w) == img).all()  # identity at same size
        const = np.full((h, w, 3), img[0, 0], dtype=np.uint8)
        assert (nn_resize(nn_resize(const, oh, ow), h, w) == const).all()

    check()


def test_simhash_banding_complete_at_bound(spark, tmp_path):
    """simhash_near_dups must return EXACTLY the pairs within
    max_hamming — the band count derives from the bound (pigeonhole),
    so no qualifying pair can slip through (r6 review: the old fixed
    4-band scheme silently missed distances 4-8).  Brute-force
    popcount over the signatures is the oracle."""
    import itertools

    from dagster_delta_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(40)
    d = tmp_path / "mini"
    d.mkdir()
    docs.write.mode("overwrite").parquet(str(d / "documents.parquet"))
    sigs = {r["doc_id"]: r["simhash"]
            for r in dedup.simhash_signatures(spark, str(d)).collect()}
    for bound in (2, 8):
        want = {
            (a, b)
            for a, b in itertools.combinations(sorted(sigs), 2)
            if bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1") <= bound
        }
        got = {(r["doc_a"], r["doc_b"]) for r in
               dedup.simhash_near_dups(spark, str(d), max_hamming=bound)
               .collect()}
        assert got == want, (bound, got ^ want)


def test_simhash_survives_very_long_documents(spark, tmp_path):
    """A document with >32768 occurrences of a token must not overflow
    the packed lane counters under ANSI mode (r6 review: 16-bit lanes
    put lane 3 at the sign bit)."""
    import pandas as pd

    from dagster_delta_spark.operators import dedup

    d = tmp_path / "long"
    d.mkdir()
    long_text = " ".join(["alpha"] * 40000)
    pd.DataFrame({
        "doc_id": [1, 2], "text": [long_text, "beta gamma delta"],
        "lang": ["en"] * 2, "source": ["s"] * 2, "n_chars": [1, 1],
    }).to_parquet(str(d / "documents.parquet"))
    rows = dedup.simhash_signatures(spark, str(d)).collect()
    assert len(rows) == 2  # no SparkArithmeticException


def test_band_buckets_validates_params(spark):
    from dagster_delta_spark.operators import dedup

    sigs = spark.createDataFrame([(1, [1, 2, 3, 4])],
                                 "doc_id long, sig array<long>")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="divide"):
        dedup.band_buckets(sigs, 8, 16)  # bands > hashes
    with _pytest.raises(ValueError, match="divide"):
        dedup.band_buckets(sigs, 60, 16)  # non-divisible
    assert dedup.band_buckets(sigs, 4, 2).count() == 2


def test_cluster_keep_converges_on_chains_and_covers_short_docs(
    spark, tmp_path
):
    """A duplicate CHAIN (each doc near-dups its neighbors via sliding
    overlap) must collapse to ONE cluster whose only keep=True member
    is the min doc_id — fixed 3-round propagation left far chain
    members keep-less (r6 review).  Unshingleable short docs come back
    as singleton keeps instead of vanishing."""
    import random

    import pandas as pd

    from dagster_delta_spark.operators import dedup

    rnd = random.Random(5)
    words = [f"w{rnd.randint(0, 10**9)}" for _ in range(120)]
    chain = [" ".join(words[i * 4: i * 4 + 44]) for i in range(16)]
    rows = [(i, t) for i, t in enumerate(chain)]
    rows += [(100, "hi"), (101, "yo")]          # too short to shingle
    rows += [(200, " ".join(f"x{rnd.randint(0, 10**9)}" for _ in range(30)))]
    d = tmp_path / "chain"
    d.mkdir()
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        str(d / "documents.parquet"))

    out = {r["doc_id"]: (r["cluster_id"], r["keep"])
           for r in dedup.minhash_cluster_keep(spark, str(d)).collect()}
    assert set(out) == {i for i, _ in rows}      # total coverage
    # every cluster's keeper is its min id, exactly one keeper each
    clusters = {}
    for doc, (cid, keep) in out.items():
        clusters.setdefault(cid, []).append((doc, keep))
    for cid, members in clusters.items():
        keepers = [doc for doc, k in members if k]
        assert keepers == [min(doc for doc, _ in members)] == [cid], (
            cid, members)
    # short docs are singleton keeps
    assert out[100] == (100, True) and out[101] == (101, True)
    # the chain actually chained: docs 0..15 share ONE cluster (if the
    # sliding windows didn't bucket-collide this corpus is a bad
    # fixture and the assertion below would catch it)
    chain_clusters = {out[i][0] for i in range(16)}
    assert chain_clusters == {0}, chain_clusters


def test_lsh_hot_bucket_cap_bounds_boilerplate_expansion(spark, tmp_path):
    """A planted ~1000-copy boilerplate doc must not blow the LSH
    candidate stage up to ~500k pairs (r6 verdict lead item): with a
    small per-bucket cap, both batch pairwise operators finish with
    output bounded by cap^2/2 pairs per bucket, pairs among the cap
    smallest doc_ids are still found, and ``lsh_bucket_overflow``
    reports the hot buckets (no silent caps)."""
    import pandas as pd

    from dagster_delta_spark.operators import dedup

    n_copies = 1000
    boiler = " ".join(f"term{i % 37}" for i in range(60))
    rows = [(i, boiler) for i in range(n_copies)]
    rows += [(5000, "one unique document about volcanoes and tea"),
             (5001, "another unique document about glaciers and rye")]
    d = tmp_path / "boiler"
    d.mkdir()
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        str(d / "documents.parquet"))

    cap = 16
    mh = dedup.minhash_lsh_near_dups(
        spark, str(d), threshold=0.9, max_bucket_size=cap).collect()
    # identical copies: every bucket holds all 1000, truncation keeps
    # the 16 smallest -> exactly 16*15/2 verified pairs, not ~500k
    assert len(mh) == cap * (cap - 1) // 2
    assert {r["doc_a"] for r in mh} | {r["doc_b"] for r in mh} == set(
        range(cap))

    sh = dedup.simhash_near_dups(
        spark, str(d), max_hamming=2, max_bucket_size=cap).collect()
    assert len(sh) == cap * (cap - 1) // 2
    assert all(r["hamming"] == 0 for r in sh)

    # the audit twin sees what the cap hid
    buckets = dedup.minhash_buckets(spark, str(d))
    over = dedup.lsh_bucket_overflow(buckets, cap).collect()
    assert over and all(r["n_members"] == n_copies
                        and r["n_beyond_cap"] == n_copies - cap
                        for r in over)
    assert dedup.lsh_bucket_overflow(buckets, n_copies).count() == 0


def test_lsh_cap_parity_with_uncapped_on_fixture(spark):
    """On the real fixture no bucket approaches the default cap, so
    the capped (grouped-expansion) and uncapped (self-join) plans must
    return identical pair sets — the cap is a scale guard, not a
    result change at test scale."""
    from dagster_delta_spark.operators import dedup

    def pairs(df, cols=("doc_a", "doc_b")):
        return {tuple(r[c] for c in cols) for r in df.collect()}

    assert pairs(dedup.minhash_lsh_near_dups(spark, SF)) == pairs(
        dedup.minhash_lsh_near_dups(spark, SF, max_bucket_size=None))
    capped = pairs(dedup.simhash_near_dups(spark, SF),
                   ("doc_a", "doc_b", "hamming"))
    uncapped = pairs(dedup.simhash_near_dups(spark, SF,
                                             max_bucket_size=None),
                     ("doc_a", "doc_b", "hamming"))
    assert capped == uncapped


def test_bucket_candidate_pairs_rejects_degenerate_cap(spark):
    import pytest as _pytest

    from dagster_delta_spark.operators import dedup

    b = spark.createDataFrame([(1, 0, 7)], "doc_id long, band int, h long")
    with _pytest.raises(ValueError, match="max_bucket_size"):
        dedup._bucket_candidate_pairs(b, 1)


def test_rows_only_entry_guards_fire(spark, monkeypatch):
    """Every rows-only registry entry is self-falsifying since r7 —
    prove each guard raises when its operator misbehaves (a guard that
    cannot fire certifies nothing).  Each case monkeypatches the
    underlying operator into a plausible failure mode."""
    import pytest
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from dagster_delta_spark.operators import (
        dedup,
        multimodal,
        similarity,
        textops,
    )

    sf = "/root/testdata/sf0.001"

    def expect(module, attr, fake, fn, match):
        monkeypatch.setattr(module, attr, fake)
        with pytest.raises(AssertionError, match=match):
            fn(spark, sf)
        monkeypatch.undo()

    real = dedup.minhash_lsh_near_dups
    expect(dedup, "minhash_lsh_near_dups",
           lambda s, d, **kw: real(s, d, **kw).where(F.col("doc_b") < 10**9),
           entry.minhash_lsh, "missed the planted exact duplicate")

    real_sh = dedup.simhash_near_dups
    expect(dedup, "simhash_near_dups",
           lambda s, d, **kw: real_sh(s, d, **kw).where(
               F.col("doc_b") < 10**9),
           entry.simhash_pairs, "missed the planted exact duplicate")

    real_ck = dedup.minhash_cluster_keep
    expect(dedup, "minhash_cluster_keep",
           lambda s, d, **kw: real_ck(s, d, **kw).withColumn(
               "keep", F.lit(False)),
           entry._minhash_cluster, "contract violated")

    real_lsh = similarity.lsh_ann_topk
    expect(similarity, "lsh_ann_topk",
           lambda s, d, **kw: real_lsh(s, d, **kw).withColumn(
               "vec_id", F.col("vec_id") + 7),
           entry.ann_lsh, "missed the planted duplicate")

    real_ivf = similarity.ivf_ann_topk
    expect(similarity, "ivf_ann_topk",
           lambda s, d, **kw: real_ivf(s, d, **kw).withColumn(
               "vec_id", F.col("vec_id") + 7),
           entry._ivf_ann, "diverged from brute force")

    real_km = similarity.kmeans_clusters
    expect(similarity, "kmeans_clusters",
           lambda s, d, **kw: real_km(s, d, **kw).where(F.col("cell") > 1),
           entry._kmeans_clusters, "incoherent")

    real_sk = textops.sketch_profile
    expect(textops, "sketch_profile",
           lambda s, d, **kw: real_sk(s, d, **kw).withColumn(
               "approx_distinct_texts",
               F.col("approx_distinct_texts") * 3),
           entry._sketch_profile, "out of bounds")

    real_enl = similarity.embedding_near_dups_lsh
    expect(similarity, "embedding_near_dups_lsh",
           lambda s, d, **kw: real_enl(s, d, **kw).where(
               F.col("cosine") < 0.99),
           entry._emb_neardup_lsh, "missed the planted duplicate pair")

    expect(multimodal, "nn_resize",
           lambda img, h, w: img,
           entry.mm_features, "wrong shape")

    from dagster_delta_spark.operators import curation

    real_ndd = curation.near_dup_decontaminate
    expect(curation, "near_dup_decontaminate",
           lambda s, d, **kw: real_ndd(s, d, **kw).where(
               F.col("doc_id") < 10**9),
           entry._near_dup_decon, "missed the planted paraphrase")
    # the soundness side: an operator leaking a sub-threshold pair
    # into its output must also die
    expect(curation, "near_dup_decontaminate",
           lambda s, d, **kw: real_ndd(s, d, **kw).unionByName(
               s.createDataFrame(
                   [(12345, 3, 0.01)],
                   "doc_id bigint, matched_eval_id bigint, jaccard double")),
           entry._near_dup_decon, "soundness violated")

    from dagster_delta_spark.operators import bpe

    # a corrupted encoder (drops each word's first subword) must trip
    # the round-trip guard
    real_enc = bpe.bpe_encode
    expect(bpe, "bpe_encode",
           lambda df, merges, **kw: real_enc(df, merges, **kw).withColumn(
               "subwords", F.slice("subwords", 2, 10**6)),
           entry._bpe_stats, "round-trip violated")

    # inflated subword counts must trip the structural-bounds guard
    real_stats = bpe.bpe_token_stats
    expect(bpe, "bpe_token_stats",
           lambda s, d, **kw: real_stats(s, d, **kw).withColumn(
               "n_subwords", F.col("n_chars_tokenized") + 1),
           entry._bpe_stats, "structural bounds violated")


def test_winnowing_guarantee_and_edges(spark, tmp_path):
    """The MOSS winnowing guarantee: two docs sharing a token run of
    length >= k + window - 1 (= 8 at the defaults) MUST share at least
    one selected fingerprint; docs over disjoint vocabularies share
    none; sub-k docs emit nothing; a doc with fewer than `window`
    grams still fingerprints via its truncated frame."""
    import pandas as pd

    from dagster_delta_spark.operators import dedup

    shared = " ".join(f"common{i}" for i in range(8))   # k+window-1 run
    rows = [
        (1, " ".join(f"aa{i}" for i in range(30)) + " " + shared),
        (2, shared + " " + " ".join(f"bb{i}" for i in range(30))),
        (3, " ".join(f"cc{i}" for i in range(40))),     # disjoint vocab
        (4, "tiny doc here"),                           # < k tokens
        (5, "exactly five tokens right here now"),      # k..k+window-2
    ]
    d = tmp_path / "winnow"
    d.mkdir()
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        str(d / "documents.parquet"))

    fps = dedup.winnow_fingerprints(spark, str(d))
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "guaranteed shared fingerprint missed"
    assert not (by_doc[3] & (by_doc[1] | by_doc[2]))
    assert 4 not in by_doc                      # unshingleable
    assert len(by_doc[5]) == 1                  # single truncated frame

    spans = {r["fp"]: (r["n_docs"], r["min_doc_id"])
             for r in dedup.winnow_repeated_spans(spark, str(d)).collect()}
    assert spans, "repeated span not reported"
    for fp, (n, mn) in spans.items():
        assert n == 2 and mn == 1 and fp in (by_doc[1] & by_doc[2])
    with __import__("pytest").raises(ValueError, match=">= 1"):
        dedup.winnow_fingerprints(spark, str(d), k=0)


def test_winnow_doc_repetition_scores(spark, tmp_path):
    """A doc whose every span also appears elsewhere scores
    repeated_frac 1.0; a vocabulary-disjoint doc scores 0.0; partial
    overlap lands strictly between."""
    import pandas as pd

    from dagster_delta_spark.operators import dedup

    boiler = " ".join(f"tpl{i}" for i in range(25))
    rows = [
        (1, boiler),                                        # pure template
        (2, boiler + " " + " ".join(f"x{i}" for i in range(25))),
        (3, " ".join(f"y{i}" for i in range(40))),          # unique
    ]
    d = tmp_path / "rep"
    d.mkdir()
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        str(d / "documents.parquet"))
    out = {r["doc_id"]: r for r in
           dedup.winnow_doc_repetition(spark, str(d)).collect()}
    assert out[1]["repeated_frac"] == 1.0
    assert out[3]["repeated_frac"] == 0.0
    assert 0.0 < out[2]["repeated_frac"] < 1.0
    assert all(r["n_repeated"] <= r["n_fps"] for r in out.values())


def test_strip_repeated_spans_removes_only_shared_runs(spark, tmp_path):
    """Tokens covered by a corpus-repeated k-gram are removed; unique
    prose survives verbatim and in order; a doc that is pure
    boilerplate strips to empty."""
    import pandas as pd

    from dagster_delta_spark.operators import dedup

    boiler = " ".join(f"tpl{i}" for i in range(10))
    uniq_a = " ".join(f"aa{i}" for i in range(12))
    uniq_b = " ".join(f"bb{i}" for i in range(12))
    rows = [
        (1, f"{uniq_a} {boiler}"),
        (2, f"{boiler} {uniq_b}"),
        (3, boiler),                      # pure boilerplate
        (4, "short unique snippet here"), # < k tokens: untouched
    ]
    d = tmp_path / "strip"
    d.mkdir()
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        str(d / "documents.parquet"))
    out = {r["doc_id"]: r for r in
           dedup.strip_repeated_spans(spark, str(d)).collect()}
    assert out[1]["clean_text"] == uniq_a
    assert out[2]["clean_text"] == uniq_b
    assert out[3]["clean_text"] == "" and out[3]["n_removed"] == 10
    assert out[4]["clean_text"] == "short unique snippet here"
    assert out[4]["n_removed"] == 0
    assert all(r["n_removed"] + len(r["clean_text"].split()) ==
               r["n_tokens"] if r["clean_text"] else True
               for r in out.values())


def test_wav_codec_roundtrip_and_features(spark):
    """Pure-numpy RIFF/PCM16 codec: bit-exact round-trip (mono and
    stereo, odd lengths), nearest-neighbor resample shapes, analytic
    feature values on a known sine, and the NotImplementedError
    boundary for compressed WAV."""
    import struct

    import numpy as np
    import pytest

    from dagster_delta_spark.operators.multimodal import (
        audio_features,
        decode_wav,
        encode_wav,
        nn_resample,
    )

    rng = np.random.default_rng(3)
    for shape in ((1,), (255,), (400, 1), (333, 2)):
        pcm = rng.integers(-32768, 32768, size=shape, dtype=np.int16)
        out, rate = decode_wav(encode_wav(pcm, 44100))
        assert rate == 44100
        assert (out == (pcm if pcm.ndim == 2 else pcm[:, None])).all()
    assert nn_resample(pcm, 100).shape == (100, 2)
    assert (nn_resample(pcm, pcm.shape[0]) == pcm).all()  # identity

    rate, freq, amp = 8000, 400.0, 16000
    t = np.arange(4000) / rate
    sine = (amp * np.sin(2 * np.pi * freq * t)).astype(np.int16)
    f = audio_features(encode_wav(sine, rate))
    assert f["audio_rate"] == rate and f["audio_seconds"] == 0.5
    assert abs(f["audio_rms"] - amp / 32768 / np.sqrt(2)) < 0.01
    assert abs(f["audio_zcr"] - 2 * freq / rate) < 0.01

    # compressed formats stay a documented boundary
    bad = bytearray(encode_wav(sine, rate))
    struct.pack_into("<H", bad, 20, 2)  # fmt tag 2 = ADPCM
    with pytest.raises(NotImplementedError, match="16-bit PCM"):
        decode_wav(bytes(bad))
    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"nonsense")


def test_multimodal_audio_pipeline(spark):
    """binarize_audio -> extract_features runs the REAL WAV decode
    worker-side: every audio row carries coherent decoded features,
    and resize_payloads resamples audio payloads to the target frame
    count."""
    from dagster_delta_spark.operators.multimodal import (
        binarize_audio,
        decode_wav,
        extract_features,
        multimodal_features,
        resize_payloads,
    )

    sf = "/root/testdata/sf0.001"
    feats = extract_features(
        binarize_audio(spark, sf).select("doc_id", "payload", "media_type")
    ).collect()
    assert feats
    for r in feats:
        assert r["audio_rate"] == 8000
        assert 0.05 <= r["audio_seconds"] <= 0.15
        assert 0.1 < r["audio_rms"] < 0.4 and r["audio_zcr"] > 0
        assert r["img_width"] is None

    rows = multimodal_features(spark, sf).groupBy("media_type").count().collect()
    kinds = {r["media_type"] for r in rows}
    assert kinds == {"text/plain", "image/x-portable-pixmap", "audio/wav"}

    resized = resize_payloads(
        binarize_audio(spark, sf).limit(4), target_bytes=50).collect()
    for r in resized:
        samples, rate = decode_wav(bytes(r["payload"]))
        assert samples.shape[0] == 50 and rate == 8000


def test_leakage_safe_splits_cluster_atomicity(spark, tmp_path):
    """Every near-dup cluster lands in exactly ONE split (the leakage
    guarantee assign_splits cannot give), coverage is total, and the
    thresholds produce the same split label assign_splits would give a
    singleton's own content hash."""
    import pandas as pd

    from dagster_delta_spark.operators import curation

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").limit(30).toPandas()
    near = docs.iloc[[0]].copy()
    near["doc_id"] = 77777
    near["text"] = near["text"] + " tinytrailingchange"
    d = tmp_path / "leak"
    d.mkdir()
    spark.createDataFrame(pd.concat([docs, near])).write.mode(
        "overwrite").parquet(str(d / "documents.parquet"))

    out = curation.leakage_safe_splits(spark, str(d)).toPandas()
    assert len(out) == 31                      # total coverage
    per_cluster = out.groupby("cluster_id")["split"].nunique()
    assert (per_cluster == 1).all()            # cluster atomicity
    by_doc = out.set_index("doc_id")
    orig = int(docs.iloc[0]["doc_id"])
    assert by_doc.loc[77777, "cluster_id"] == by_doc.loc[orig, "cluster_id"]
    assert by_doc.loc[77777, "split"] == by_doc.loc[orig, "split"]
    assert set(out["split"]) <= {"train", "val", "test"}


def test_bipartite_components_chain_and_islands(spark):
    """Min-label propagation finds transitive components: a chain
    1-2-3 (1 and 3 share no key) collapses to component 1, a separate
    pair stays its own component, convergence beats a too-small pinned
    iteration count on a long chain."""
    from dagster_delta_spark.operators.graph import bipartite_components

    member = spark.createDataFrame(
        [(1, "a"), (2, "a"), (2, "b"), (3, "b"),   # chain 1-2-3
         (10, "x"), (11, "x"),                     # island pair
         (20, "z")],                               # singleton w/ key
        "doc_id int, fp string",
    )
    out = {r["doc_id"]: r["component"]
           for r in bipartite_components(member).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}

    # a diameter-8 chain: 1 round of propagation is NOT enough
    chain = spark.createDataFrame(
        [(i + d, f"k{i}") for i in range(1, 9) for d in (0, 1)],
        "doc_id int, fp string",
    )
    partial = {r["doc_id"]: r["component"]
               for r in bipartite_components(chain, iterations=1).collect()}
    full = {r["doc_id"]: r["component"]
            for r in bipartite_components(chain).collect()}
    assert set(full.values()) == {1}
    assert partial != full


def test_bipartite_components_leaves_session_conf_alone(spark, monkeypatch):
    """The small-membership round sizing rides in the plan: while the
    rounds run, the session's shuffle-partition count is the caller's
    (another thread planning meanwhile must not see a lowered one),
    and the components are unchanged."""
    from dagster_delta_spark.operators import graph

    key = "spark.sql.shuffle.partitions"
    session = spark.conf.get(key)
    assert int(session) > 2  # else the rounds are not resized at all
    seen = []
    real = graph._propagate_rounds

    def spy(*args, **kwargs):
        seen.append(spark.conf.get(key))
        return real(*args, **kwargs)

    monkeypatch.setattr(graph, "_propagate_rounds", spy)
    member = spark.createDataFrame(
        [(i + d, f"k{i}") for i in range(1, 6) for d in (0, 1)]
        + [(10, "x"), (11, "x")],
        "doc_id int, fp string",
    )
    out = {r["doc_id"]: r["component"]
           for r in graph.bipartite_components(member).collect()}
    assert out == {**{i: 1 for i in range(1, 7)}, 10: 10, 11: 10}
    assert seen == [session]
    assert spark.conf.get(key) == session


def test_duplicate_components_transitive_families(spark, tmp_path):
    """A~B and B~C (A,C disjoint) land in ONE family; unrelated docs
    are singletons; every doc is covered."""
    from dagster_delta_spark.operators.graph import duplicate_components

    span1 = "alpha bravo charlie delta echo foxtrot golf hotel india"
    span2 = "kilo lima mike november oscar papa quebec romeo sierra"
    rows = [
        (1, f"intro text {span1} closing words here", "en", "web", 1),
        (2, f"{span1} middle bridge section {span2}", "en", "web", 1),
        (3, f"prefix words {span2} and a different tail", "en", "web", 1),
        (4, "totally unrelated content about spark shuffles and "
            "partition pruning strategies", "en", "web", 1),
        (5, "", "en", "web", 1),  # unfingerprintable
    ]
    d = tmp_path / "corpus"
    d.mkdir()
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, "
              "n_chars bigint"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    out = {r["doc_id"]: r["component"]
           for r in duplicate_components(spark, str(d)).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5}


def test_bipartite_components_string_ids_and_convergence_guard(spark):
    """String node ids work (the numeric decimal-sum probe would
    crash under ANSI or misread lexicographic mins), components are
    lexicographic-min labels, and exhausting max_iterations raises
    instead of returning non-transitive labels."""
    import pytest as _pytest

    from dagster_delta_spark.operators.graph import (
        ComponentConvergenceError,
        bipartite_components,
    )

    member = spark.createDataFrame(
        # numeric-looking strings: lexicographic min('10','9') = '10'
        [("9", "a"), ("10", "a"), ("10", "b"), ("doc-x", "b"),
         ("zz", "q")],
        "doc_id string, fp string",
    )
    out = {r["doc_id"]: r["component"]
           for r in bipartite_components(member).collect()}
    assert out == {"9": "10", "10": "10", "doc-x": "10", "zz": "zz"}

    # diameter-12 chain cannot converge in 2 rounds -> loud failure
    chain = spark.createDataFrame(
        [(i + d, f"k{i}") for i in range(1, 13) for d in (0, 1)],
        "doc_id int, fp string",
    )
    with _pytest.raises(ComponentConvergenceError, match="max_iterations"):
        bipartite_components(chain, max_iterations=2)


def test_embedding_pca_recovers_planted_direction(spark, tmp_path):
    """On data with one dominant variance direction, PC1 aligns with
    it and captures most of the variance; projections center."""
    import numpy as np

    from dagster_delta_spark.operators.similarity import (
        embedding_pca,
        embedding_pca_project,
    )

    rng = np.random.default_rng(7)
    d, n = 16, 300
    axis = np.zeros(d); axis[3] = 1.0
    x = rng.normal(0, 0.05, (n, d)) + np.outer(
        rng.normal(0, 3.0, n), axis) + 5.0
    dd = tmp_path / "emb"
    dd.mkdir()
    spark.createDataFrame(
        [(i, [float(v) for v in x[i]], 0) for i in range(n)],
        "vec_id long, embedding array<float>, label int",
    ).write.mode("overwrite").parquet(str(dd / "embeddings.parquet"))

    mean, comp, expl = embedding_pca(spark, str(dd), k=3)
    assert abs(abs(comp[:, 0] @ axis) - 1.0) < 0.01
    assert expl[0] > 0.9
    assert expl[0] >= expl[1] >= expl[2] >= 0

    proj = embedding_pca_project(spark, str(dd), k=3)
    p = np.stack([np.asarray(r["proj"])
                  for r in proj.orderBy("vec_id").collect()])
    assert p.shape == (n, 3)
    assert np.abs(p.mean(axis=0)).max() < 1e-9  # centered

    with pytest.raises(ValueError, match="k="):
        embedding_pca(spark, str(dd), k=0)


def test_embedding_pca_basis_persists_and_caches(spark, monkeypatch, tmp_path):
    """The trained basis persists fingerprint-keyed under DDS_INDEX_DIR
    (the IVF centroid contract): a cold-session-cache call loads the
    stored basis bit-for-bit instead of retraining, and a warm call is
    a dict hit."""
    import numpy as np

    from dagster_delta_spark.operators import session_cache, similarity

    monkeypatch.setenv("DDS_INDEX_DIR", str(tmp_path / "idx"))
    sf = "/root/testdata/sf0.001"
    session_cache.clear()
    m1, c1, e1 = similarity.embedding_pca(spark, sf, k=4)
    assert os.path.isdir(similarity.pca_basis_table_uri(sf, 4))

    # cold session cache -> persisted load; eigh on this path means a
    # retrain happened despite a fingerprint-matching stored basis
    session_cache.clear()

    def boom(*a, **k):
        raise AssertionError("retrained despite persisted basis")

    monkeypatch.setattr(np.linalg, "eigh", boom)
    m2, c2, e2 = similarity.embedding_pca(spark, sf, k=4)
    assert (m1 == m2).all() and (c1 == c2).all() and (e1 == e2).all()

    # warm path: same tuple object back, no table read
    _, c3, _ = similarity.embedding_pca(spark, sf, k=4)
    assert c3 is c2


def test_embedding_pca_entry_guard_fires(spark, monkeypatch):
    """The rows-only PCA entry falsifies: a corrupted projection path
    (scaled output) trips the sampled driver-parity guard."""
    import __spark_entry__ as entry
    from dagster_delta_spark.operators import similarity

    sf = "/root/testdata/sf0.001"
    entry._embedding_pca(spark, sf)  # healthy

    real = similarity.embedding_pca_project

    def scaled(spark_, sf_dir, k=16, **kw):
        from pyspark.sql import functions as F
        return real(spark_, sf_dir, k, **kw).withColumn(
            "proj", F.expr("transform(proj, v -> v * 1.01)"))

    monkeypatch.setattr(similarity, "embedding_pca_project", scaled)
    with pytest.raises(AssertionError, match="diverged from driver math"):
        entry._embedding_pca(spark, sf)


def test_bipartite_components_fractional_ids_exact_probe(spark):
    """Fractional numeric ids use the exact changed-row probe: a
    decimal(38,0)-sum probe would round away the sub-unit label
    decreases on this chain and fake convergence after one round."""
    from dagster_delta_spark.operators.graph import bipartite_components

    member = spark.createDataFrame(
        [(10.1, "a"), (10.2, "a"), (10.2, "b"), (10.3, "b"),
         (10.3, "c"), (10.4, "c")],
        "doc_id double, fp string",
    )
    out = {r["doc_id"]: r["component"]
           for r in bipartite_components(member).collect()}
    assert out == {10.1: 10.1, 10.2: 10.1, 10.3: 10.1, 10.4: 10.1}


def test_embedding_pca_empty_table_raises(spark, tmp_path):
    from dagster_delta_spark.operators.similarity import embedding_pca

    d = tmp_path / "emb"
    d.mkdir()
    spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))
    with pytest.raises(ValueError, match="empty"):
        embedding_pca(spark, str(d), k=2)


def test_bipartite_components_matches_union_find_fuzz(spark):
    """Randomized agreement with a driver-side union-find reference:
    min-label propagation must produce exactly the min-id-per-
    component labeling for arbitrary bipartite memberships."""
    import random

    from dagster_delta_spark.operators.graph import bipartite_components

    for seed in (3, 17, 92):
        rng = random.Random(seed)
        n_nodes, n_keys = rng.randint(5, 40), rng.randint(2, 12)
        member = sorted({
            (rng.randrange(n_nodes), f"k{rng.randrange(n_keys)}")
            for _ in range(rng.randint(5, 80))
        })
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[rb] = ra

        by_key = {}
        for node, key in member:
            by_key.setdefault(key, []).append(node)
        for nodes in by_key.values():
            for other in nodes[1:]:
                union(nodes[0], other)
        want = {}
        roots = {}
        for node, _ in member:
            r = find(node)
            roots.setdefault(r, node)
            roots[r] = min(roots[r], node)
        for node, _ in member:
            want[node] = roots[find(node)]

        got = {
            r["doc_id"]: r["component"]
            for r in bipartite_components(
                spark.createDataFrame(member, "doc_id int, fp string")
            ).collect()
        }
        assert got == want, (seed, got, want)


def test_bigram_perplexity_hand_computed(spark, tmp_path):
    """Exact interpolated probabilities on a 2-doc corpus, plus the
    lam=0 unigram-only reduction and argument validation."""
    import math

    from dagster_delta_spark.operators.textops import bigram_perplexity

    dd = tmp_path / "bp"
    dd.mkdir()
    spark.createDataFrame(
        [(1, "a b a"), (2, "a b"), (3, "solo")],
        "doc_id long, text string",
    ).write.parquet(str(dd / "documents.parquet"))

    rows = {r["doc_id"]: r for r in bigram_perplexity(spark, str(dd)).collect()}
    # corpus: uni a:3 b:2 solo:1 (N=6); bigrams (a,b):2 (b,a):1
    p_ab = 0.7 * 2 / 3 + 0.3 * 2 / 6
    p_ba = 0.7 * 1 / 2 + 0.3 * 3 / 6
    assert rows[1]["n_bigrams"] == 2
    want1 = -(math.log(p_ab) + math.log(p_ba)) / 2
    assert abs(rows[1]["avg_neg_logprob"] - want1) < 1e-12
    assert abs(rows[1]["perplexity"] - math.exp(want1)) < 1e-12
    assert rows[2]["n_bigrams"] == 1
    assert abs(rows[2]["avg_neg_logprob"] + math.log(p_ab)) < 1e-12
    assert 3 not in rows  # single-token doc has no bigrams

    uni_only = {r["doc_id"]: r for r in
                bigram_perplexity(spark, str(dd), lam=0.0).collect()}
    want_uni = -(math.log(2 / 6) + math.log(3 / 6)) / 2
    assert abs(uni_only[1]["avg_neg_logprob"] - want_uni) < 1e-12

    with pytest.raises(ValueError, match="lam"):
        bigram_perplexity(spark, str(dd), lam=1.5)


def test_bm25_search_hand_computed(spark, tmp_path):
    """Exact Lucene-style BM25 on a 3-doc corpus: per-term idf and
    length normalization, OOV query terms score nothing, and top_k
    truncates per query."""
    import math

    from dagster_delta_spark.operators.textops import bm25_search

    dd = tmp_path / "bm25"
    dd.mkdir()
    spark.createDataFrame(
        [(1, "cat dog"), (2, "cat cat cat"), (3, "bird")],
        "doc_id long, text string",
    ).write.parquet(str(dd / "documents.parquet"))

    out = bm25_search(
        spark, str(dd),
        queries=[(1, "cat"), (2, "cat bird"), (3, "zebra")],
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["qid"], {})[r["doc_id"]] = r

    # N=3, avgdl=2; df(cat)=2, df(bird)=1; k1=1.2, b=0.75
    idf_cat = math.log(1 + (3 - 2 + 0.5) / 2.5)
    idf_bird = math.log(1 + (3 - 1 + 0.5) / 1.5)
    s_cat_d1 = idf_cat * 1 * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 2 / 2))
    s_cat_d2 = idf_cat * 3 * 2.2 / (3 + 1.2 * (0.25 + 0.75 * 3 / 2))
    s_bird_d3 = idf_bird * 1 * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 1 / 2))
    assert abs(by_q[1][1]["score"] - round(s_cat_d1, 9)) < 1e-9
    assert abs(by_q[1][2]["score"] - round(s_cat_d2, 9)) < 1e-9
    # tf=3 outweighs the length penalty: doc 2 ranks first for "cat"
    assert by_q[1][2]["rank"] == 1 and by_q[1][1]["rank"] == 2
    assert 3 not in by_q[1]  # no 'cat' in doc 3
    assert abs(by_q[2][3]["score"] - round(s_bird_d3, 9)) < 1e-9
    assert 3 not in by_q  # fully OOV query returns no rows

    top1 = bm25_search(
        spark, str(dd), queries=[(1, "cat")], top_k=1).collect()
    assert len(top1) == 1 and top1[0]["doc_id"] == 2


def test_pmi_collocations_hand_computed(spark, tmp_path):
    """Exact PMI values on a planted corpus: the true collocation
    ranks first, ties break on gram ascending, and min_count floors
    out rare pairs."""
    import math

    from dagster_delta_spark.operators.textops import pmi_collocations

    dd = tmp_path / "pmi"
    dd.mkdir()
    spark.createDataFrame(
        [(1, "x y x y x y"), (2, "z z z")],
        "doc_id long, text string",
    ).write.parquet(str(dd / "documents.parquet"))

    rows = pmi_collocations(spark, str(dd), min_count=2).collect()
    got = {r["gram"]: r for r in rows}
    # T1=9 tokens (x:3 y:3 z:3); pairs: (x y):3 (y x):2 (z z):2, T2=7
    assert got["x y"]["n_pairs"] == 3
    assert abs(got["x y"]["pmi"] - round(math.log(27 / 7), 9)) < 1e-9
    assert abs(got["y x"]["pmi"] - round(math.log(18 / 7), 9)) < 1e-9
    assert abs(got["z z"]["pmi"] - round(math.log(18 / 7), 9)) < 1e-9
    # ranks: x y first; y x / z z tie on pmi, gram asc breaks it
    assert got["x y"]["rank"] == 1
    assert got["y x"]["rank"] == 2
    assert got["z z"]["rank"] == 3

    assert pmi_collocations(spark, str(dd), min_count=4).count() == 0


def test_ppjoin_equals_exact_jaccard(spark, tmp_path):
    """PPJoin prefix filtering is EXACT: on planted near-dups plus a
    randomized corpus, its thresholded pair set equals the self-join
    Jaccard ground truth bit-for-bit at several thresholds."""
    import random

    from dagster_delta_spark.operators.dedup import (
        near_dup_jaccard,
        ppjoin_near_dups,
    )

    rng = random.Random(8)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
    rows = []
    for i in range(40):
        n = rng.randint(5, 14)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    # planted: 3 shifted copies of doc 0 and an exact dup of doc 1
    base = rows[0][1].split()
    for j, off in enumerate((1, 2, 3)):
        rows.append((100 + j, " ".join(base[off:] + base[:off])))
    rows.append((200, rows[1][1]))
    dd = tmp_path / "ppj"
    dd.mkdir()
    spark.createDataFrame(
        rows, "doc_id long, text string"
    ).write.parquet(str(dd / "documents.parquet"))

    for t in (0.2, 0.4, 0.75):
        want = {
            (r["doc_a"], r["doc_b"], r["n_common"], round(r["jaccard"], 12))
            for r in near_dup_jaccard(
                spark, str(dd), threshold=t, max_shingle_df=None
            ).collect()
        }
        got = {
            (r["doc_a"], r["doc_b"], r["n_common"], round(r["jaccard"], 12))
            for r in ppjoin_near_dups(spark, str(dd), threshold=t).collect()
        }
        assert got == want, (t, got ^ want)
    assert want, "fixture must produce pairs at the top threshold"

    with pytest.raises(ValueError, match="threshold"):
        ppjoin_near_dups(spark, str(dd), threshold=0.0)
