"""Round-6 second-half operators: AVI video codec + frame sampling,
Misra-Gries exact heavy hitters, triangle counting, JL random
projection."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_kafka_streaming_spark.operators.multimodal import (
    avi_info,
    decode_avi_frames,
    encode_avi,
    video_frame_features,
)
from spark_kafka_streaming_spark.operators.sketches import (
    heavy_hitters_exact,
    misra_gries_candidates,
)

# ------------------------------------------------------------ AVI codec


def _frames(n, h=6, w=8, seed=0):
    rng = np.random.default_rng(seed)
    return [rng.integers(0, 256, (h, w, 3), dtype=np.uint8) for _ in range(n)]


def test_avi_roundtrip_all_frames():
    frames = _frames(5)
    payload = encode_avi(frames, fps=10)
    assert avi_info(payload) == (8, 6, 5)
    dec = decode_avi_frames(payload, range(5))
    assert sorted(dec) == [0, 1, 2, 3, 4]
    for i, f in enumerate(frames):
        assert (dec[i] == f).all()


def test_avi_sampled_decode_skips_frames():
    frames = _frames(9)
    payload = encode_avi(frames)
    dec = decode_avi_frames(payload, range(0, 9, 3))
    assert sorted(dec) == [0, 3, 6]
    assert all((dec[i] == frames[i]).all() for i in dec)


def test_avi_odd_width_row_padding():
    # w=5 → stride 16 ≠ 15: padding must be honored both directions
    frames = _frames(3, h=4, w=5, seed=1)
    payload = encode_avi(frames)
    dec = decode_avi_frames(payload, [1])
    assert (dec[1] == frames[1]).all()


def test_avi_rejects_malformed():
    with pytest.raises(ValueError):
        avi_info(b"RIFF\x00\x00\x00\x00WAVE")  # not AVI
    with pytest.raises(ValueError):
        avi_info(b"RIFF\x10\x00\x00\x00AVI \x00" * 2)  # no hdrl
    payload = encode_avi(_frames(2))
    with pytest.raises((ValueError, struct.error)):
        avi_info(payload[:30])  # truncated inside hdrl
    with pytest.raises(ValueError):
        # corrupt strf to claim 32-bit: decode must name the blocker
        bad = bytearray(payload)
        i = bad.index(b"strf")
        struct.unpack_from("<H", bad, i + 8 + 14)  # sanity: field exists
        struct.pack_into("<H", bad, i + 8 + 14, 32)
        avi_info(bytes(bad))


def test_video_frame_features_dlq_contract(spark):
    good = encode_avi(_frames(4))
    rows = [(1, bytearray(good)), (2, bytearray(b"garbage-not-avi"))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = video_frame_features(df, every_n=2).toPandas()
    ok = out[out["doc_id"] == 1]
    bad = out[out["doc_id"] == 2]
    assert sorted(ok["frame_no"]) == [0, 2]
    assert len(bad) == 1 and bad["width"].isna().all()


# ----------------------------------------------------- heavy hitters


def _token_df(spark, counts: dict[str, int], partitions=4):
    rows = [(t,) for t, c in counts.items() for _ in range(c)]
    return spark.createDataFrame(rows, "token string").repartition(partitions)


def test_mg_candidates_never_lose_heavy_items(spark):
    # 3 heavy items among 500 singleton tail items, capacity far below
    # the distinct count: the superset guarantee must hold.
    counts = {f"tail{i}": 1 for i in range(500)}
    counts.update({"alpha": 200, "beta": 150, "gamma": 120})
    df = _token_df(spark, counts)
    cands = {
        r["token"]
        for r in misra_gries_candidates(df, "token", capacity=50).collect()
    }
    assert {"alpha", "beta", "gamma"} <= cands
    # and the summary is bounded: ≤ capacity per task
    assert len(cands) <= 50 * df.rdd.getNumPartitions()


def test_heavy_hitters_exact_equals_full_groupby(spark):
    counts = {f"w{i}": (i % 7) + 1 for i in range(300)}
    counts.update({"hot1": 400, "hot2": 300, "warm": 90})
    df = _token_df(spark, counts)
    n_total = sum(counts.values())
    phi = 0.02
    expected = {
        t: c for t, c in counts.items() if c >= -(-phi * n_total // 1)
    }
    got = {
        r["token"]: r["cnt"]
        for r in heavy_hitters_exact(df, "token", phi=phi, capacity=100).collect()
    }
    assert got == expected


def test_heavy_hitters_frac_sums_below_one(spark):
    df = _token_df(spark, {"a": 50, "b": 30, "c": 20})
    out = heavy_hitters_exact(df, "token", phi=0.1).toPandas()
    assert set(out["token"]) == {"a", "b", "c"}
    assert abs(out["frac"].sum() - 1.0) < 1e-6


# --------------------------------------------------------- triangles


def test_triangle_join_enumerates_each_once(spark, sf_dir):
    from spark_kafka_streaming_spark.queries.llm15 import q_graph_triangles

    out = q_graph_triangles(spark, sf_dir).toPandas()
    # oriented enumeration: strictly increasing brand triples, no dups
    assert (out["brand_a"] < out["brand_b"]).all()
    assert (out["brand_b"] < out["brand_c"]).all()
    trips = list(zip(out["brand_a"], out["brand_b"], out["brand_c"]))
    assert len(trips) == len(set(trips))


# -------------------------------------------------- random projection


def test_random_projection_matches_numpy(spark, sf_dir):
    from spark_kafka_streaming_spark.functions.vectors import np_scaled
    from spark_kafka_streaming_spark.queries.llm15 import (
        _RP_D,
        q_vector_random_projection,
    )
    from spark_kafka_streaming_spark.sources.batch import load_table

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 40)
        .orderBy("vec_id")
        .toPandas()
    )
    v = np_scaled(np.array(emb["embedding"].tolist()))
    d = v.shape[1]
    i = np.arange(d, dtype=np.int64)[:, None]
    j = np.arange(_RP_D, dtype=np.int64)[None, :]
    signs = np.where(((i * 2654435761 + j * 40503 + 12345) % 7) % 2 == 0, 1, -1)
    y = v @ signs  # exact: int64 well within range
    proj_sq = (y * y).sum(axis=1)
    orig_sq = (v * v).sum(axis=1)

    out = q_vector_random_projection(spark, sf_dir).toPandas()
    ids = emb["vec_id"].tolist()
    idx = {vid: k for k, vid in enumerate(ids)}
    for _, r in out.iterrows():
        a, b = idx[r["id_a"]], idx[r["id_b"]]
        assert r["sq_sum"] == orig_sq[a] + orig_sq[b]
        assert r["proj_sq_sum"] == proj_sq[a] + proj_sq[b]
    # JL concentration: mean pairwise norm ratio near 1 (±1 signs,
    # d'=8 → relative std ~ sqrt(2/8); the mean over 780 pairs is tight)
    assert 0.5 < out["norm_ratio"].mean() < 1.5


# ----------------------------------------- blocked all-pairs cosine


@pytest.mark.parametrize("n_blocks", [1, 5, 8])
def test_cosine_all_pairs_matches_duckdb(spark, sf_dir, n_blocks):
    """The blocked matmul form returns the theta join's rows, cos_sim
    doubles included, whatever the block count (1 = one diagonal task;
    8 = the default)."""
    import duckdb

    from spark_kafka_streaming_spark.functions import vectors as V
    from spark_kafka_streaming_spark.operators.similarity import (
        cosine_all_pairs,
    )
    from spark_kafka_streaming_spark.sources.batch import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    got = sorted(
        tuple(r)
        for r in cosine_all_pairs(emb, 0.45, n_blocks=n_blocks).collect()
    )
    cos = V.duck_cosine(V.duck_dot("a.v", "b.v"), "a.n", "b.n")
    sql = f"""
    WITH s AS (SELECT vec_id, {V.duck_scaled('embedding')} AS v
               FROM read_parquet('{sf_dir}/embeddings.parquet')),
    sn AS (SELECT vec_id, v, {V.duck_dot('v', 'v')} AS n FROM s)
    SELECT a.vec_id, b.vec_id, {cos}
    FROM sn a JOIN sn b ON a.vec_id < b.vec_id
    WHERE {cos} >= 0.45
    """
    want = sorted(duckdb.sql(sql).fetchall())
    assert len(want) > 0
    assert got == want  # bit-identical incl. cos_sim doubles


def test_cosine_all_pairs_block_count_invariant(spark, sf_dir):
    from spark_kafka_streaming_spark.operators.similarity import (
        cosine_all_pairs,
    )
    from spark_kafka_streaming_spark.sources.batch import load_table

    emb = load_table(spark, sf_dir, "embeddings").filter("vec_id < 200")
    a = sorted(
        tuple(r) for r in cosine_all_pairs(emb, 0.15, n_blocks=3).collect()
    )
    b = sorted(
        tuple(r) for r in cosine_all_pairs(emb, 0.15, n_blocks=11).collect()
    )
    assert a == b and len(a) > 0


def test_scene_cut_detects_planted_jump(spark):
    from pyspark.sql import Window as W

    # frames 0/2 flat dark, frame 4 flat bright: one cut at frame 4
    flat = lambda v: np.full((6, 8, 3), v, dtype=np.uint8)
    payload = encode_avi([flat(10), flat(10), flat(10), flat(10), flat(200)])
    df = spark.createDataFrame([(7, bytearray(payload))], "doc_id long, payload binary")
    frames = video_frame_features(df, every_n=2)
    w = W.partitionBy("doc_id").orderBy("frame_no")
    deltas = frames.withColumn(
        "delta", F.col("mean_px") - F.lag("mean_px").over(w)
    ).collect()
    jumps = [r["delta"] for r in deltas if r["delta"] is not None]
    assert sum(1 for d in jumps if abs(d) > 20.0) == 1
    assert abs(max(jumps) - 190.0) < 1e-9


# ----------------------------------------------- retrieval composition


def test_filtered_ann_neighbors_respect_predicate(spark, sf_dir):
    from spark_kafka_streaming_spark.queries.llm16 import (
        q_similarity_filtered_ann,
    )
    from spark_kafka_streaming_spark.sources.batch import load_table

    out = q_similarity_filtered_ann(spark, sf_dir).toPandas()
    assert len(out) > 0
    en = {
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .filter("lang = 'en'")
        .select("doc_id")
        .collect()
    }
    assert set(out["neighbor_id"]) <= en  # pre-filtering: no leakage


def test_hybrid_rrf_fuses_both_legs(spark, sf_dir):
    from spark_kafka_streaming_spark.queries.llm16 import (
        _RRF_K,
        q_search_hybrid_rrf,
    )

    out = q_search_hybrid_rrf(spark, sf_dir).toPandas()
    assert len(out) > 0
    # every fused score is reproducible from its rank columns
    for _, r in out.iterrows():
        want = 0.0
        if r["bm25_rank"] == r["bm25_rank"]:  # not NaN
            want += 1.0 / (_RRF_K + int(r["bm25_rank"]))
        if r["cos_rank"] == r["cos_rank"]:
            want += 1.0 / (_RRF_K + int(r["cos_rank"]))
        assert abs(r["rrf"] - want) < 1e-12
    # docs present in BOTH legs outrank equal-rank single-leg docs:
    # the fused list is sorted by rrf desc
    assert (out["rrf"].values[:-1] >= out["rrf"].values[1:]).all()


# ------------------------------------------------------- edge cases


def test_heavy_hitters_all_unique_returns_empty(spark):
    df = _token_df(spark, {f"u{i}": 1 for i in range(400)})
    out = heavy_hitters_exact(df, "token", phi=0.01, capacity=64).collect()
    assert out == []  # no token reaches 1% of 400


def test_single_frame_video_roundtrip():
    frames = _frames(1)
    payload = encode_avi(frames)
    assert avi_info(payload) == (8, 6, 1)
    dec = decode_avi_frames(payload, [0])
    assert (dec[0] == frames[0]).all()


def test_cosine_all_pairs_single_vector_yields_nothing(spark, sf_dir):
    from spark_kafka_streaming_spark.operators.similarity import (
        cosine_all_pairs,
    )
    from spark_kafka_streaming_spark.sources.batch import load_table

    emb = load_table(spark, sf_dir, "embeddings").filter("vec_id = 3")
    assert cosine_all_pairs(emb, 0.0).collect() == []


def test_audio_window_features_planted_signal(spark):
    from spark_kafka_streaming_spark.operators.multimodal import (
        audio_window_features,
        encode_wav,
    )

    # window 0: alternating +/-1000 → 7 zero crossings, energy 8e6
    # window 1: constant 5 → 0 crossings, energy 200
    samples = np.array(
        [1000, -1000, 1000, -1000, 1000, -1000, 1000, -1000] + [5] * 8,
        dtype="<i2",
    )
    payload = encode_wav(samples)
    df = spark.createDataFrame([(1, bytearray(payload))], "doc_id long, payload binary")
    out = {r["win_no"]: r for r in audio_window_features(df, win=8).collect()}
    assert out[0]["n_zero_cross"] == 7 and out[0]["energy"] == 8 * 1000**2
    assert out[1]["n_zero_cross"] == 0 and out[1]["energy"] == 8 * 25
    assert out[0]["peak"] == 1000 and out[1]["peak"] == 5
