"""Round-10 verdict item #1: the LSH default geometry is scale-safe.

The round-9 verdict's one remaining scale-killer: ``cosine_dup_pairs``
defaulted to 6 planes x 8 bands regardless of corpus size, which
random-collides ~10^11 candidate pairs at 2M vectors (measured as a
disk spill at sf100, SCALE.md round 9).  The fix promotes the
docstring rule-of-thumb to the operator default: ``n_planes=None``
derives ``max(LSH_PLANES, ceil(log2(n / LSH_TARGET_OCCUPANCY)))`` from
one corpus count at plan time, and an explicit geometry whose implied
candidate mass exceeds ``LSH_CANDIDATE_WARN`` draws the same loud
warning the kmeans default-flip got (operators/kmeans.py:647).
"""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from spark_kafka_streaming_spark.operators import similarity as S


# ---------------------------------------------------------------- math
def test_derived_planes_floor_and_growth():
    # Floor: tiny corpora keep the historical 6 planes.
    assert S.derived_lsh_planes(0) == S.LSH_PLANES
    assert S.derived_lsh_planes(1) == S.LSH_PLANES
    assert S.derived_lsh_planes(64) == S.LSH_PLANES  # boundary: 2^6 exactly
    # Growth: occupancy pinned at LSH_TARGET_OCCUPANCY=1 — one plane
    # per corpus doubling above the floor.
    assert S.derived_lsh_planes(65) == 7
    assert S.derived_lsh_planes(500) == 9  # the sf0.01 oracle corpus
    assert S.derived_lsh_planes(2000) == 11  # sf0.1 bench corpus
    assert S.derived_lsh_planes(200_000) == 18  # sf10 embeddings
    assert S.derived_lsh_planes(2_000_000) == 21  # sf100 embeddings
    # Derived occupancy never exceeds the target above the floor
    # regime.
    for n in (10**5, 10**6, 10**7, 10**8):
        p = S.derived_lsh_planes(n)
        assert n / 2**p <= S.LSH_TARGET_OCCUPANCY


def test_oracle_corpus_size_pin():
    # The adaptive catalog entries pin their static DuckDB oracles at
    # derived_lsh_planes(ORACLE_EMB_N); if the driver's testdata spec
    # ever changes the embeddings row count, fail HERE with a message
    # instead of as a silent oracle hash mismatch.
    import duckdb

    from spark_kafka_streaming_spark.queries.similarity import ORACLE_EMB_N

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        n = duckdb.sql(
            f"SELECT count(*) FROM '{sf}/embeddings.parquet'"
        ).fetchone()[0]
        assert n == ORACLE_EMB_N, (
            f"{sf}: embeddings count {n} != ORACLE_EMB_N {ORACLE_EMB_N}; "
            "regenerate the adaptive-entry oracles "
            "(queries/similarity.py::oracle_lsh_planes)"
        )


def test_derived_planes_candidate_mass_is_linear():
    # The invariant the derivation exists for: expected candidate mass
    # bands * n * occupancy / 2 grows LINEARLY in n (within the 2x
    # rounding band), not quadratically like the fixed default.
    for n in (10**5, 10**6, 10**7):
        p = S.derived_lsh_planes(n)
        mass = S.LSH_BANDS * n * (n / 2**p) / 2
        assert mass <= S.LSH_BANDS * n * S.LSH_TARGET_OCCUPANCY / 2
    # ... and the OLD fixed geometry at 2M vectors sits far above the
    # warn bound (the round-9 spill, now impossible by default).
    n = 2_000_000
    assert S.LSH_BANDS * n * (n / 2**S.LSH_PLANES) / 2 > S.LSH_CANDIDATE_WARN


# ------------------------------------------------- adaptive == explicit
def test_adaptive_default_bit_identical_to_explicit(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    derived = S.derived_lsh_planes(emb.count())  # 9 at the 500-row corpus
    adaptive = {
        (r.id1, r.id2, r.cos_sim)
        for r in S.cosine_dup_pairs(emb, threshold=0.45).collect()
    }
    explicit = {
        (r.id1, r.id2, r.cos_sim)
        for r in S.cosine_dup_pairs(
            emb, threshold=0.45, n_planes=derived
        ).collect()
    }
    # The derivation is a pure function of the count, so the adaptive
    # default is bit-identical to pinning the derived geometry — the
    # whole oracle-compatibility argument.
    assert adaptive == explicit and adaptive


def test_lsh_topk_adaptive_default_matches_explicit(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    derived = S.derived_lsh_planes(emb.count())
    q = emb.filter(F.col("vec_id") < 5)
    a = {
        (r.query_id, r.neighbor_id, r.rn)
        for r in S.lsh_topk(q, emb, k=3).collect()
    }
    b = {
        (r.query_id, r.neighbor_id, r.rn)
        for r in S.lsh_topk(q, emb, k=3, n_planes=derived).collect()
    }
    assert a == b and a


# ------------------------------------------------------------- warning
def test_explicit_undersized_geometry_warns(spark, sf_dir, monkeypatch):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # 500 vectors x 6 planes x 8 bands -> mass = 8*500*(500/64)/2 ~ 15.6k;
    # drop the bound below that so the undersized-geometry path fires
    # exactly as it would at 2M vectors with the real 1e9 bound.
    monkeypatch.setattr(S, "LSH_CANDIDATE_WARN", 10_000)
    with pytest.warns(UserWarning, match="candidate pairs"):
        S.cosine_dup_pairs(emb, threshold=0.45, n_planes=S.LSH_PLANES)


def test_sane_geometry_does_not_warn(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        # adaptive default: derives, never warns
        S.cosine_dup_pairs(emb, threshold=0.45)
        # explicit geometry under the bound: silent (oracle-replay path)
        S.cosine_dup_pairs(emb, threshold=0.45, n_planes=12, n_bands=16)


def test_pinned_broadcast_verify_stays_lazy_and_silent(spark, sf_dir):
    # Explicit geometry + pinned broadcast_verify -> no count at plan
    # time (the lazy-construction contract) and therefore no warning
    # even under a tiny bound: plan construction must stay free.
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        df = S.cosine_dup_pairs(
            emb, threshold=0.45, n_planes=6, broadcast_verify=True
        )
    assert df.count() > 0
