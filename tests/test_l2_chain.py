"""The exact-L2 quantizer chain of operators/kmeans.py and operators/pq.py.

Every pair of forms that must return the same rows is checked over the
same corpora (the sf fixture, six identical leading vectors, k larger
than the corpus, an empty corpus):

* Lloyd's argmin forms: literal ≡ join ≡ Arrow ≡ IMI with every super
  probed, and the IMI closure route ≡ the IMI cogroup route;
* Lloyd's update sources: per-task partial sums ≡ posexplode;
* PQ codebook training: the driver-side replay ≡ the distributed loop;
* IVF coarse assignment: the ``min_by`` argmin ≡ rank 1 of the
  (dist, cell) window.

Plus the k-dispatch and the empty-corpus contract of the public
operators.
"""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from spark_kafka_streaming_spark.functions.caching import release_operator_caches
from spark_kafka_streaming_spark.operators import kmeans as K
from spark_kafka_streaming_spark.operators import pq as PQ


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df.persist().count()
    yield df
    df.unpersist()


def _corpus(spark, emb, name):
    """(corpus, k) for one corpus shape."""
    if name == "sf":
        return emb, 24
    if name == "dup_head":
        # the six smallest-id vectors made identical: the seed
        # centroids tie, and ties must break on the lower cell
        rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
        head = rows[0]["embedding"]
        data = [
            (r["vec_id"], head if i < 6 else r["embedding"])
            for i, r in enumerate(rows)
        ]
        return spark.createDataFrame(data, "vec_id bigint, embedding array<float>"), 8
    if name == "k_over_corpus":
        return emb.filter(F.col("vec_id") < 12), 20
    assert name == "empty"
    return emb.filter(F.lit(False)), 8


CORPORA = ["sf", "dup_head", "k_over_corpus", "empty"]


def _rows(df):
    return sorted(
        tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in df.collect()
    )


def _check(got: dict, corpus: str):
    first = next(iter(got.values()))
    for name, rows in got.items():
        assert rows == first, name
    assert (first == []) == (corpus == "empty")


@pytest.mark.parametrize("corpus", CORPORA)
def test_lloyd_argmin_forms_agree(spark, emb, corpus):
    df, k = _corpus(spark, emb, corpus)
    sv = K.scaled_vectors(df)
    cents = K.initial_centroids(sv, k)
    assert len(cents) == min(k, df.count())
    got = {
        form: _rows(K._assign(sv, cents, form, n_sprobe=n_sprobe))
        for form, n_sprobe in [
            ("literal", 0),
            ("join", 0),
            ("arrow", 0),
            ("imi", k),  # every super probed: the full search
        ]
    }
    _check(got, corpus)


@pytest.mark.parametrize("corpus", CORPORA)
def test_imi_closure_route_equals_cogroup_route(spark, emb, corpus):
    df, k = _corpus(spark, emb, corpus)
    sv = K.scaled_vectors(df)
    cents = K.initial_centroids(sv, k)
    got = {
        route: _rows(K._assign(sv, cents, "imi", n_sprobe=2, closure_max_bytes=cap))
        for route, cap in [("closure", K.IMI_CLOSURE_MAX_BYTES), ("cogroup", 0)]
    }
    _check(got, corpus)


@pytest.mark.parametrize("corpus", CORPORA)
def test_partial_sums_update_equals_posexplode(spark, emb, corpus):
    df, k = _corpus(spark, emb, corpus)
    sv = K.scaled_vectors(df)
    assigned = K._assign(sv, K.initial_centroids(sv, k), "arrow")
    posexplode = K._update_centroids(assigned)
    assert K._update_centroids(assigned, partial=True) == posexplode
    assert (posexplode == []) == (corpus == "empty")


@pytest.mark.parametrize("iters", [1, 2])
@pytest.mark.parametrize("corpus", CORPORA)
def test_pq_codebooks_local_replay_matches_distributed(
    spark, emb, corpus, iters, monkeypatch
):
    """Driver-side Lloyd replay ≡ the distributed per-iteration loop:
    same seeds, same exact distances and (dist2, cell) argmin tiebreak,
    same half-away-from-zero centroid update."""
    df, _ = _corpus(spark, emb, corpus)
    sub = PQ._subspace_rows(df, "vec_id", "embedding")
    local = _rows(PQ.pq_codebooks(sub, iters))
    monkeypatch.setattr(PQ, "PQ_LOCAL_TRAIN_MAX", -1)
    dist = _rows(PQ.pq_codebooks(sub, iters))
    release_operator_caches()
    _check({"local": local, "distributed": dist}, corpus)
    if corpus == "sf":
        assert len(local) == PQ.M_SUBS * PQ.K_CODES


@pytest.mark.parametrize("corpus", CORPORA)
def test_ivf_argmin_matches_window_rank_one(spark, emb, corpus):
    """The coarse IVF assignment's ``min_by`` argmin keeps, per vector,
    the rank-1 row of the (dist, cell) window over all cells."""
    df, k = _corpus(spark, emb, corpus)
    sv = K.scaled_vectors(df)
    cents = K._seed(
        sv, k, ["vec_id"],
        [F.col("vec_id").alias("cell"), F.col("v").alias("cv"),
         F.col("n").alias("cn")],
    )
    args = (sv, cents, ["vec_id"], "d", K._l2("v", "n", "cv", "cn"), "cell")
    got = _rows(K._nearest(*args, carry=["cell", "d"]))
    ranked = K._nearest(*args, n=k + 1, carry=["cell", "d"]).collect()
    want = {}
    for r in ranked:
        key = (r["d"], r["cell"])
        if r["vec_id"] not in want or key < want[r["vec_id"]][1:]:
            want[r["vec_id"]] = (r["vec_id"], *key)
    assert len(ranked) == df.count() * min(k, df.count())
    _check({"min_by": got, "window": sorted((i, c, d) for i, d, c in want.values())}, corpus)


def test_k_dispatch():
    """Literal up to LITERAL_ASSIGN_MAX_K, join past it, Arrow from
    ARROW_ASSIGN_MIN_K, two-level from IMI_ASSIGN_MIN_K (with a
    warning) unless pinned."""
    assert K._form(K.LITERAL_ASSIGN_MAX_K) == "literal"
    assert K._form(K.LITERAL_ASSIGN_MAX_K + 1) == "join"
    assert K._form(K.ARROW_ASSIGN_MIN_K - 1) == "join"
    assert K._form(K.ARROW_ASSIGN_MIN_K) == "arrow"
    assert K._form(K.IMI_ASSIGN_MIN_K, two_level=False) == "arrow"
    assert K._form(8, two_level=True) == "imi"
    with pytest.warns(UserWarning, match="APPROXIMATE"):
        assert K._form(K.IMI_ASSIGN_MIN_K) == "imi"


def test_kmeans_past_literal_cap_assigns_every_vector(emb):
    k = K.LITERAL_ASSIGN_MAX_K + 1
    rows = K.kmeans_assignments(emb, k=k, iters=1).collect()
    assert len(rows) == emb.count()
    assert {r["cluster"] for r in rows} <= set(range(k))


@pytest.mark.parametrize("k", [8, 70, 300])
def test_empty_corpus_yields_no_rows(emb, k):
    """Every L2 operator returns 0 rows on an empty corpus, at each k
    form (the literal and two-level forms have no centroid to build
    on)."""
    empty = emb.limit(0)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        assert K.kmeans_assignments(empty, k=k).collect() == []
        assert K.semantic_dedup(empty, k=k).collect() == []
    if k == 8:
        q = emb.filter(F.col("vec_id") < 10)
        assert PQ.pq_encode(empty).collect() == []
        assert PQ.pq_adc_topk(q, empty).collect() == []
        assert PQ.ivfpq_topk(q, empty).collect() == []
    release_operator_caches()
