"""Planted-cluster quality pins (VERDICT r6 #3): the driver's
embeddings are near-uniform, so its green hashes pin DETERMINISM of
the ANN tier but not retrieval QUALITY — the agreement harness
honestly reads ~0.51 there.  This fixture plants 40 well-separated
clusters (the SCALE.md round-6 measurement, now asserted in CI) and
pins: IVF and IMI recall vs brute force, exact↔ANN label-propagation
agreement, and propagated-label accuracy against the planted truth.
"""

from __future__ import annotations

import numpy as np
import pytest

N_CLUSTERS = 40
N_VECS = 2000
DIM = 64
NOISE = 0.05


@pytest.fixture(scope="module")
def clustered(spark):
    rng = np.random.default_rng(40)
    centers = rng.normal(0, 1, (N_CLUSTERS, DIM))
    cl = rng.integers(0, N_CLUSTERS, N_VECS)
    vecs = centers[cl] + NOISE * rng.normal(0, 1, (N_VECS, DIM))
    rows = [
        (int(i), f"c{cl[i]}", [float(x) for x in vecs[i]])
        for i in range(N_VECS)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id BIGINT, label STRING, embedding ARRAY<FLOAT>"
    )
    emb.persist().count()
    truth_label = {int(i): f"c{cl[i]}" for i in range(N_VECS)}
    yield emb, truth_label
    emb.unpersist()


def _corpus_sample(emb):
    return emb.filter("vec_id % 5 != 0"), emb.filter("vec_id % 20 == 0")


def test_ann_recall_on_clustered_corpus(clustered):
    from spark_kafka_streaming_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        ivf_topk_imi,
    )
    from spark_kafka_streaming_spark.queries.similarity import auto_cells

    emb, _ = clustered
    corpus, sample = _corpus_sample(emb)
    nc = auto_cells(corpus.count())
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(sample, corpus, k=5).collect()
    }
    for fn in (ivf_topk, ivf_topk_imi):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in fn(sample, corpus, k=5, n_cells=nc).collect()
        }
        recall = len(truth & got) / len(truth)
        assert recall >= 0.9, (fn.__name__, recall)  # measured 1.00


def test_propagation_agreement_on_clustered_corpus(clustered):
    """The SCALE.md round-6 claim, asserted: on structured embeddings
    the ANN-propagated labels agree with the exact-propagated labels
    ≥ 0.95 (measured 1.00), for both the single-level and two-level
    candidate tiers — the 0.51 driver-corpus reading is a property of
    the unstructured corpus, not of the operator."""
    from spark_kafka_streaming_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_imi,
        knn_classify,
    )
    from spark_kafka_streaming_spark.queries.similarity import auto_cells

    emb, truth_label = clustered
    corpus, sample = _corpus_sample(emb)
    nc = auto_cells(corpus.count())
    exact = {
        r["vec_id"]: r["predicted_label"]
        for r in knn_classify(sample, corpus, k=5).collect()
    }
    assert len(exact) == 100
    for fn in (ivf_topk, ivf_topk_imi):
        nn = fn(sample, corpus, k=5, n_cells=nc)
        ann = {
            r["vec_id"]: r["predicted_label"]
            for r in knn_classify(sample, corpus, k=5, neighbors=nn).collect()
        }
        agreement = sum(1 for k in exact if ann.get(k) == exact[k]) / len(exact)
        assert agreement >= 0.95, (fn.__name__, agreement)
        # and the propagated labels recover the PLANTED clusters
        accuracy = sum(1 for k in ann if ann[k] == truth_label[k]) / len(ann)
        assert accuracy >= 0.95, (fn.__name__, accuracy)
