"""Unit tests for the round-3 wave: k-means, SemDeDup, PPS sampling,
train/val/test split (queries/vectors.py, dedup.py, corpus.py,
operators/kmeans.py)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from spark_kafka_streaming_spark.operators.kmeans import (
    kmeans_assignments,
    semantic_dedup,
)
from spark_kafka_streaming_spark.queries import REGISTRY
from spark_kafka_streaming_spark.sources.batch import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_kmeans_partition_invariant(spark, emb):
    """Assignments are a pure function of the data — identical under
    any input partitioning (int64 math is associative everywhere)."""
    a1 = {
        (r["vec_id"], r["cluster"], r["dist2"])
        for r in kmeans_assignments(emb, k=4, iters=2).collect()
    }
    a2 = {
        (r["vec_id"], r["cluster"], r["dist2"])
        for r in kmeans_assignments(emb.repartition(13), k=4, iters=2).collect()
    }
    assert a1 == a2
    assert len(a1) == emb.count()


def test_kmeans_join_assignment_matches_literal(spark, emb):
    """The broadcast-join assignment (large-k path) is bit-identical
    to the literal-centroid expression — same exact int64 distances,
    same (dist, cid) tie-break — and kmeans_assignments routes through
    it automatically past LITERAL_ASSIGN_MAX_K."""
    from spark_kafka_streaming_spark.operators.kmeans import (
        LITERAL_ASSIGN_MAX_K,
        assign_clusters,
        assign_clusters_join,
        initial_centroids,
        scaled_vectors,
    )

    sv = scaled_vectors(emb)
    cents = initial_centroids(sv, 6)
    lit = {
        (r["vec_id"], r["cluster"], r["dist2"])
        for r in assign_clusters(sv, cents).collect()
    }
    jn = {
        (r["vec_id"], r["cluster"], r["dist2"])
        for r in assign_clusters_join(sv, cents).collect()
    }
    assert lit == jn
    # end-to-end: a k above the literal cap produces a full assignment
    k = LITERAL_ASSIGN_MAX_K + 1
    rows = kmeans_assignments(emb, k=k, iters=1).collect()
    assert len(rows) == emb.count()
    assert {r["cluster"] for r in rows} <= set(range(k))


def test_auto_k_contract():
    """auto_k stays at the oracle-replayable floor for every test
    corpus and reproduces the measured sf1 sweet spot."""
    from spark_kafka_streaming_spark.operators.kmeans import auto_k

    for n in (500, 2000, 3200):  # sf0.001/0.01, sf0.1, floor edge
        assert auto_k(n) == 8
    assert auto_k(20_000) == 50  # sf1: the measured 15.8 s point
    assert auto_k(200_000) == 500  # sf10


def test_kmeans_dist_is_exact_squared_l2(spark, emb):
    """dist2 for a sampled row equals the numpy int64 recomputation
    against the best centroid among ALL returned assignments' implied
    centroids — verified indirectly: dist2 >= 0 and the assigned
    cluster's dist2 is minimal vs. every other vector's centroid
    distance is covered by the oracle; here pin non-negativity and
    cluster range."""
    rows = kmeans_assignments(emb, k=4, iters=1).collect()
    assert all(0 <= r["cluster"] < 4 for r in rows)
    assert all(r["dist2"] >= 0 for r in rows)
    assert len({r["cluster"] for r in rows}) > 1


def test_semdedup_drops_planted_duplicate(spark, emb):
    """An exact copy of vector 0 under a higher id lands in the same
    cluster with cosine 1.0 — it must be dropped; the original kept."""
    big = 10_000_000
    clone = emb.where(F.col("vec_id") == 0).withColumn("vec_id", F.lit(big))
    out = semantic_dedup(emb.unionByName(clone), k=4, tau=0.9).collect()
    by_id = {r["vec_id"]: r for r in out}
    assert by_id[big]["kept"] is False
    assert by_id[0]["kept"] is True
    assert by_id[big]["cluster"] == by_id[0]["cluster"]


def test_semdedup_tau_monotone(spark, emb):
    """Raising tau can only keep more vectors."""
    kept_lo = sum(1 for r in semantic_dedup(emb, k=4, tau=0.3).collect() if r["kept"])
    kept_hi = sum(1 for r in semantic_dedup(emb, k=4, tau=0.99).collect() if r["kept"])
    assert kept_lo <= kept_hi


def test_pps_sample_size_and_heavy_item(spark, sf_dir):
    """Systematic PPS yields exactly k picks when no weight exceeds
    W/k, and a planted overweight item is always selected."""
    q = REGISTRY["q_sample_weighted_pps"]
    out = q.builder(spark, sf_dir).collect()
    # strata ids strictly increase; at most one pick per stratum
    picks = [r["pick"] for r in out]
    assert picks == sorted(picks) and len(set(picks)) == len(picks)
    docs = load_table(spark, sf_dir, "documents")
    total = docs.agg(F.sum("n_chars")).collect()[0][0]
    max_w = docs.agg(F.max("n_chars")).collect()[0][0]
    if max_w * 50 < total:
        assert len(out) == 50


def test_pps_heavy_item_always_selected(spark, sf_dir):
    from spark_kafka_streaming_spark.functions import texthash as TH
    from spark_kafka_streaming_spark.operators.sharding import global_running_sum

    docs = load_table(spark, sf_dir, "documents")
    heavy = docs.limit(1).withColumn("doc_id", F.lit(99_999_999)).withColumn(
        "n_chars", F.lit(10_000_000)
    )
    w = (
        docs.unionByName(heavy)
        .select(
            "doc_id",
            F.col("n_chars").cast("bigint").alias("wt"),
            F.expr(TH.spark_str_hash_raw("CAST(doc_id AS STRING)")).alias("h"),
        )
    )
    c = global_running_sum(w, "wt", ["h", "doc_id"])
    total = c.groupBy().agg(F.sum("wt").alias("t"))
    sel = (
        c.crossJoin(F.broadcast(total))
        .where(F.expr("((cum - wt) * 50) DIV t") < F.expr("(cum * 50) DIV t"))
        .select("doc_id")
        .collect()
    )
    assert 99_999_999 in {r["doc_id"] for r in sel}


def test_split_is_deterministic_partition_of_corpus(spark, sf_dir):
    q = REGISTRY["q_split_train_val_test"]
    rows = q.builder(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    assert sum(r["n_docs"] for r in rows) == docs.count()
    splits = {r["split"] for r in rows}
    assert splits <= {"train", "val", "test"}
    n = {s: sum(r["n_docs"] for r in rows if r["split"] == s) for s in splits}
    # hash split tracks 80/10/10 loosely even on small corpora
    assert n.get("train", 0) > n.get("val", 0)
    assert n.get("train", 0) > n.get("test", 0)


def test_pq_encode_shape_and_codes(spark, emb):
    from spark_kafka_streaming_spark.operators.pq import (
        K_CODES,
        M_SUBS,
        pq_encode,
    )

    out = pq_encode(emb, iters=1).collect()
    n = emb.count()
    assert len(out) == n * M_SUBS
    codes = {r["code"] for r in out}
    # codes are labeled by seed vector ids — at most K_CODES distinct
    assert 1 < len(codes) <= K_CODES
    assert all(r["dist2"] >= 0 for r in out)


def test_pq_sample_trained_encode_covers_corpus(spark, emb):
    """Sample-training (the production split: learn codebooks on 1/mod
    of ids, encode everything) still assigns every vector a valid code
    per subspace; with mod=1 it degenerates to full training exactly."""
    from spark_kafka_streaming_spark.operators.pq import (
        K_CODES,
        M_SUBS,
        pq_encode,
    )

    n = emb.count()
    out = pq_encode(emb, iters=1, train_sample_mod=4).collect()
    assert len(out) == n * M_SUBS
    assert 1 < len({r["code"] for r in out}) <= K_CODES
    assert all(r["dist2"] >= 0 for r in out)
    full = {(r["vec_id"], r["sub_id"]): r["code"] for r in pq_encode(
        emb, iters=1
    ).collect()}
    mod1 = {(r["vec_id"], r["sub_id"]): r["code"] for r in pq_encode(
        emb, iters=1, train_sample_mod=1
    ).collect()}
    assert mod1 == full


def test_pq_lloyd_reduces_reconstruction_error(spark, emb):
    """One Lloyd refinement must not increase total quantization error
    (k-means monotonicity, exact arithmetic edition — up to the
    integer rounding of centroids, so allow a 0.1% slack)."""
    from spark_kafka_streaming_spark.operators.pq import pq_encode

    e0 = pq_encode(emb, iters=0).agg(F.sum("dist2")).collect()[0][0]
    e1 = pq_encode(emb, iters=1).agg(F.sum("dist2")).collect()[0][0]
    assert e1 <= e0 * 1.001


def test_pq_adc_approximates_bruteforce(spark, emb):
    """ADC neighbors overlap the exact top-k better than chance: at
    sf0.001 (50 vectors) random top-5 overlap would be ~0.10; PQ with
    16 cells per subspace measures ~0.22 here and ~0.32 at sf0.01 —
    pin aggregate recall >= 0.15 (PQ is the memory-lossy tier;
    LSH/IVF are the recall tiers, and production PQ re-ranks ADC
    shortlists with exact distances)."""
    from spark_kafka_streaming_spark.operators.pq import pq_adc_topk
    from spark_kafka_streaming_spark.operators.similarity import brute_force_topk

    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(q, emb, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_adc_topk(q, emb, k=5, iters=1).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.15


def test_temperature_mixing_flattens_distribution(spark, sf_dir):
    """T=0.5 quotas sit between uniform and proportional: the majority
    language's sampled share must be below its corpus share, and no
    language samples more than its quota or its availability."""
    q = REGISTRY["q_mix_temperature_lang"]
    rows = q.builder(spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    counts = {r["lang"]: r["count"] for r in docs.groupBy("lang").count().collect()}
    total = sum(counts.values())
    sampled = {r["lang"]: r["n_sampled"] for r in rows}
    for r in rows:
        assert r["n_sampled"] <= r["target"]
        assert r["n_sampled"] <= counts[r["lang"]]
    top = max(counts, key=counts.get)
    assert sampled[top] / sum(sampled.values()) <= counts[top] / total + 1e-9


def test_kmeans_assignment_is_streaming_compatible(spark, emb, tmp_path):
    """The assignment stage is map-only (literal centroids, no
    shuffle), so the SAME operator runs unchanged on a stream —
    stream-static scoring of incoming vectors against a trained
    codebook. Assignments must equal the batch run row-for-row."""
    import json as _json
    import os as _os

    from spark_kafka_streaming_spark.operators.kmeans import (
        _update_centroids,
        assign_clusters,
        initial_centroids,
        scaled_vectors,
    )
    from spark_kafka_streaming_spark.streaming.pipeline import start_sink

    sv = scaled_vectors(emb)
    cents = _update_centroids(assign_clusters(sv, initial_centroids(sv, 4)))
    batch = {
        (r["vec_id"], r["cluster"], r["dist2"])
        for r in assign_clusters(sv, cents).collect()
    }

    src = str(tmp_path / "vec_stream")
    _os.makedirs(src, exist_ok=True)
    rows = emb.collect()
    with open(_os.path.join(src, "b1.json"), "w") as f:
        for r in rows:
            f.write(
                _json.dumps({"vec_id": r["vec_id"], "embedding": list(r["embedding"])})
                + "\n"
            )
    stream = spark.readStream.schema("vec_id bigint, embedding array<float>").json(src)
    assigned = assign_clusters(scaled_vectors(stream), cents).select(
        "vec_id", "cluster", "dist2"
    )
    q = start_sink(
        assigned, "memory", query_name="vec_assign",
        checkpoint=str(tmp_path / "ck_vec"),
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    streamed = {
        (r["vec_id"], r["cluster"], r["dist2"])
        for r in spark.sql("SELECT * FROM vec_assign").collect()
    }
    assert streamed == batch


def test_sliding_chunks_cover_and_overlap(spark, sf_dir):
    """Every document's token stream is fully covered: chunk 0 starts
    at token 1, consecutive chunks start exactly stride apart, and the
    last chunk reaches the final token. Short docs yield one chunk."""
    from spark_kafka_streaming_spark.operators.chunks import sliding_chunks

    docs = load_table(spark, sf_dir, "documents")
    out = sliding_chunks(docs, width=32, stride=24).collect()
    toks = {
        r["doc_id"]: [t for t in r["text"].split(" ") if t]
        for r in docs.select("doc_id", "text").collect()
    }
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_idx"])
        t = toks[doc_id]
        n = len(t)
        expected = max(0, (max(n - 32, 0) + 23) // 24) + 1
        assert len(chunks) == expected
        for r in chunks:
            start = r["chunk_idx"] * 24
            want = t[start : start + 32]
            assert r["chunk_text"].split(" ") == want
            assert r["n_tok"] == len(want)
        # last chunk reaches the end of the token stream
        last = chunks[-1]
        assert last["chunk_idx"] * 24 + last["n_tok"] == n


def test_ivfpq_beats_random_and_stays_in_probed_cells(spark, emb):
    """IVFPQ recall has two loss sources (cell pruning 4/16 + PQ
    quantization); random top-5 overlap is ~0.01 per pair — pin
    aggregate recall >= 0.1, and sanity: k results per query, ranks
    1..k, no self-matches."""
    from spark_kafka_streaming_spark.operators.pq import ivfpq_topk
    from spark_kafka_streaming_spark.operators.similarity import brute_force_topk

    q = emb.filter(F.col("vec_id") < 10)
    out = ivfpq_topk(q, emb, k=5, iters=1).collect()
    by_q = {}
    for r in out:
        assert r["query_id"] != r["neighbor_id"]
        by_q.setdefault(r["query_id"], []).append(r["rn"])
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(q, emb, k=5).collect()
    }
    approx = {(r["query_id"], r["neighbor_id"]) for r in out}
    assert len(exact & approx) / len(exact) >= 0.1


def test_streaming_pq_index_maintenance(spark, emb, tmp_path):
    """Streaming vector-index maintenance: a static codebook (trained
    once on the reference corpus), incoming vectors encoded per
    micro-batch and APPENDED to a parquet code table via foreachBatch
    — the streaming half of an IVFPQ/ADC deployment. The accumulated
    code table must equal the batch encoding of the same vectors
    (codes are a pure function of vector x codebook, so append-only
    maintenance is exact)."""
    import json as _json
    import os as _os

    from spark_kafka_streaming_spark.operators.pq import (
        _nearest_code,
        _subspace_rows,
        pq_codebooks,
    )

    sub = _subspace_rows(emb, "vec_id", "embedding")
    cents = pq_codebooks(sub, iters=1)
    cents.persist().count()
    expected = {
        (r["id"], r["sub_id"], r["cell"])
        for r in _nearest_code(sub, cents).collect()
    }

    src = str(tmp_path / "vec_src")
    out = str(tmp_path / "codes_out")
    _os.makedirs(src, exist_ok=True)
    rows = emb.collect()
    half = len(rows) // 2
    for name, batch in [("b1.json", rows[:half]), ("b2.json", rows[half:])]:
        with open(_os.path.join(src, name), "w") as f:
            for r in batch:
                f.write(_json.dumps(
                    {"vec_id": r["vec_id"], "embedding": list(r["embedding"])}
                ) + "\n")

    stream = spark.readStream.schema(
        "vec_id bigint, embedding array<float>"
    ).option("maxFilesPerTrigger", 1).json(src)

    def encode_batch(batch_df, batch_id):
        codes = _nearest_code(
            _subspace_rows(batch_df, "vec_id", "embedding"), cents
        ).select("id", "sub_id", "cell")
        codes.write.mode("append").parquet(out)

    q = (
        stream.writeStream.foreachBatch(encode_batch)
        .option("checkpointLocation", str(tmp_path / "ck_codes"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["id"], r["sub_id"], r["cell"])
        for r in spark.read.parquet(out).collect()
    }
    cents.unpersist()
    assert got == expected


def test_adc_and_ivfpq_sample_training(spark, emb):
    """Sample-trained codebooks in the search paths: top-k output keeps
    its shape/determinism contract, and mod=1 degenerates to full
    training exactly (same guarantee as pq_encode's)."""
    from spark_kafka_streaming_spark.operators.pq import (
        ivfpq_topk,
        pq_adc_topk,
    )

    q = emb.limit(5)
    for fn in (pq_adc_topk, ivfpq_topk):
        full = sorted(
            map(tuple, fn(q, emb, k=3, train_sample_mod=1).collect())
        )
        base = sorted(map(tuple, fn(q, emb, k=3).collect()))
        assert full == base
        sampled = fn(q, emb, k=3, train_sample_mod=4).collect()
        assert {r["query_id"] for r in sampled} == {
            r["vec_id"] for r in q.collect()
        }
        for r in sampled:
            assert 1 <= r["rn"] <= 3 and r["adist"] >= 0
