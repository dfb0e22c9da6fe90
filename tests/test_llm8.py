"""Unit tests for the sketch + search-index wave (queries/sketches.py,
text.py, dedup.py, operators/sketches.py): Count-Min, HyperLogLog,
Bloom, inverted index, n-gram novelty — semantic properties beyond
the DuckDB mirror, plus the streaming mergeability story."""

from __future__ import annotations

import json as _json

import pyspark.sql.functions as F

from spark_kafka_streaming_spark.operators import sketches as SK
from spark_kafka_streaming_spark.queries import REGISTRY
from spark_kafka_streaming_spark.sources.batch import load_table


# ------------------------------------------------------------ Count-Min


def test_cms_overestimates_only(spark, sf_dir, events):
    """CMS error is one-sided: est >= true for EVERY key (not just the
    top-20 the catalog query returns)."""
    sketch = SK.cms_build(events, "user_id")
    truth = events.groupBy("user_id").agg(F.count("*").alias("true_cnt"))
    est = SK.cms_estimate(truth.select("user_id"), sketch, "user_id")
    bad = (
        truth.join(est, "user_id")
        .where(F.col("est_cnt") < F.col("true_cnt"))
        .count()
    )
    assert bad == 0


def test_cms_rows_each_sum_to_n(events):
    """Every hash row of the sketch distributes all N updates."""
    n = events.count()
    per_row = {
        r["r"]: r["s"]
        for r in SK.cms_build(events, "user_id")
        .groupBy("r")
        .agg(F.sum("cnt").alias("s"))
        .collect()
    }
    assert per_row == {i: n for i in range(SK.CMS_D)}


def _sketch_cells(df):
    return {(r["r"], r["b"]): r["cnt"] for r in df.collect()}


def test_cms_merges_cellwise(events):
    """sketch(A ∪ B) == sketch(A) + sketch(B) cell-wise — the property
    that makes partial aggregation and cross-batch merging exact."""
    a = SK.cms_build(events.where("event_id % 2 = 0"), "user_id")
    b = SK.cms_build(events.where("event_id % 2 = 1"), "user_id")
    merged: dict = {}
    for cells in (_sketch_cells(a), _sketch_cells(b)):
        for k, v in cells.items():
            merged[k] = merged.get(k, 0) + v
    assert merged == _sketch_cells(SK.cms_build(events, "user_id"))


def test_cms_streaming_incremental_equals_batch(spark, tmp_path, events):
    """Per-micro-batch sketches merged by cell-wise sum reproduce the
    one-shot batch sketch exactly — the streaming CMS maintenance
    pattern (foreachBatch + mergeable summary)."""
    rows = [
        {"user_id": r["user_id"]}
        for r in events.select("user_id").limit(200).collect()
    ]
    src = tmp_path / "src"
    src.mkdir()
    half = len(rows) // 2
    (src / "b0.json").write_text(
        "\n".join(_json.dumps(r) for r in rows[:half])
    )
    (src / "b1.json").write_text(
        "\n".join(_json.dumps(r) for r in rows[half:])
    )

    acc: dict = {}
    n_batches = []

    def merge_batch(df, epoch_id):
        for k, v in _sketch_cells(SK.cms_build(df, "user_id")).items():
            acc[k] = acc.get(k, 0) + v
        n_batches.append(epoch_id)

    stream = (
        spark.readStream.schema("user_id BIGINT")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch_df = spark.createDataFrame(rows, "user_id BIGINT")
    assert acc == _sketch_cells(SK.cms_build(batch_df, "user_id"))
    assert len(n_batches) >= 2  # genuinely incremental


# ------------------------------------------------------- HyperLogLog


def test_hll_registers_partition_invariant(events):
    regs = lambda df: {  # noqa: E731
        (r["bucket"], r["r"])
        for r in SK.hll_registers(df, "user_id").collect()
    }
    assert regs(events) == regs(events.repartition(13))


def test_hll_merges_by_max(events):
    a = {
        r["bucket"]: r["r"]
        for r in SK.hll_registers(
            events.where("event_id % 2 = 0"), "user_id"
        ).collect()
    }
    b = {
        r["bucket"]: r["r"]
        for r in SK.hll_registers(
            events.where("event_id % 2 = 1"), "user_id"
        ).collect()
    }
    merged = {k: max(a.get(k, 0), b.get(k, 0)) for k in range(SK.HLL_M)}
    full = {
        r["bucket"]: r["r"]
        for r in SK.hll_registers(events, "user_id").collect()
    }
    assert merged == full


def test_hll_estimate_in_range(spark, sf_dir):
    """The query returns the raw estimate plus n_empty, which is
    exactly what the standard small-range (linear counting) correction
    needs: when raw_est <= 2.5m and registers are empty, use
    m·ln(m/V).  The corrected estimate lands within a generous factor
    of truth even at test-scale cardinalities; production m=2^12+
    gives ~1.04/sqrt(m) relative error."""
    import math

    row = REGISTRY["q_sketch_hll"].builder(spark, sf_dir).collect()[0]
    assert row["m"] == SK.HLL_M
    assert row["true_distinct"] > 0
    est = row["raw_est"]
    if est <= 2.5 * row["m"] and row["n_empty"] > 0:
        est = row["m"] * math.log(row["m"] / row["n_empty"])
    assert 0.5 * row["true_distinct"] <= est <= 2.0 * row["true_distinct"]


# ------------------------------------------------------------ Bloom


def test_bloom_no_false_negatives(spark, sf_dir):
    """Every exact eval-overlap shingle tests bloom-positive, so
    n_bloom_hits >= n_exact_hits per doc, and every doc flagged by the
    exact decontamination pass appears in the bloom pass."""
    res = REGISTRY["q_decontaminate_bloom"].builder(spark, sf_dir)
    rows = res.collect()
    assert all(r["n_bloom_hits"] >= r["n_exact_hits"] for r in rows)
    assert all(r["n_false_pos"] >= 0 for r in rows)
    exact = REGISTRY["q_decontaminate_ngram"].builder(spark, sf_dir)
    exact_docs = {r["doc_id"] for r in exact.collect()}
    bloom_docs = {r["doc_id"] for r in rows}
    assert exact_docs <= bloom_docs


def test_bloom_probe_accepts_own_members(spark):
    """Membership is exact for inserted elements (FPs only for
    non-members)."""
    hs = spark.range(100).select((F.col("id") * 7919 + 13).alias("h"))
    bitmap = SK.bloom_build(hs, "h")
    assert SK.bloom_probe(hs, bitmap, "h").count() == 100


# --------------------------------------------------- inverted index


def test_inverted_index_against_python(spark, sf_dir):
    """Full recomputation of df/total_tf/top-docs in plain Python over
    the collected corpus (test corpora are small)."""
    docs = {
        r["doc_id"]: [t for t in (r["text"] or "").split(" ") if t]
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    tf: dict = {}
    for d, toks in docs.items():
        for t in toks:
            tf[(t, d)] = tf.get((t, d), 0) + 1
    expected = {}
    terms = {t for t, _ in tf}
    for t in terms:
        posts = sorted(
            ((d, c) for (tt, d), c in tf.items() if tt == t),
            key=lambda x: (-x[1], x[0]),
        )
        expected[t] = (
            len(posts),
            sum(c for _, c in posts),
            [d for d, _ in posts[:5]],
        )
    # top_docs is serialized to a comma-joined string (container
    # outputs are forbidden by the registry rule); parse it back.
    got = {
        r["term"]: (
            r["df"],
            r["total_tf"],
            [int(x) for x in r["top_docs"].split(",") if x != ""],
        )
        for r in REGISTRY["q_text_inverted_index"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert got == expected


# ------------------------------------------------- n-gram novelty


def test_novelty_bounds_and_totals(spark, sf_dir):
    rows = REGISTRY["q_ngram_novelty"].builder(spark, sf_dir).collect()
    assert all(0.0 <= r["novelty"] <= 1.0 for r in rows)
    assert all(r["n_novel"] <= r["n_shingles"] for r in rows)
    # every distinct shingle is novel in exactly one document
    from spark_kafka_streaming_spark.operators.signatures import (
        signature_table,
    )

    n_distinct = (
        signature_table(spark, sf_dir)
        .select(F.explode("hs").alias("h"))
        .distinct()
        .count()
    )
    assert sum(r["n_novel"] for r in rows) == n_distinct
    # the first non-empty doc is fully novel
    first = next(r for r in rows if r["n_shingles"] > 0)
    assert first["novelty"] == 1.0


# --------------------------------------------------- KMV set ops


def test_kmv_structural(spark, sf_dir):
    row = REGISTRY["q_sketch_kmv_setops"].builder(spark, sf_dir).collect()[0]
    assert row["n_both"] <= row["k"]
    assert row["inter_true"] <= min(row["n_a_true"], row["n_b_true"])
    assert row["union_true"] <= row["n_a_true"] + row["n_b_true"]
    assert row["union_est"] > 0
    assert row["inter_est"] <= row["union_est"] + 1e-9


def test_kmv_estimator_accuracy(spark):
    """The (k-1)/h_k estimator over the portable 60-bit hash lands
    within ~35% of truth for n >> k (1.0/sqrt(k-1) relative error at
    k=32 is ~18%; allow 2 sigma)."""
    from spark_kafka_streaming_spark.functions import texthash as TH

    n, k = 2000, 32
    hs = spark.range(n).select(
        F.expr(TH.spark_str_hash_raw("CAST(id AS STRING)")).alias("h")
    )
    h_k = hs.orderBy("h").limit(k).agg(F.max("h")).collect()[0][0]
    est = (k - 1) * float(1 << 60) / h_k
    assert 0.65 * n <= est <= 1.35 * n


# ------------------------------------------------- TV corpus drift


def test_tv_drift_bounds(spark, sf_dir):
    row = REGISTRY["q_corpus_drift_tv"].builder(spark, sf_dir).collect()[0]
    assert 0.0 <= row["tv"] <= 1.0
    assert row["tv_scaled"] >= 0


def test_tv_drift_extremes(spark, sf_dir, tmp_path):
    """Identical halves → TV = 0; disjoint vocabularies → TV = 1."""
    from spark_kafka_streaming_spark.queries import REGISTRY as R

    def run(rows):
        df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING, "
                                   "lang STRING, source STRING, n_chars BIGINT")
        p = tmp_path / f"d{len(rows)}_{abs(hash(str(rows))) % 99999}"
        df.write.mode("overwrite").parquet(str(p / "documents.parquet"))
        return R["q_corpus_drift_tv"].builder(spark, str(p)).collect()[0]

    same = run([(i, "a b c", "en", "s", 5) for i in range(4)])
    assert same["tv"] == 0.0
    disjoint = run(
        [(0, "a a", "en", "s", 3), (2, "a", "en", "s", 1),
         (1, "b b b", "en", "s", 5), (3, "b", "en", "s", 1)]
    )
    assert disjoint["tv"] == 1.0


# -------------------------------------------- quantile histogram


def test_log_histogram_merges_by_sum(events):
    a = {
        r["bucket"]: r["cnt"]
        for r in SK.log_histogram(
            events.where("event_id % 2 = 0"), "value"
        ).collect()
    }
    b = {
        r["bucket"]: r["cnt"]
        for r in SK.log_histogram(
            events.where("event_id % 2 = 1"), "value"
        ).collect()
    }
    merged = {k: a.get(k, 0) + b.get(k, 0) for k in set(a) | set(b)}
    full = {
        r["bucket"]: r["cnt"]
        for r in SK.log_histogram(events, "value").collect()
    }
    assert merged == full


def test_quantile_hist_error_bounded(spark, sf_dir):
    """The interpolated estimate lives inside the 2x-wide bucket that
    contains the target rank, so it is within ~2x of the exact
    percentile (modulo the continuous-interpolation comparator
    straddling a bucket edge)."""
    rows = REGISTRY["q_sketch_quantile_hist"].builder(spark, sf_dir).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["exact_value"] > 0
        assert 0.4 <= r["est_value"] / r["exact_value"] <= 2.5


# ------------------------------------------------- collocations


def test_collocations_against_python(spark, sf_dir):
    """Top-k lift collocations recomputed in plain Python."""
    texts = [
        (r["text"] or "")
        for r in load_table(spark, sf_dir, "documents").collect()
    ]
    uni: dict = {}
    bi: dict = {}
    for t in texts:
        toks = [w for w in t.split(" ") if w]
        for w in toks:
            uni[w] = uni.get(w, 0) + 1
        for a, b in zip(toks, toks[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1
    n_uni = sum(uni.values())
    n_bi = sum(bi.values())
    scored = [
        (
            ((c * float(n_uni)) * float(n_uni))
            / ((float(uni[a]) * float(uni[b])) * float(n_bi)),
            a,
            b,
            c,
        )
        for (a, b), c in bi.items()
        if c >= 5
    ]
    scored.sort(key=lambda x: (-x[0], x[1], x[2]))
    expected = [(a, b, c) for _, a, b, c in scored[:20]]
    got = [
        (r["w1"], r["w2"], r["c_ab"])
        for r in REGISTRY["q_text_collocations_lift"]
        .builder(spark, sf_dir)
        .collect()
    ]
    assert got == expected


def test_hll_grouped_consistent_with_global(spark, sf_dir):
    """Every group's (linear-counting-corrected) estimate lands within
    a generous factor of its exact distinct count."""
    import math

    rows = REGISTRY["q_sketch_hll_grouped"].builder(spark, sf_dir).collect()
    assert len(rows) >= 2
    for r in rows:
        assert r["true_distinct"] > 0
        est = r["raw_est"]
        if est <= 2.5 * SK.HLL_M and r["n_empty"] > 0:
            est = SK.HLL_M * math.log(SK.HLL_M / r["n_empty"])
        assert 0.4 * r["true_distinct"] <= est <= 2.5 * r["true_distinct"]


def test_cms_estimate_absent_key_is_zero(spark):
    """Point-querying a key never inserted returns 0 (left-join probe),
    not a dropped row or a min over partial cells."""
    inserted = spark.createDataFrame([(1,), (2,), (3,)], "user_id BIGINT")
    sketch = SK.cms_build(inserted, "user_id")
    probe = spark.createDataFrame([(999999,), (1,)], "user_id BIGINT")
    got = {
        r["user_id"]: r["est_cnt"]
        for r in SK.cms_estimate(probe, sketch, "user_id").collect()
    }
    assert set(got) == {999999, 1}
    assert got[1] >= 1
    # 999999's cells are almost surely untouched by 3 keys; and even on
    # a collision the estimate is bounded by the insert count.
    assert 0 <= got[999999] <= 3


def test_kmv_underfilled_falls_back_to_exact(spark, tmp_path):
    """With |union| < k the sketch is exhaustive and the estimators
    return the exact sketch sizes instead of the (k-1)/h_k formula."""
    rows = []
    eid = 0
    import datetime as _dt

    base = _dt.datetime(2024, 1, 1)
    for u in range(5):
        for et in (["click"] if u < 4 else ["purchase"]):
            rows.append((eid, base, u, et, 1.0, "{}"))
            eid += 1
    rows.append((eid, base, 3, "purchase", 1.0, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING",
    )
    p = tmp_path / "kmv_small"
    df.write.mode("overwrite").parquet(str(p / "events.parquet"))
    row = REGISTRY["q_sketch_kmv_setops"].builder(spark, str(p)).collect()[0]
    assert row["n_sketch"] == row["union_true"] < row["k"]
    assert row["union_est"] == float(row["union_true"])
    assert row["inter_est"] == float(row["inter_true"]) == float(row["n_both"])


# --------------------------------------------- simhash saturation guard


def test_simhash_cap_drops_megabucket_keeps_rest(spark):
    """A 120-clone mega-bucket is dropped by the cap while a pair in
    un-saturated buckets survives — and capped pairs are always a
    subset of the uncapped result."""
    from spark_kafka_streaming_spark.operators.dedup import simhash_pairs

    clone = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "table window stream batch merge filter join scan sort agg"
    rows = [(i, clone) for i in range(120)]
    rows += [(1000, other), (1001, other)]
    df = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")

    capped = {
        (r["id1"], r["id2"])
        for r in simhash_pairs(df, max_hamming=1, max_bucket=50).collect()
    }
    assert capped == {(1000, 1001)}

    uncapped = {
        (r["id1"], r["id2"])
        for r in simhash_pairs(df, max_hamming=1).collect()
    }
    assert capped <= uncapped
    assert (0, 1) in uncapped  # the clones pair without the cap
