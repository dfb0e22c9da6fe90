"""Semantic tests for the third LLM wave: decontamination, chunk-level
dedup, PII redaction, and token-budget sharding — planted-case checks
that the operators find exactly what was planted, independent of the
DuckDB differential gate (test_oracle_diff.py covers oracle parity).
"""

from __future__ import annotations

import pytest

from spark_kafka_streaming_spark.operators.chunks import chunk_dup_stats
from spark_kafka_streaming_spark.operators.decontaminate import (
    contamination_hits,
)
from spark_kafka_streaming_spark.operators.sharding import (
    global_running_sum,
    shard_by_token_budget,
)
from spark_kafka_streaming_spark.operators.text import redact_pii


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_contamination_finds_planted_overlap(spark):
    train = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon"),  # shares 3-grams with eval
            (2, "zeta eta theta iota kappa"),  # disjoint
        ],
    )
    eval_df = _docs(spark, [(100, "alpha beta gamma delta")])
    hits = {r.doc_id: r.n_hits for r in contamination_hits(train, eval_df).collect()}
    # eval has 2 distinct 3-grams, both inside doc 1; doc 2 clean.
    assert hits == {1: 2}


def test_chunk_dedup_finds_shared_chunk(spark):
    shared = " ".join(f"w{i}" for i in range(16))
    uniq_a = " ".join(f"a{i}" for i in range(16))
    uniq_b = " ".join(f"b{i}" for i in range(16))
    df = _docs(
        spark,
        [
            (1, f"{shared} {uniq_a}"),
            (2, f"{shared} {uniq_b}"),
            (3, uniq_b),  # also dups doc 2's second chunk
            (4, "short doc under one chunk"),
        ],
    )
    out = {r.doc_id: (r.n_chunks, r.n_dup_chunks) for r in chunk_dup_stats(df).collect()}
    assert out == {1: (2, 1), 2: (2, 2), 3: (1, 1)}  # doc 4 dropped (<16 tokens)


def test_redact_pii_counts_and_scrubs(spark):
    df = _docs(
        spark,
        [(1, "mail me at bob.smith+x@mail.example.org or 192.168.0.1 ok")],
    )
    r = redact_pii(df).collect()[0]
    assert (r.n_emails, r.n_ips) == (1, 1)
    assert "@" not in r.redacted and "192" not in r.redacted
    assert "<EMAIL>" in r.redacted and "<IP>" in r.redacted


def test_global_running_sum_matches_naive_window(spark):
    import random

    rng = random.Random(7)
    rows = [(i, rng.randint(0, 50)) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, x long")
    got = {
        r.id: r.cum
        for r in global_running_sum(df, "x", ["id"], num_parts=7).collect()
    }
    acc, want = 0, {}
    for i, x in rows:  # ids are already in order
        acc += x
        want[i] = acc
    assert got == want


def test_shard_budget_properties(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = shard_by_token_budget(docs, 500).collect()
    assert len(out) == docs.count()
    # greedy start-offset packing: shard boundaries are non-decreasing in
    # cum, and every shard's span of starting offsets fits the budget.
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r.shard_id, []).append(r)
    max_start = {s: max(r.cum - r.n_tok for r in rs) for s, rs in by_shard.items()}
    for s, m in max_start.items():
        assert s * 500 <= m < (s + 1) * 500
    # shard ids are contiguous from 0
    assert sorted(by_shard) == list(range(len(by_shard)))


@pytest.mark.parametrize("parts", [1, 3, 16])
def test_running_sum_partition_invariance(spark, parts):
    rows = [(i, i % 5) for i in range(50)]
    df = spark.createDataFrame(rows, "id long, x long")
    got = sorted(
        (r.id, r.cum)
        for r in global_running_sum(df, "x", ["id"], num_parts=parts).collect()
    )
    base = sorted(
        (r.id, r.cum)
        for r in global_running_sum(df, "x", ["id"], num_parts=2).collect()
    )
    assert got == base


def test_group_centroids_exact(spark):
    from spark_kafka_streaming_spark.operators.vector_agg import (
        group_centroids,
    )

    df = spark.createDataFrame(
        [
            (0, [1.0, 2.0]),
            (0, [3.0, 6.0]),
            (1, [10.0, -10.0]),
        ],
        "label int, embedding array<float>",
    )
    out = {
        r.label: (r.n_vecs, list(r.centroid))
        for r in group_centroids(df, ["label"]).collect()
    }
    assert out == {0: (2, [2.0, 4.0]), 1: (1, [10.0, -10.0])}


def test_exact_median_histogram(spark):
    from spark_kafka_streaming_spark.operators.sharding import (
        exact_median_int,
    )

    # odd count: true middle; even count: lower-middle (k = (n+1) div 2)
    odd = spark.createDataFrame([(v,) for v in [5, 1, 9, 3, 7]], "x long")
    assert exact_median_int(odd, "x").collect()[0].med == 5
    even = spark.createDataFrame([(v,) for v in [4, 1, 3, 2]], "x long")
    assert exact_median_int(even, "x").collect()[0].med == 2
    skewed = spark.createDataFrame(
        [(1,)] * 10 + [(100,)], "x long"
    )
    assert exact_median_int(skewed, "x").collect()[0].med == 1


def test_write_training_shards_one_file_per_shard(spark, sf_dir, tmp_path):
    import os

    from spark_kafka_streaming_spark.operators.sharding import (
        shard_by_token_budget,
        write_training_shards,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sharded = shard_by_token_budget(docs, 500)
    out = str(tmp_path / "shards")
    write_training_shards(sharded, out)
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    # one data file per shard directory
    for d in os.listdir(out):
        if not d.startswith("shard_id="):
            continue
        files = [
            f
            for f in os.listdir(f"{out}/{d}")
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, f"{d}: {files}"


def test_funnel_orders_stages(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)

    def ts(m):
        return t0 + dt.timedelta(minutes=m)

    rows = [
        # user 1: full ordered funnel
        (1, ts(0), "view"), (1, ts(1), "click"), (1, ts(2), "purchase"),
        # user 2: purchase BEFORE click -> stage 2 only
        (2, ts(0), "view"), (2, ts(2), "click"), (2, ts(1), "purchase"),
        # user 3: click before view -> stage 1 only
        (3, ts(1), "view"), (3, ts(0), "click"),
        # user 4: never viewed -> absent
        (4, ts(0), "click"), (4, ts(1), "purchase"),
    ]
    spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    ).createOrReplaceTempView("_funnel_events")
    from spark_kafka_streaming_spark.queries.events import q_events_funnel
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.table("_funnel_events").write.parquet(f"{d}/events.parquet")
        out = {r.user_id: r.stage for r in q_events_funnel(spark, d).collect()}
    assert out == {1: 3, 2: 2, 3: 1}


def test_global_running_sum_survives_complex_upstream(spark, sf_dir):
    """Regression: the two-phase prefix sum's partition tags must be
    pinned (persisted). Un-pinned, the offsets leg and the window leg
    re-evaluate the range shuffle independently and AQE can coalesce
    them to different partition counts — the _pid join then silently
    drops rows (observed: 499 in, ~10 out, all in shard 0, with a
    dedup-join upstream)."""
    from pyspark.sql import functions as F

    from spark_kafka_streaming_spark.operators.dedup import (
        exact_dedup,
        minhash_lsh_pairs,
    )
    from spark_kafka_streaming_spark.operators.sharding import (
        shard_by_token_budget,
    )
    from spark_kafka_streaming_spark.sources.batch import load_table

    docs = load_table(spark, sf_dir, "documents")
    survivors = (
        exact_dedup(docs, ["text"], "doc_id")
        .select("doc_id")
        .join(docs.select("doc_id", "text"), "doc_id")
    )
    pairs = minhash_lsh_pairs(survivors, jaccard_threshold=0.5)
    to_drop = pairs.select(F.col("id2").alias("doc_id")).distinct()
    near_unique = survivors.join(to_drop, "doc_id", "left_anti")

    n_in = near_unique.count()
    sh = shard_by_token_budget(near_unique, budget=2000)
    stats = sh.agg(
        F.count("*").alias("n"),
        F.sum("n_tok").alias("tok"),
        F.max("cum").alias("mx"),
    ).collect()[0]
    assert stats.n == n_in, "prefix-sum dropped rows"
    assert stats.mx == stats.tok, "global cumsum is not a total order sum"
    n_shards = sh.select("shard_id").distinct().count()
    assert n_shards >= max(1, stats.tok // 2000), "shard cut collapsed"
