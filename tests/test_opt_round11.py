"""Round-11 optimization pins: every execution-strategy change this
round must leave operator OUTPUT bit-identical; these tests pin the
equivalences directly (the oracle-differential suite pins them against
DuckDB end-to-end).

* BPE local-replay trainer ≡ the distributed per-step loop — same
  merge schedule (ranks, symbols, counts) on real corpus data, both
  for the sequential and the batched trainer.  Past the bound, the
  BPE and PQ local-path probes ship no rows to the driver.
* The vectorized grouped bottom-k task cut emits exactly the per-group
  k smallest (h, ky) rows of its input — the contract the window
  re-cut and every downstream quantile estimate rest on.
"""

from __future__ import annotations

import pytest

from spark_kafka_streaming_spark.functions.caching import (
    release_operator_caches,
)
from spark_kafka_streaming_spark.operators import bpe as BPE
from spark_kafka_streaming_spark.sources.batch import load_table


@pytest.fixture()
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_bpe_local_replay_matches_distributed(spark, docs, monkeypatch):
    cols = ["rank", "left_sym", "right_sym", "merged", "cnt"]
    local = _rows(BPE.bpe_train(docs, n_merges=8), cols)
    release_operator_caches()
    # vocab bound -1: no vocab satisfies count <= -1 → distributed loop
    monkeypatch.setattr(BPE, "BPE_LOCAL_VOCAB_MAX", -1)
    dist = _rows(BPE.bpe_train(docs, n_merges=8), cols)
    release_operator_caches()
    assert local == dist
    assert len(local) == 8


def test_bpe_batched_local_replay_matches_distributed(
    spark, docs, monkeypatch
):
    cols = ["rank", "round", "left_sym", "right_sym", "merged", "cnt"]
    local = _rows(BPE.bpe_train_batched(docs, n_rounds=6, window_k=8), cols)
    release_operator_caches()
    monkeypatch.setattr(BPE, "BPE_LOCAL_VOCAB_MAX", -1)
    dist = _rows(BPE.bpe_train_batched(docs, n_rounds=6, window_k=8), cols)
    release_operator_caches()
    assert local == dist
    assert len(local) > 0


def test_over_bound_local_path_probes_pull_no_rows(
    spark, docs, sf_dir, monkeypatch
):
    """Past their bounds the BPE vocab probe and the PQ training probe
    count instead of collecting, so no rows reach the driver."""
    from pyspark.sql import functions as F

    from spark_kafka_streaming_spark.operators import pq as PQ

    pulls = []
    frame = type(docs)  # the concrete (classic) DataFrame class
    collect = frame.collect
    monkeypatch.setattr(
        frame, "collect", lambda df: pulls.append(df) or collect(df)
    )
    monkeypatch.setattr(BPE, "BPE_LOCAL_VOCAB_MAX", 2)
    monkeypatch.setattr(PQ, "PQ_LOCAL_TRAIN_MAX", 2)
    syms = BPE.word_freq(docs).select(
        "freq", F.expr(BPE._CHARS_SPARK).alias("s")
    )
    assert BPE._local_vocab(syms) is None
    emb = load_table(spark, sf_dir, "embeddings")
    PQ.pq_codebooks(PQ._subspace_rows(emb, "vec_id", "embedding"))
    assert pulls == []


def test_grouped_bottomk_cut_is_exact_per_group(spark):
    """The vectorized mapInPandas cut: per task, per group, exactly the
    k smallest rows by (h, ky) — validated against a plain-Python
    reference over a multi-group, multi-batch-sized input."""
    from pyspark.sql import functions as F

    from spark_kafka_streaming_spark.operators.quantiles import (
        bottomk_sample_grouped,
    )

    k = 16
    n = 50_000  # several Arrow batches (10k rows each) in one task
    base = spark.range(n).select(
        (F.col("id") % 37).cast("string").alias("g"),
        (F.col("id") * 7 % 1009).cast("double").alias("v"),
        F.col("id").alias("ky"),
    )
    df = base.selectExpr("g", "v", "ky").coalesce(1)
    got = bottomk_sample_grouped(
        df, "g", "v", "ky", k=k
    )
    rows = [(r["g"], r["v"], r["ky"], r["h"]) for r in got.collect()]
    # reference: per group, k smallest by (h, ky) over the whole input
    # (single task → task cut IS the global cut)
    full = bottomk_sample_grouped(df, "g", "v", "ky", k=10**9).collect()
    by_g: dict = {}
    for r in full:
        by_g.setdefault(r["g"], []).append((r["h"], r["ky"], r["v"]))
    want = set()
    for g, lst in by_g.items():
        for h, ky, v in sorted(lst)[:k]:
            want.add((g, v, ky, h))
    assert set(rows) == want
    assert len(rows) == len(want)
