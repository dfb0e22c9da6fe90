"""Round-8 ADVICE fixes, each pinned by the failure it closes:

* quantile store exactly-once across the compaction boundary (a
  replayed trigger whose leaf was already folded into batch=-1);
* crash-safe compaction swap (no window where the only copy of the
  store is deleted) + recovery restoring the store path;
* watermark-style retention eviction (state O(live_windows · k));
* SemDeDup zero-norm cosine convention shared by the arrow and SQL
  drop routes;
* NULL group keys flowing through the grouped mapInPandas reducers
  (bottom-k quantile cut, Misra-Gries) with SQL GROUP BY semantics,
  and non-string group columns cast on the way in.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from spark_kafka_streaming_spark.operators.quantiles import (
    bottomk_sample_grouped,
    quantile_estimates,
)
from spark_kafka_streaming_spark.streaming.incremental_quantiles import (
    IncrementalQuantileStore,
)


def _mk_docs(spark, n=90):
    rows = [(i, ["en", "de", "fr"][i % 3], 10 + (i * 37) % 200) for i in range(n)]
    return spark.createDataFrame(rows, "doc_id bigint, lang string, n_chars bigint")


def _batch_quantiles(df, k):
    return sorted(
        tuple(r)
        for r in quantile_estimates(
            bottomk_sample_grouped(df, "lang", "n_chars", "doc_id", k),
            grouped=True,
        ).collect()
    )


def test_quantile_store_exactly_once_across_compaction(spark, tmp_path):
    """Crash-replay the worst case: compact() folds batch 1's leaf into
    batch=-1, then the trigger replays batch 1 (checkpoint never
    committed) — its rows now exist in the base AND a fresh leaf.  The
    (g, ky) dedup in the re-cut must count them once, so the snapshot
    still equals the batch rebuild."""
    df = _mk_docs(spark)
    b0 = df.filter(F.col("doc_id") < 45)
    b1 = df.filter(F.col("doc_id") >= 45)
    store = IncrementalQuantileStore(
        str(tmp_path / "qs"), "lang", "n_chars", "doc_id", k=16
    )
    store(b0, 0)
    store(b1, 1)
    store.compact(spark)
    store(b1, 1)  # replay after compaction — the double-count scenario
    got = sorted(tuple(r) for r in store.quantiles(spark).collect())
    assert got == _batch_quantiles(df, 16)


def test_quantile_store_compact_crash_recovery(spark, tmp_path):
    """Simulated crash windows of the compact() swap: wherever the
    crash lands, _recover() restores a complete store at store_path
    and the snapshot is unchanged."""
    df = _mk_docs(spark)
    store = IncrementalQuantileStore(
        str(tmp_path / "qs"), "lang", "n_chars", "doc_id", k=16
    )
    store(df, 0)
    store.compact(spark)
    want = sorted(tuple(r) for r in store.quantiles(spark).collect())
    sp = store.store_path

    # crash between `store -> store.old` and `tmp -> store`:
    # store missing, complete new base still at tmp, old aside.
    shutil.copytree(sp, sp + ".old")
    os.rename(sp, sp + ".compact.tmp")
    got = sorted(tuple(r) for r in store.quantiles(spark).collect())
    assert got == want
    assert os.path.exists(sp) and not os.path.exists(sp + ".compact.tmp")
    assert not os.path.exists(sp + ".old")

    # crash before `tmp -> store` ever ran but after the aside rename
    # failed to complete (only .old remains).
    os.rename(sp, sp + ".old")
    got = sorted(tuple(r) for r in store.quantiles(spark).collect())
    assert got == want and os.path.exists(sp)

    # a new batch written immediately after recovery appends to FULL
    # history (regression: recovery must restore, not just read).
    store(_mk_docs(spark, 6).withColumn("doc_id", F.col("doc_id") + 1000), 1)
    assert store.sample(spark).count() > 0


def test_quantile_store_retention_evicts_expired_windows(spark, tmp_path):
    """Windowed group keys + retention: groups older than
    max(event_time) − retention disappear at compact(); surviving
    groups' snapshot still equals a batch rebuild over the live rows
    only — state is O(live_windows · k)."""
    rows = [
        (i, f"2024-01-01 {h:02d}:00:00", float(10 + i % 50))
        for i, h in enumerate([0, 0, 1, 1, 5, 5, 6, 6, 7, 7] * 6)
    ]
    df = spark.createDataFrame(rows, "rid bigint, win string, v double")
    store = IncrementalQuantileStore(
        str(tmp_path / "qw"),
        "win",
        "v",
        "rid",
        k=8,
        event_time_sql="CAST(g AS TIMESTAMP)",
        retention="2 HOURS",
    )
    store(df, 0)
    store.compact(spark)
    got_groups = {
        r["g"] for r in store.sample(spark).select("g").distinct().collect()
    }
    # horizon = 07:00 − 2h = 05:00 → hours 0 and 1 evicted
    assert got_groups == {
        "2024-01-01 05:00:00",
        "2024-01-01 06:00:00",
        "2024-01-01 07:00:00",
    }
    live = df.filter(F.col("win") >= "2024-01-01 05:00:00")
    want = sorted(
        tuple(r)
        for r in quantile_estimates(
            bottomk_sample_grouped(live, "win", "v", "rid", 8), grouped=True
        ).collect()
    )
    got = sorted(tuple(r) for r in store.quantiles(spark).collect())
    assert got == want


def test_semantic_drops_zero_norm_routes_agree(spark):
    """A zero-norm vector has no defined cosine; the pinned convention
    (cosine = 0.0, never dropped/dropping) must hold on BOTH drop
    routes — the arrow kernel (NaN from 0/0) and the SQL stage (ANSI
    divide-by-zero) — with identical kept sets."""
    from spark_kafka_streaming_spark.operators.kmeans import (
        _semantic_drops_arrow,
        kmeans_assignments,
        semantic_dedup,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.01, 0.0, 0.0]),  # near-dup of 0 → dropped
        (2, [0.0, 0.0, 0.0, 0.0]),  # zero-norm: kept, drops nobody
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 0.0, 0.0]),  # second zero-norm (0/0 vs itself)
        (5, [-1.0, 0.0, 0.01, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    # SQL route (k=2 < ARROW_ASSIGN_MIN_K)
    sql_out = {
        (r["vec_id"], r["kept"])
        for r in semantic_dedup(emb, k=2, tau=0.9, iters=1).collect()
    }
    # arrow route on the SAME assignment
    a = kmeans_assignments(emb, k=2, iters=1).select(
        F.col("vec_id").alias("id"), "cluster", "v", "n"
    )
    arrow_drops = {
        r["id"] for r in _semantic_drops_arrow(a, 0.9).distinct().collect()
    }
    arrow_out = {
        (r["id"], r["id"] not in arrow_drops) for r in a.select("id").collect()
    }
    assert sql_out == arrow_out
    kept = {vid for vid, k in sql_out if k}
    assert {2, 4} <= kept  # zero-norm vectors are never dropped


def test_bottomk_grouped_null_and_nonstring_groups(spark):
    """NULL group keys form a group of their own (SQL GROUP BY
    semantics) and integer group columns are cast on the way into the
    Arrow reducer instead of failing conversion."""
    rows = [(i, None if i % 4 == 0 else i % 3, float(i)) for i in range(40)]
    df = spark.createDataFrame(rows, "rid bigint, grp int, v double")
    samp = bottomk_sample_grouped(df, "grp", "v", "rid", k=100)
    counts = {
        r["g"]: r["c"]
        for r in samp.groupBy("g").agg(F.count("*").alias("c")).collect()
    }
    # k ≥ population → the sample is the whole input, per group
    assert counts[None] == 10
    assert counts["1"] == 10 and counts["2"] == 10 and counts["0"] == 10


def test_heavy_hitters_grouped_null_groups_match_exact(spark):
    """heavy_hitters_exact_grouped with NULL groups equals the plain
    groupBy answer (what the oracle computes) — the null-safe joins
    keep the NULL group's hitters."""
    from spark_kafka_streaming_spark.operators.sketches import (
        heavy_hitters_exact_grouped,
    )

    rows = []
    for i in range(300):
        g = None if i % 3 == 0 else f"g{i % 3}"
        rows.append((g, "hot" if i % 2 == 0 else f"t{i}"))
    df = spark.createDataFrame(rows, "lang string, token string")

    def key(t):
        return tuple("" if x is None else str(x) for x in t)

    got = sorted(
        (
            tuple(r)
            for r in heavy_hitters_exact_grouped(
                df, "lang", "token", phi=0.3, capacity=8
            ).collect()
        ),
        key=key,
    )
    # reference: plain Python exact per-group counts
    from collections import Counter

    per_group: dict = {}
    for g, t in rows:
        per_group.setdefault(g, Counter())[t] += 1
    import math

    want = sorted(
        (
            (g, t, c, round(c / sum(cnt.values()), 6))
            for g, cnt in per_group.items()
            for t, c in cnt.items()
            if c >= math.ceil(0.3 * sum(cnt.values()))
        ),
        key=key,
    )
    assert got == want and any(r[0] is None for r in got)


def test_merge_store_bucket_swap_crash_recovery(spark, tmp_path):
    """Interrupted per-bucket swap in IncrementalMerger: a bucket
    renamed aside with no replacement renamed in (the crash window
    that used to DELETE the bucket's untouched keys) is restored by
    swap.recover_bucket_swap on the next read — the snapshot equals the
    pre-crash state."""
    from spark_kafka_streaming_spark.streaming.incremental_merge import (
        IncrementalMerger,
    )

    store = str(tmp_path / "merge_store")
    seed = spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(40)],
        "k bigint, name string, amount double",
    )
    merger = IncrementalMerger(store, key_col="k", n_key_buckets=4)
    merger(seed.selectExpr("k", "'U' AS op", "name", "amount"), 0)
    want = sorted(map(tuple, merger.snapshot(spark).collect()))

    # simulate the crash window: one bucket aside, nothing renamed in
    buckets = [d for d in os.listdir(store) if d.startswith("kb=")]
    aside_root = store + ".aside"
    os.makedirs(aside_root, exist_ok=True)
    os.rename(
        os.path.join(store, buckets[0]), os.path.join(aside_root, buckets[0])
    )
    got = sorted(map(tuple, merger.snapshot(spark).collect()))
    assert got == want
    assert not os.path.exists(aside_root)


def test_index_store_swap_crash_recovery(spark, tmp_path):
    """Interrupted compact swap in IncrementalIndexer (shared
    swap.recover_swap): store missing, complete base at tmp → restored
    on read, snapshot unchanged."""
    from spark_kafka_streaming_spark.streaming.incremental_index import (
        IncrementalIndexer,
    )

    store = str(tmp_path / "ix_store")
    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i} gamma") for i in range(30)],
        "doc_id bigint, text string",
    )
    ix = IncrementalIndexer(store)
    ix(docs, 0)
    ix.compact(spark)
    want = sorted(map(tuple, ix.snapshot(spark).collect()))
    os.rename(store, store + ".compact.tmp")
    got = sorted(map(tuple, ix.snapshot(spark).collect()))
    assert got == want and os.path.exists(store)
