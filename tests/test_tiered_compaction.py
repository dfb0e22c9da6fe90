"""Tiered (LSM-style) per-bucket compaction for the fold-style stores
(round-11 verdict #2): minor folds merge only new trigger leaves into
a run, staggered majors fold runs into the base, and the watermark
marker makes a trigger replayed after its fold exactly-once — the
double-count hole the quantile store closed per-row in round 8, closed
structurally here for stores whose partials are not per-row dedupable.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from spark_kafka_streaming_spark.streaming.fold import (
    compact_tiered,
    folded_bounds,
)
from spark_kafka_streaming_spark.streaming.incremental_index import (
    IncrementalIndexer,
)


def _docs(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"alpha beta w{i} gamma") for i in range(lo, hi)],
        "doc_id bigint, text string",
    )


def _snap(spark, ix):
    return sorted(map(tuple, ix.snapshot(spark).collect()))


def test_minor_fold_is_a_run_not_a_rewrite(spark, tmp_path):
    """compact() after a few triggers folds ONLY the trigger leaves
    into one new negative-id run (with its watermark marker) and never
    rewrites an existing run — per-compact work ∝ new data."""
    store = str(tmp_path / "ix")
    ix = IncrementalIndexer(store)
    ix(_docs(spark, 0, 10), 0)
    ix(_docs(spark, 10, 20), 1)
    want = _snap(spark, ix)
    stats = ix.compact(spark)
    assert stats["minor"] > 0 and stats["major"] == 0
    assert _snap(spark, ix) == want
    # folded buckets (those with a marker) hold a run and none of
    # their covered trigger leaves; buckets below leaf_bound (rare
    # terms touched by one trigger) legitimately keep theirs
    runs = glob.glob(f"{store}/tb=*/batch=-1")
    assert runs
    bounds = folded_bounds(store, "tb")
    assert bounds and all(b == 1 for b in bounds.values())
    for val, b in bounds.items():
        for n in range(b + 1):
            assert not os.path.exists(f"{store}/tb={val}/batch={n}")

    # a second wave folds into a SECOND run (batch=-2) — the first run
    # is untouched (same inode set)
    first_run_files = {
        f: os.stat(f).st_ino for f in glob.glob(f"{store}/tb=*/batch=-1/part-*")
    }
    ix(_docs(spark, 20, 30), 2)
    ix(_docs(spark, 30, 40), 3)
    want2 = _snap(spark, ix)
    stats2 = ix.compact(spark)
    assert stats2["minor"] > 0 and stats2["major"] == 0
    assert _snap(spark, ix) == want2
    assert glob.glob(f"{store}/tb=*/batch=-2")
    for f, ino in first_run_files.items():
        assert os.stat(f).st_ino == ino, "minor fold rewrote an old run"
    # buckets refolded in wave 2 carry bound 3; buckets that saw <2
    # new leaves keep their wave-1 bound
    bounds2 = folded_bounds(store, "tb")
    assert set(bounds2.values()) <= {1, 2, 3} and max(bounds2.values()) == 3
    for val, b in bounds2.items():
        for n in range(b + 1):
            assert not os.path.exists(f"{store}/tb={val}/batch={n}")


def test_replay_after_fold_is_exactly_once(spark, tmp_path):
    """The crash window: compact() folds batch 1's leaf into a run,
    the epoch commit never lands, the trigger replays.  The replayed
    ``batch=1`` leaf is shadowed by the run's watermark — tf sums do
    NOT double — and the next compact physically sweeps it."""
    store = str(tmp_path / "ix")
    ix = IncrementalIndexer(store)
    b0, b1 = _docs(spark, 0, 10), _docs(spark, 10, 20)
    ix(b0, 0)
    ix(b1, 1)
    want = _snap(spark, ix)
    ix.compact(spark)
    ix(b1, 1)  # replay after the fold — the double-count scenario
    assert glob.glob(f"{store}/tb=*/batch=1"), "replay leaf must exist"
    assert _snap(spark, ix) == want, "replayed folded leaf double-counted"
    # live (writer-internal) reads apply the watermark too
    live = ix._merged_tf(spark, live=True)
    assert sorted(map(tuple, ix.snapshot(spark).collect())) == want
    assert live.groupBy().agg(F.sum("tf")).collect()[0][0] == sum(
        r["tf"]
        for r in ix._merged_tf(spark).collect()
    )
    # and the sweep reclaims the shadowed leaves (in buckets whose
    # marker covers batch 1; unfolded buckets keep theirs — there the
    # replay overwrote its own leaf, the classic idempotent path)
    ix(_docs(spark, 20, 30), 2)
    ix(_docs(spark, 30, 40), 3)
    ix.compact(spark)
    for val, b in folded_bounds(store, "tb").items():
        if b >= 1:
            assert not os.path.exists(f"{store}/tb={val}/batch=1")
    assert ix.snapshot(spark).count() > 0


def test_major_fold_collapses_runs_and_staggers(spark, tmp_path):
    """With run_bound=1 every bucket with an existing run and new data
    majors: runs + leaves collapse into one batch=-1 base per bucket,
    snapshot unchanged, marker carried forward."""
    store = str(tmp_path / "ix")
    ix = IncrementalIndexer(store)
    fold = lambda df: df.groupBy("tb", "term", "doc_id").agg(
        F.sum("tf").alias("tf")
    )
    ix(_docs(spark, 0, 10), 0)
    ix(_docs(spark, 10, 20), 1)
    compact_tiered(spark, store, "tb", fold, "term",
                   leaf_bound=1, run_bound=99)  # minor only
    ix(_docs(spark, 20, 30), 2)
    want = _snap(spark, ix)
    stats = compact_tiered(spark, store, "tb", fold, "term",
                           leaf_bound=1, run_bound=1)
    assert stats["major"] > 0
    assert _snap(spark, ix) == want
    # every bucket that majored holds exactly one batch=-1 leaf, and
    # its marker covers everything folded so far (batch 2); buckets
    # without wave-2 data keep their earlier bound
    bounds = folded_bounds(store, "tb")
    assert max(bounds.values()) == 2 and set(bounds.values()) <= {0, 1, 2}
    majored = 0
    for bdir in glob.glob(f"{store}/tb=*"):
        leaves = [d for d in os.listdir(bdir) if d.startswith("batch=")]
        assert leaves, bdir
        if leaves == ["batch=-1"]:
            majored += 1
    assert majored > 0

    # stagger: with the default run_bound, different buckets get
    # different effective bounds (run_bound + bucket % run_bound)
    effs = {v: 8 + (v % 8) for v in range(32)}
    assert len(set(effs.values())) > 1


def test_major_swap_crash_recovery(spark, tmp_path):
    """Interrupted major swap: a bucket renamed aside with no
    replacement renamed in is restored by the next read (shared
    recover_bucket_swap, wired into recover_swap)."""
    store = str(tmp_path / "ix")
    ix = IncrementalIndexer(store)
    ix(_docs(spark, 0, 10), 0)
    ix(_docs(spark, 10, 20), 1)
    ix.compact(spark)
    want = _snap(spark, ix)
    buckets = sorted(
        d for d in os.listdir(store) if d.startswith("tb=")
    )
    aside = store + ".aside"
    os.makedirs(aside, exist_ok=True)
    os.rename(
        os.path.join(store, buckets[0]), os.path.join(aside, buckets[0])
    )
    # stale fold tmp from the same imagined crash
    os.makedirs(store + ".bucketfold.tmp/tb=999", exist_ok=True)
    assert _snap(spark, ix) == want
    assert not os.path.exists(aside)
    assert not os.path.exists(store + ".bucketfold.tmp")


def test_spans_and_vectors_tiered_compact_roundtrip(spark, tmp_path):
    """The other two fold-style stores: snapshot/topk bit-identical
    across a minor fold, trigger leaves folded into runs."""
    from spark_kafka_streaming_spark.streaming.incremental_spans import (
        IncrementalSpanDeduper,
    )
    from spark_kafka_streaming_spark.streaming.incremental_vectors import (
        IncrementalVectorIndexer,
    )

    sp = str(tmp_path / "spans")
    sd = IncrementalSpanDeduper(sp, w=3)
    docs = spark.createDataFrame(
        [(i, "one two three four five six seven") for i in range(6)],
        "doc_id bigint, text string",
    )
    sd(docs.filter("doc_id < 3"), 0)
    sd(docs.filter("doc_id >= 3"), 1)
    want = sorted(map(tuple, sd.span_stats(docs).collect()))
    stats = sd.compact(spark)
    assert stats["minor"] > 0
    assert sorted(map(tuple, sd.span_stats(docs).collect())) == want
    assert not glob.glob(f"{sp}/hb=*/batch=0")

    vr = str(tmp_path / "vec")
    vx = IncrementalVectorIndexer(vr, n_cells=4, n_assign=2)
    emb = spark.createDataFrame(
        [(i, [float(i % 7 + 1), float(i % 5 + 1), 1.0]) for i in range(40)],
        "vec_id bigint, embedding array<double>",
    )
    vx(emb.filter("vec_id < 20"), 0)
    vx(emb.filter("vec_id >= 20"), 1)
    q = emb.filter("vec_id in (0, 9)")
    want_v = sorted(map(tuple, vx.topk(q, k=3, n_probe=2).collect()))
    stats_v = vx.compact(spark)
    assert stats_v["minor"] > 0
    got_v = sorted(map(tuple, vx.topk(q, k=3, n_probe=2).collect()))
    assert got_v == want_v
    # replay after fold: exactly-once for the vector store too
    vx(emb.filter("vec_id >= 20"), 1)
    assert sorted(map(tuple, vx.topk(q, k=3, n_probe=2).collect())) == want_v


def test_dedup_store_replay_after_fold_exactly_once(spark, tmp_path):
    """The dedup signature store shares the tiered fold: a trigger
    replayed after its leaves were folded must neither duplicate store
    rows (watermark shadowing) nor change accept decisions."""
    from spark_kafka_streaming_spark.streaming.incremental_dedup import (
        IncrementalDeduper,
    )

    BASE = "the quick brown fox jumps over the lazy dog again and again today"
    store = str(tmp_path / "sig")
    dd = IncrementalDeduper(
        store, str(tmp_path / "acc"), jaccard_threshold=0.5,
        n_key_buckets=2,
    )
    b0 = spark.createDataFrame(
        [(i, f"{BASE} variant {i} {'x ' * i}") for i in range(1, 6)],
        "doc_id bigint, text string",
    )
    b1 = spark.createDataFrame(
        [(10 + i, f"fresh unrelated words {i} about streams and state "
                  f"{'y ' * i}") for i in range(5)],
        "doc_id bigint, text string",
    )
    dd(b0, 0)
    dd(b1, 1)
    keys_before = sorted(
        map(tuple, dd.key_store.read(spark, live=True).drop("batch").collect())
    )
    hashes_before = sorted(
        map(tuple, dd.hash_store.read(spark, live=True).drop("batch").collect())
    )
    dd.compact(spark)
    assert sorted(
        map(tuple, dd.key_store.read(spark, live=True).drop("batch").collect())
    ) == keys_before
    dd(b1, 1)  # replay after the fold
    assert sorted(
        map(tuple, dd.key_store.read(spark, live=True).drop("batch").collect())
    ) == keys_before, "replayed folded leaves duplicated the key index"
    assert sorted(
        map(tuple, dd.hash_store.read(spark, live=True).drop("batch").collect())
    ) == hashes_before, "replayed folded leaves duplicated the hash table"
    # and a near-dup of an accepted doc is still rejected post-replay
    dd(spark.createDataFrame(
        [(99, BASE + " variant 1 x extra")], "doc_id bigint, text string"
    ), 2)
    acc = {
        r.doc_id
        for r in spark.read.parquet(str(tmp_path / "acc")).collect()
    }
    assert 99 not in acc


def _kv_leaf(spark, store, batch, buckets, v=1):
    df = (
        spark.createDataFrame(
            [(b, f"k{b}", v) for b in buckets], "tb int, k string, v int"
        )
        .withColumn("batch", F.lit(batch))
    )
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("tb", "batch")
        .parquet(store)
    )


def _kv_fold(df):
    return df.groupBy("tb", "k").agg(F.sum("v").alias("v"))


def test_fold_filter_path_uniform_collapse_and_first_touch_bucket(
    spark, tmp_path
):
    """The serving-plan size guard: with every bucket folded to one
    watermark the filter is a constant predicate (no per-bucket map
    literal — the vector store's cell count would otherwise grow every
    serving plan), and the collapse is withheld the moment a bucket
    exists that the shared bound does not cover, so a first-touch
    bucket's young leaves survive."""
    from spark_kafka_streaming_spark.streaming.fold import fold_filter_path

    store = str(tmp_path / "kv")
    _kv_leaf(spark, store, 0, [0, 1, 2, 3])
    _kv_leaf(spark, store, 1, [0, 1, 2, 3])
    compact_tiered(spark, store, "tb", _kv_fold, sort_col="k", leaf_bound=2)
    assert set(folded_bounds(store, "tb").values()) == {1}

    out = fold_filter_path(spark.read.parquet(store), store, "tb")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "map(" not in plan, "uniform watermark should not build a map"
    rows = {(r.tb, r.k, r.v) for r in out.collect()}
    assert rows == {(b, f"k{b}", 2) for b in range(4)}

    # a replayed (already-folded) leaf is dropped by the constant
    # predicate exactly as by the map form
    _kv_leaf(spark, store, 1, [0], v=100)
    out = fold_filter_path(spark.read.parquet(store), store, "tb")
    assert {(r.tb, r.k, r.v) for r in out.collect()} == {
        (b, f"k{b}", 2) for b in range(4)
    }

    # first-touch bucket: tb=9 appears AFTER the fold with a young
    # batch=0 leaf (below the others' watermark).  The shared bound no
    # longer covers all buckets, so the filter must fall back to the
    # per-bucket map and keep tb=9's rows.
    _kv_leaf(spark, store, 0, [9])
    out = fold_filter_path(spark.read.parquet(store), store, "tb")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "map(" in plan, "partial coverage must use the per-bucket map"
    rows = {(r.tb, r.k, r.v) for r in out.collect()}
    assert rows == {(b, f"k{b}", 2) for b in range(4)} | {(9, "k9", 1)}


def test_rekeyed_stream_is_refused_loudly(spark, tmp_path):
    """A fresh checkpoint dir restarts foreachBatch numbering at 0; a
    batch id strictly below the store's fold watermark would be
    silently treated as an already-folded replay (filtered from every
    read, swept by the next compact) — the write path must raise
    instead.  Equality with the bound stays allowed: foreachBatch
    replays exactly the last batch, which a compact inside the same
    call may already have folded."""
    import pytest

    store = str(tmp_path / "ix")
    ix = IncrementalIndexer(store)
    ix(_docs(spark, 0, 10), 0)
    ix(_docs(spark, 10, 20), 1)
    ix(_docs(spark, 20, 30), 2)
    ix.compact(spark)
    assert max(folded_bounds(store, "tb").values()) == 2

    with pytest.raises(ValueError, match="behind the fold watermark"):
        ix(_docs(spark, 0, 10), 0)  # re-keyed stream
    ix(_docs(spark, 20, 30), 2)  # legit replay of the folded tail batch
    ix(_docs(spark, 30, 40), 3)  # normal progress
