"""One suite over the four tiered stores — index, spans, vectors and
the dedup store's two subtrees.  They share one ingest path
(:class:`spark_kafka_streaming_spark.streaming.fold.TieredStore`), so
each must show the same properties:

* after every trigger, each ``(bucket, batch)`` leaf holds exactly one
  ``part-*`` file (the bucket-co-located leaf write);
* replaying the last batch after ``compact()`` leaves the served
  snapshot unchanged (exactly-once across the fold boundary);
* a re-keyed stream — a batch id behind the fold watermark — raises.

The dedup store's NULL-id case rides along: both branches of the
dup-id fold (IN list and anti-join) accept the same docs, NULL id
included.  So does the quantile store's compacted base, which stays
outside the shared path but uses the same explicit-count keyed write:
each group in one file, spread over more than one task.
"""

from __future__ import annotations

import glob
import os

import pytest

from spark_kafka_streaming_spark.streaming import incremental_dedup
from spark_kafka_streaming_spark.streaming.fold import folded_bounds
from spark_kafka_streaming_spark.streaming.incremental_dedup import (
    IncrementalDeduper,
)
from spark_kafka_streaming_spark.streaming.incremental_index import (
    IncrementalIndexer,
)
from spark_kafka_streaming_spark.streaming.incremental_spans import (
    IncrementalSpanDeduper,
)
from spark_kafka_streaming_spark.streaming.incremental_quantiles import (
    IncrementalQuantileStore,
)
from spark_kafka_streaming_spark.streaming.incremental_vectors import (
    IncrementalVectorIndexer,
)

DOCS = "doc_id bigint, text string"
N_BATCHES = 3
PER_BATCH = 6


def _ids(b):
    return range(b * PER_BATCH, (b + 1) * PER_BATCH)


def _sorted(df):
    return sorted(map(tuple, df.collect()))


def _index(spark, root):
    ix = IncrementalIndexer(os.path.join(root, "ix"))

    def batch(b):
        return spark.createDataFrame(
            [(i, f"alpha beta gamma w{i}") for i in _ids(b)], DOCS
        )

    return ix, batch, [ix.store], lambda: _sorted(ix.snapshot(spark))


def _spans(spark, root):
    sd = IncrementalSpanDeduper(os.path.join(root, "spans"), w=3)
    text = "one two three four five six seven"

    def batch(b):
        return spark.createDataFrame(
            [(i, f"{text} w{i}") for i in _ids(b)], DOCS
        )

    every = spark.createDataFrame(
        [(i, f"{text} w{i}") for i in range(N_BATCHES * PER_BATCH)], DOCS
    )
    return sd, batch, [sd.store], lambda: _sorted(sd.span_stats(every))


def _vectors(spark, root):
    vx = IncrementalVectorIndexer(
        os.path.join(root, "vec"), n_cells=4, n_assign=2
    )
    schema = "vec_id bigint, embedding array<double>"

    def batch(b):
        return spark.createDataFrame(
            [(i, [float(i % 7 + 1), float(i % 5 + 1), 1.0]) for i in _ids(b)],
            schema,
        )

    queries = spark.createDataFrame(
        [(i, [float(i % 7 + 1), float(i % 5 + 1), 1.0]) for i in (0, 9)],
        schema,
    )
    return vx, batch, [vx.cells], lambda: _sorted(
        vx.topk(queries, k=3, n_probe=2)
    )


def _dedup(spark, root):
    acc = os.path.join(root, "acc")
    dd = IncrementalDeduper(
        os.path.join(root, "sig"), acc, jaccard_threshold=0.5,
        n_key_buckets=2,
    )

    def batch(b):
        # unrelated docs: every one is accepted, so every trigger
        # writes leaves into both subtrees
        return spark.createDataFrame(
            [(i, " ".join(f"t{i}x{j}" for j in range(8))) for i in _ids(b)],
            DOCS,
        )

    def served():
        return (
            _sorted(dd.key_store.read(spark).drop("batch")),
            _sorted(dd.hash_store.read(spark).drop("batch")),
            _sorted(spark.read.parquet(acc).select("doc_id")),
        )

    return dd, batch, [dd.key_store, dd.hash_store], served


STORES = {"index": _index, "spans": _spans, "vectors": _vectors,
          "dedup": _dedup}


@pytest.fixture(params=sorted(STORES))
def tiered(request, spark, tmp_path):
    return STORES[request.param](spark, str(tmp_path))


def _ingest(store, batch, trees, check_leaves=False):
    for b in range(N_BATCHES):
        store(batch(b), b)
        if check_leaves:
            _assert_one_file_per_leaf(trees)


def _assert_one_file_per_leaf(trees):
    leaves = [
        leaf
        for t in trees
        for leaf in glob.glob(os.path.join(t.path, "*=*", "batch=*"))
    ]
    assert leaves
    for leaf in leaves:
        n = len(glob.glob(os.path.join(leaf, "part-*")))
        assert n == 1, f"{leaf}: {n} files (want 1)"


@pytest.fixture
def uncoalesced(spark):
    """Keep every shuffle partition: at toy sizes AQE coalesces a
    micro-batch shuffle to one task, which writes one file per leaf
    whether or not the leaf write co-locates buckets."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, old)


def test_each_trigger_writes_one_file_per_leaf(tiered, uncoalesced):
    store, batch, trees, _ = tiered
    _ingest(store, batch, trees, check_leaves=True)


def test_replay_after_compact_serves_same_snapshot(spark, tiered):
    store, batch, trees, served = tiered
    _ingest(store, batch, trees)
    want = served()
    store.compact(spark)
    assert any(folded_bounds(t.path, t.bucket_col) for t in trees)
    assert served() == want
    store(batch(N_BATCHES - 1), N_BATCHES - 1)  # replay after the fold
    _assert_one_file_per_leaf(trees)
    assert served() == want


def test_rekeyed_stream_raises(spark, tiered):
    store, batch, trees, _ = tiered
    _ingest(store, batch, trees)
    store.compact(spark)
    top = max(
        b for t in trees for b in folded_bounds(t.path, t.bucket_col).values()
    )
    assert top == N_BATCHES - 1
    with pytest.raises(ValueError, match="behind the fold watermark"):
        store(batch(0), 0)  # a fresh checkpoint restarts at batch 0


@pytest.mark.parametrize("bound", ["in_list", "anti_join"])
def test_dedup_null_id_accepted_by_both_branches(
    spark, tmp_path, monkeypatch, bound
):
    """Docs 1 and 2 are exact duplicates, the NULL-id doc is unrelated:
    both branches of the dup-id fold accept {1, NULL}."""
    if bound == "anti_join":
        monkeypatch.setattr(incremental_dedup, "DUP_IN_LIST_BOUND", 0)
    text = "the quick brown fox jumps over the lazy dog again and again"
    acc = str(tmp_path / "acc")
    dd = IncrementalDeduper(str(tmp_path / "sig"), acc, jaccard_threshold=0.5)
    dd(spark.createDataFrame(
        [(1, text), (2, text),
         (None, "completely different words about kafka offsets and state")],
        DOCS,
    ), 0)
    got = {r.doc_id for r in spark.read.parquet(acc).collect()}
    assert got == {1, None}


def test_quantile_compact_writes_one_file_per_group(spark, tmp_path):
    """The compacted ``batch=-1`` base holds each group in exactly one
    file, and the write is not collapsed into one task: without an
    explicit partition count AQE coalesces this toy-sized exchange to
    a single file."""
    import pyarrow.parquet as pq

    n_groups = 12
    store = IncrementalQuantileStore(str(tmp_path / "q"), "g", "v", "id", k=4)
    for b in range(N_BATCHES):
        rows = [(i, f"g{i % n_groups}", i) for i in range(b * 24, (b + 1) * 24)]
        store(spark.createDataFrame(rows, "id bigint, g string, v bigint"), b)
    store.compact(spark)
    files = glob.glob(os.path.join(store.store_path, "batch=-1", "part-*"))
    groups = [set(pq.read_table(f, columns=["g"])["g"].to_pylist()) for f in files]
    assert 1 < len(files) <= spark.sparkContext.defaultParallelism
    assert sum(map(len, groups)) == len(set().union(*groups)) == n_groups
