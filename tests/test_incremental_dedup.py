"""Incremental streaming near-dup filtering: new docs are rejected when
they near-dup the accepted corpus from *earlier micro-batches* (the
cross-batch signature store), or earlier docs of the same batch."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from spark_kafka_streaming_spark.streaming.incremental_dedup import IncrementalDeduper
from spark_kafka_streaming_spark.streaming.pipeline import start_sink

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)

BASE = "the quick brown fox jumps over the lazy dog again and again today"
NEAR = "the quick brown fox jumps over the lazy dog again and again tonight"
OTHER = "completely different content about spark streaming kafka offsets and state"


def _emit(src, name, rows):
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, name), "w") as f:
        for doc_id, text in rows:
            f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")


def test_incremental_dedup_across_batches(spark, tmp_path):
    src = str(tmp_path / "docs")
    store = str(tmp_path / "sigstore")
    accepted = str(tmp_path / "accepted")
    dedup = IncrementalDeduper(store, accepted, jaccard_threshold=0.5)

    # batch 1: BASE + an intra-batch near-dup of BASE + OTHER
    _emit(src, "b1.json", [(1, BASE), (2, NEAR), (3, OTHER)])
    stream = spark.readStream.schema(DOC_SCHEMA).json(src)
    q = start_sink(stream, foreach_batch=dedup, checkpoint=str(tmp_path / "ck"))
    q.processAllAvailable()

    # batch 2: another near-dup of BASE (cross-batch) + one new doc
    _emit(src, "b2.json", [(10, BASE + " extra"), (11, "fresh unseen words "
                                                       "about embeddings and lsh bands")])
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)

    got = sorted(
        r.doc_id for r in spark.read.parquet(accepted).select("doc_id").collect()
    )
    # 1 accepted; 2 rejected (intra-batch dup of 1); 3 accepted;
    # 10 rejected (cross-batch dup of 1); 11 accepted
    assert got == [1, 3, 11]

    # the signature store only indexes accepted docs — both subtrees
    store_ids = {
        r.doc_id
        for r in spark.read.parquet(f"{store}/keys").select("doc_id").collect()
    }
    assert store_ids == {1, 3, 11}
    hash_rows = (
        spark.read.parquet(f"{store}/hashes").select("doc_id").collect()
    )
    # hashes are normalized: exactly ONE fat row per accepted doc (the
    # key index holds one narrow row per band instead)
    assert sorted(r.doc_id for r in hash_rows) == [1, 3, 11]
    # and each (bucket, batch) leaf holds exactly ONE data file — the
    # ingest writes co-locate by bucket so leaves never multiply with
    # the batch's task count (O(tasks x buckets) files otherwise)
    import glob

    for sub in ("keys", "hashes"):
        for leaf in glob.glob(f"{store}/{sub}/*=*/batch=*"):
            n = len(glob.glob(os.path.join(leaf, "part-*")))
            assert n == 1, f"{leaf}: {n} files (want 1)"


def test_store_probe_broadcasts_batch_and_prunes_store(spark, tmp_path):
    """The 100 TB contract of the store layout: both per-trigger probe
    joins must broadcast the (small) batch/candidate side — the store
    is never shuffled — and both store scans must carry a dynamic
    partition-pruning filter (kb on the narrow key index, hb on the
    per-doc hash table), with the fat ``hs`` column absent from the
    key-index scan entirely."""
    from spark_kafka_streaming_spark.streaming.incremental_dedup import (
        band_keys,
        signatures,
    )

    store = str(tmp_path / "sigstore")
    accepted = str(tmp_path / "accepted")
    dedup = IncrementalDeduper(store, accepted, jaccard_threshold=0.5)
    b1 = spark.createDataFrame([(1, BASE), (3, OTHER)], DOC_SCHEMA)
    dedup(b1, 0)

    b2 = spark.createDataFrame([(10, BASE + " extra")], DOC_SCHEMA)
    keys = band_keys(signatures(b2))
    probe = dedup._dup_ids(
        keys, dedup.key_store.read(spark, live=True),
        dedup.hash_store.read(spark, live=True),
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, "store probe must broadcast the batch"
    assert "SortMergeJoin" not in plan, "store side must not be shuffled"
    # BOTH store scans must carry a dynamic partition-pruning filter:
    # kb on the key index AND hb on the hash table.  Scans are
    # identified by their partition column, NOT the store path — the
    # Location string is length-truncated ("…/sig...") under pytest's
    # tmp dirs, which made the old path-based match silently vacuous.
    scans = [
        line
        for line in plan.splitlines()
        if "FileScan parquet" in line and "PartitionFilters" in line
    ]

    def _pruned_on(bucket_col: str) -> list[str]:
        return [
            s
            for s in scans
            if f"isnotnull({bucket_col}#" in s.split("PartitionFilters")[1]
            and "dynamicpruning" in s.split("PartitionFilters")[1].lower()
        ]

    keys_scans = _pruned_on("kb")
    hash_scans = _pruned_on("hb")
    assert keys_scans, f"key-index scan lost its kb pruning:\n{plan}"
    assert hash_scans, f"hash-table scan lost its hb pruning:\n{plan}"
    # the narrow key-index scan must NOT read the fat shingle-hash
    # column — that is the whole point of the normalized layout —
    # while the hash-table scan is exactly (doc_id, hs)
    for s in keys_scans:
        schema = s.split("ReadSchema")[1]
        assert "hs" not in schema, "key-index scan reads the fat hs column"
        assert "key" in schema, "key-index scan lost the band key column"
    for s in hash_scans:
        assert "hs:array" in s.split("ReadSchema")[1], (
            "hash-table scan must read the shingle-hash payload"
        )
    # and it still finds the cross-batch near-dup
    assert [r.doc_id for r in probe.collect()] == [10]


def test_compaction_preserves_store_and_dedups(spark, tmp_path):
    store = str(tmp_path / "sigstore")
    accepted = str(tmp_path / "accepted")
    # 2 buckets so consecutive batches are guaranteed to land trigger
    # leaves in the same bucket (the tiered fold needs >= leaf_bound)
    dedup = IncrementalDeduper(
        store, accepted, jaccard_threshold=0.5, compact_every=2,
        n_key_buckets=2,
    )
    dedup(spark.createDataFrame([(1, BASE)], DOC_SCHEMA), 0)
    dedup(spark.createDataFrame([(3, OTHER)], DOC_SCHEMA), 1)
    dedup(spark.createDataFrame([(5, "unrelated fresh tokens everywhere")], DOC_SCHEMA), 2)
    # batch 2 triggered the tiered compaction: buckets that saw >= 2
    # trigger leaves folded them into a run (negative batch id) and
    # left a watermark marker; single-leaf buckets keep their leaf
    from spark_kafka_streaming_spark.streaming.fold import folded_bounds

    folded = False
    for sub, bcol in (("keys", "kb"), ("hashes", "hb")):
        bounds = folded_bounds(f"{store}/{sub}", bcol)
        folded = folded or bool(bounds)
        for val, b in bounds.items():
            for n in range(b + 1):
                assert not os.path.exists(
                    f"{store}/{sub}/{bcol}={val}/batch={n}"
                ), (sub, val, n)
    assert folded, "no bucket folded — compaction did not run"
    # post-compaction probes still reject cross-batch near-dups
    dedup(spark.createDataFrame([(9, BASE + " extra")], DOC_SCHEMA), 3)
    got = sorted(
        r.doc_id for r in spark.read.parquet(accepted).select("doc_id").collect()
    )
    assert got == [1, 3, 5]
