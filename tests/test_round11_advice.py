"""Round-11 ADVICE regressions (see ADVICE.md, round 10 → 11).

1. (medium) The dedup store's second probe used to broadcast candidate
   tuples carrying the fat ``hs1`` shingle arrays — driver-OOM risk
   bounded by key collisions against the WHOLE store, not the
   micro-batch.  Now the candidate broadcast is narrow (new_id,
   old_id, old_hb) and ``hs1`` is re-attached by a micro-batch-bounded
   join AFTER the store fetch; skew-hot corpora can opt out of the
   broadcast entirely with ``broadcast_candidates=False``.
2. (low) A pre-normalization (round-9) store layout — ``kb=*`` leaves
   directly under ``store_path`` — must be refused loudly instead of
   silently treated as an empty corpus.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import types as T

from spark_kafka_streaming_spark.streaming.incremental_dedup import (
    IncrementalDeduper,
    band_keys,
    signatures,
)

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)

BASE = "the quick brown fox jumps over the lazy dog again and again today"
OTHER = "completely different content about spark streaming kafka offsets and state"


def _seed_store(spark, tmp_path, **kw):
    store = str(tmp_path / "sigstore")
    accepted = str(tmp_path / "accepted")
    dedup = IncrementalDeduper(store, accepted, jaccard_threshold=0.5, **kw)
    dedup(spark.createDataFrame([(1, BASE), (3, OTHER)], DOC_SCHEMA), 0)
    return dedup


def _probe_plan(spark, dedup):
    keys = band_keys(signatures(
        spark.createDataFrame([(10, BASE + " extra")], DOC_SCHEMA)
    ))
    probe = dedup._dup_ids(
        keys, dedup.key_store.read(spark, live=True),
        dedup.hash_store.read(spark, live=True),
    )
    return probe, probe._jdf.queryExecution().executedPlan().toString()


def test_candidate_broadcast_is_narrow(spark, tmp_path):
    """The candidate-pair set broadcast into the hash fetch must never
    aggregate or carry the fat ``hs`` arrays: the pair dedup
    (dropDuplicates on new_id/old_id) runs BEFORE ``hs1`` exists, so no
    ``first(hs…)`` aggregate appears anywhere in the probe plan."""
    dedup = _seed_store(spark, tmp_path)
    probe, plan = _probe_plan(spark, dedup)
    # the pair-dedup aggregate (keys=[new_id, old_id]) must neither key
    # on nor aggregate a shingle-hash column; the only first(hs…)
    # allowed in the plan is the doc_id-keyed batch_hs dedup, which is
    # micro-batch-bounded by construction
    pair_aggs = [
        line for line in plan.splitlines()
        if "Aggregate(key" in line and "new_id" in line.split("]")[0]
    ]
    assert pair_aggs, f"candidate pair dedup missing from plan:\n{plan}"
    for line in pair_aggs:
        assert "hs" not in line, (
            f"pair-dedup carries a shingle-hash column:\n{line}"
        )
    assert [r.doc_id for r in probe.collect()] == [10]


def test_broadcast_candidates_opt_out_same_answer(spark, tmp_path):
    """``broadcast_candidates=False`` (the skew-hot escape hatch) must
    produce the identical dup set via a non-broadcast hash fetch."""
    dedup = _seed_store(spark, tmp_path, broadcast_candidates=False)
    # at toy scale Catalyst auto-broadcasts the (tiny) store side of
    # the hash fetch, which is the point of the opt-out: the planner
    # picks by stats instead of a forced candidate collect.  Disable
    # auto-broadcast to pin that nothing FORCES a broadcast there.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe, plan = _probe_plan(spark, dedup)
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), (
            f"opt-out still force-broadcasts the candidate set:\n{plan}"
        )
        assert [r.doc_id for r in probe.collect()] == [10]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_old_layout_store_is_refused(spark, tmp_path):
    """A round-9 store (kb=* leaves at the store root, inline hs) must
    raise at construction — silently starting empty would re-accept
    cross-batch dups and fork new subtrees beside stale data."""
    store = tmp_path / "sigstore"
    (store / "kb=0").mkdir(parents=True)
    with pytest.raises(ValueError, match="old inline-hs layout"):
        IncrementalDeduper(str(store), str(tmp_path / "accepted"))
    # a fresh (or normalized) store constructs fine
    IncrementalDeduper(
        str(tmp_path / "fresh_store"), str(tmp_path / "accepted2")
    )
    os.makedirs(tmp_path / "norm_store" / "keys" / "kb=0", exist_ok=True)
    IncrementalDeduper(
        str(tmp_path / "norm_store"), str(tmp_path / "accepted3")
    )
