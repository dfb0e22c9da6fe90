"""The benchmark's metric declarations: name -> (unit, better).

``BENCHMARK.json`` at the repository root lists the same names and
units; ``test_perfbench.py`` keeps the two in step.
"""

from __future__ import annotations

#: The workloads BENCHMARK.json lists.
WORKLOADS = ("wordcount_backlog", "catalog_mix")

#: Printed by every untraced run, on every workload.  An "op" is one
#: trigger (wordcount_backlog) or one catalog query (catalog_mix); an
#: "item" is one input record or one query.
END_TO_END = {
    "setup_s": ("s", "lower"),
    "items_per_s": ("1/s", "higher"),
    "op_p50_ms": ("ms", "lower"),
    "op_tail_ms": ("ms", "lower"),
    "cpu_s": ("s", "lower"),
    "ok_ratio": ("ratio", "higher"),
}

#: Printed by every traced run, on every workload.  A layer the
#: workload leaves idle reads 0: the streaming layers are measured on
#: wordcount_backlog, the operators and the stores (the store leg) on
#: catalog_mix.
PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "setup.stage_s": ("s", "lower"),
    "setup.warmup_s": ("s", "lower"),
    "pipeline.latest_offset_ms": ("ms", "lower"),
    "pipeline.get_batch_ms": ("ms", "lower"),
    "pipeline.query_planning_ms": ("ms", "lower"),
    "pipeline.add_batch_ms": ("ms", "lower"),
    "pipeline.wal_commit_ms": ("ms", "lower"),
    "pipeline.commit_offsets_ms": ("ms", "lower"),
    "pipeline.gap_ms": ("ms", "lower"),
    "state.rows_total": ("count", "lower"),
    "state.rows_updated": ("count", "lower"),
    "state.update_ms": ("ms", "lower"),
    "state.commit_ms": ("ms", "lower"),
    "state.memory_bytes": ("bytes", "lower"),
    "decode.tokens_per_record": ("count", "lower"),
    "monitor.progress_events": ("count", "lower"),
    "monitor.unconsumed_records": ("count", "lower"),
    "dedup.call_ms": ("ms", "lower"),
    "index.call_ms": ("ms", "lower"),
    "vectors.call_ms": ("ms", "lower"),
    "quantiles.call_ms": ("ms", "lower"),
    "dedup.compact_call_ms": ("ms", "lower"),
    "index.compact_call_ms": ("ms", "lower"),
    "vectors.compact_call_ms": ("ms", "lower"),
    "quantiles.compact_call_ms": ("ms", "lower"),
    "dedup.accept_ratio": ("ratio", "higher"),
    "store.leaf_files": ("count", "lower"),
    "store.bytes": ("bytes", "lower"),
    "serve.bm25_ms": ("ms", "lower"),
    "serve.topk_ms": ("ms", "lower"),
    "serve.hybrid_ms": ("ms", "lower"),
    "serve.quantiles_ms": ("ms", "lower"),
    "catalog.build_ms": ("ms", "lower"),
    "catalog.exec_ms": ("ms", "lower"),
    "ops.similarity_ms": ("ms", "lower"),
    "ops.dedup_ms": ("ms", "lower"),
    "ops.sketch_ms": ("ms", "lower"),
    "ops.text_ms": ("ms", "lower"),
    "ops.relational_ms": ("ms", "lower"),
    "spark.jobs_per_op": ("count", "lower"),
    "spark.tasks_per_op": ("count", "lower"),
    "host.steal_pct": ("%", "lower"),
    "host.load1": ("count", "lower"),
    "host.cpu_util": ("%", "lower"),
    "host.calib_ms": ("ms", "lower"),
    "trace.overhead_pct": ("%", "lower"),
    "baseline.local1_items_per_s": ("1/s", "higher"),
    "baseline.speedup": ("x", "higher"),
}
