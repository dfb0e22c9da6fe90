"""catalog_mix: oracle-checked catalog entries run one at a time to a
noop sink over generated catalog tables.

Pass ``p`` runs ``ENTRIES`` rotated by ``p``, so one cycle of
``len(ENTRIES)`` passes puts every entry once in every position and every
run, whatever its seed, runs the same sequence: the catalog tables are
fixed because the oracles are written against them.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

from perfbench import gen, store
from perfbench.harness import Tracer, job_counts

#: (entry, tag); the tag picks the ``ops.<tag>_ms`` sum.  One entry per
#: operator family, each well under two seconds warm on four cores, so a
#: cycle of passes fits one run.
ENTRIES = (
    ("q_scalar_string_functions", "relational"),
    ("q_dedup_minhash_lsh", "dedup"),
    ("q_sketch_hll_sliding", "sketch"),
    ("q_text_bm25_search", "text"),
    ("q_similarity_topk_bruteforce", "similarity"),
)
TAGS = ("similarity", "dedup", "sketch", "text", "relational")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
#: The oracle pass, then passes of the timed form.
WARM_PASSES = 4
#: The fixed work of a run: one rotation cycle, 25 queries.
TIMED_PASSES = len(ENTRIES)


class Workload:
    name = "catalog_mix"
    #: Run after the traced phase: the stores and serving reads, which no
    #: listed workload times end to end.
    legs = (store.Leg,)

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.dir = os.path.join(work, "tables")
        self.passes = TIMED_PASSES
        self.n_passes = 0
        self.oracle_ok: dict[str, bool] = {}

    def stage(self) -> None:
        for name, table in gen.catalog_tables().items():
            gen.write_parquet(table, os.path.join(self.dir, f"{name}.parquet"))

    warmup_iters = WARM_PASSES

    def warmup_iter(self, i: int, tracer) -> list[float]:
        """Pass 0 collects every entry and compares it with its DuckDB
        oracle; later passes run the timed form."""
        from spark_kafka_streaming_spark.functions.caching import release_operator_caches
        from spark_kafka_streaming_spark.queries import REGISTRY

        if i > 0:
            return [r["build_ms"] + r["exec_ms"] for r in self.one_pass(tracer)]
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.dir}/{t}.parquet')"
            )
        lat = []
        for name, _ in ENTRIES:
            q = REGISTRY[name]
            t0 = time.perf_counter()
            try:
                got = sorted(map(tuple, q.builder(self.spark, self.dir).collect()))
            except Exception as e:  # noqa: BLE001 - reported as a failed check
                print(f"{name}: {e!r}"[:500], file=sys.stderr)
                got = None
            lat.append(1e3 * (time.perf_counter() - t0))
            release_operator_caches()
            want = sorted(con.execute(q.oracle).fetchall())
            self.oracle_ok[name] = got == want and len(want) > 0
        return lat

    def one_pass(self, tracer) -> list[dict]:
        from spark_kafka_streaming_spark.functions.caching import release_operator_caches
        from spark_kafka_streaming_spark.queries import REGISTRY

        k = self.n_passes % len(ENTRIES)
        self.n_passes += 1
        order = ENTRIES[k:] + ENTRIES[:k]
        out = []
        for name, tag in order:
            group = f"catalog-{tracer.op}"
            if tracer.enabled:
                self.spark.sparkContext.setJobGroup(group, name)
            rec = {"name": name, "tag": tag}
            try:
                with tracer.span("catalog.query"):
                    t0 = time.perf_counter()
                    with tracer.span("catalog.build"):
                        df = REGISTRY[name].builder(self.spark, self.dir)
                    t1 = time.perf_counter()
                    with tracer.span("catalog.exec"):
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                rec.update(build_ms=1e3 * (t1 - t0), exec_ms=1e3 * (t2 - t1))
            except Exception as e:  # noqa: BLE001 - a failed query is counted, not fatal
                rec["error"] = repr(e)[:500]
            release_operator_caches()
            if tracer.enabled:
                rec["jobs"], rec["tasks"] = job_counts(self.spark, group)
                # untraced work after this must not land in the group
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            tracer.op += 1
            out.append(rec)
        return out

    def timed(self, tracer) -> dict:
        """The fixed work: one cycle of passes.  Traced, the cycle runs
        twice with traced and untraced passes alternating, so the warm-up
        drift that is left falls on both alike; the overhead is the
        traced passes' wall time over the untraced ones'."""
        schedule = [tracer, Tracer()] * self.passes if tracer.enabled else [tracer] * self.passes
        passes, walls = [], []
        for tr in schedule:
            t0 = time.perf_counter()
            passes.append(self.one_pass(tr))
            walls.append(time.perf_counter() - t0)
        attempted = sum(len(p) for p in passes)
        failed = sum(1 for p in passes for r in p if "error" in r)
        step = 2 if tracer.enabled else 1
        passes, wall = passes[::step], sum(walls[::step])
        recs = [r for p in passes for r in p]
        ok = [r for r in recs if "error" not in r]
        by_entry: dict[str, list[float]] = {}
        for r in ok:
            by_entry.setdefault(r["name"], []).append(r["build_ms"] + r["exec_ms"])
        out = {
            "latencies_ms": [r["build_ms"] + r["exec_ms"] for r in ok],
            "by_entry": by_entry,
            "rounds": [sum(r.get("build_ms", 0) + r.get("exec_ms", 0) for r in p) for p in passes],
            "detail": recs,
            "items": len(ok),
            "items_per_s": len(ok) / wall,
            "attempted": attempted,
            "failed": failed,
        }
        if tracer.enabled:
            self.traced = ok
            out["overhead_pct"] = 100.0 * (wall / sum(walls[1::2]) - 1)
        return out

    def check(self) -> dict[str, bool]:
        return {f"oracle:{n}": ok for n, ok in self.oracle_ok.items()}

    def layers(self, tracer) -> dict[str, float]:
        recs = self.traced
        per = float(self.passes)
        out = {
            "catalog.build_ms": sum(r["build_ms"] for r in recs) / per,
            "catalog.exec_ms": sum(r["exec_ms"] for r in recs) / per,
            "spark.jobs_per_op": sum(r["jobs"] for r in recs) / len(recs),
            "spark.tasks_per_op": sum(r["tasks"] for r in recs) / len(recs),
        }
        for tag in TAGS:
            out[f"ops.{tag}_ms"] = (
                sum(r["build_ms"] + r["exec_ms"] for r in recs if r["tag"] == tag) / per
            )
        return out
