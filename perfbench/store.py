"""The store leg: one closed-loop client feeds seeded document batches
into the dedup, index, vector and quantile stores, then issues a fixed
read set against them after every batch."""

from __future__ import annotations

import bisect
import os
import time

import pyarrow.parquet as pq

from perfbench import gen
from perfbench.harness import du, median

BATCH = 40
#: Every batch after the first compacts: the leg is one plain batch and
#: one compacting batch.
COMPACT_EVERY = 1
#: Directory buckets of the dedup and index stores, sized to the small
#: corpus (the stores' defaults, 64 and 32, target cluster scale).
BUCKETS = 8
LEG_BATCHES = 2
LEG_K, TOPK, N_PROBE = 20, 10, 4
STORES = ("dedup", "index", "vectors", "quantiles")
READS = ("bm25", "topk", "hybrid", "quantiles")


class Stores:
    """The four stores of one ingest stream, rooted at ``root``."""

    def __init__(self, root: str):
        from spark_kafka_streaming_spark.streaming.incremental_dedup import IncrementalDeduper
        from spark_kafka_streaming_spark.streaming.incremental_index import IncrementalIndexer
        from spark_kafka_streaming_spark.streaming.incremental_quantiles import (
            IncrementalQuantileStore,
        )
        from spark_kafka_streaming_spark.streaming.incremental_vectors import (
            IncrementalVectorIndexer,
        )

        self.root = root
        self.accepted = os.path.join(root, "accepted")
        self.dedup = IncrementalDeduper(
            os.path.join(root, "sig"), self.accepted,
            n_key_buckets=BUCKETS, compact_every=COMPACT_EVERY,
        )
        self.index = IncrementalIndexer(
            os.path.join(root, "ix"), n_term_buckets=BUCKETS, compact_every=COMPACT_EVERY
        )
        self.vectors = IncrementalVectorIndexer(
            os.path.join(root, "vec"), n_cells=8, compact_every=COMPACT_EVERY
        )
        self.quantiles = IncrementalQuantileStore(
            os.path.join(root, "q"), "lang", "n_chars", "doc_id",
            compact_every=COMPACT_EVERY,
        )


class Leg:
    """The store leg of a traced run: ``LEG_BATCHES`` seeded document
    batches, each fed into the four stores and followed by the fixed
    read set, then every store checked against its batch twin."""

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        cols = gen.documents(seed, LEG_BATCHES * BATCH)
        self.paths = []
        for b in range(LEG_BATCHES):
            p = os.path.join(work, "docs_in", f"b{b:04d}.parquet")
            gen.write_parquet(gen.documents_table(cols, b * BATCH, (b + 1) * BATCH), p)
            self.paths.append(p)

    # ------------------------------------------------------------ the loop
    def _query(self):
        from pyspark.sql import functions as F

        return (
            self.spark.read.parquet(self.paths[0])
            .filter(F.col("doc_id") == 0)
            .select(F.col("doc_id").alias("vec_id"), "embedding")
        )

    def reads(self, st: Stores, q) -> dict:
        """The fixed read set, each a call that collects its result."""
        from spark_kafka_streaming_spark.streaming.serving import hybrid_rrf_from_stores

        spark = self.spark
        return {
            "bm25": lambda: st.index.bm25_snapshot(spark).collect(),
            "topk": lambda: st.vectors.topk(q, k=TOPK, n_probe=N_PROBE).collect(),
            "hybrid": lambda: hybrid_rrf_from_stores(
                st.index, st.vectors, q, spark, leg_k=LEG_K, topk=TOPK, n_probe=N_PROBE
            ).collect(),
            "quantiles": lambda: st.quantiles.quantiles(spark).collect(),
        }

    def step(self, st: Stores, bid: int, path: str, tracer, rec: dict) -> None:
        """Ingest one batch into every store, then serve the read set;
        appends (kind, ms) samples to ``rec``."""
        from pyspark.sql import functions as F

        spark = self.spark
        docs = spark.read.parquet(path)
        compacting = bid > 0 and bid % COMPACT_EVERY == 0
        calls = {
            "dedup": lambda: st.dedup(docs.select("doc_id", "text"), bid),
            "index": lambda: st.index(docs.select("doc_id", "text"), bid),
            "vectors": lambda: st.vectors(
                docs.select(F.col("doc_id").alias("vec_id"), "embedding"), bid
            ),
            "quantiles": lambda: st.quantiles(docs.select("doc_id", "lang", "n_chars"), bid),
        }
        reads = self.reads(st, self._query())
        for kind, fn in [(f"{k}.call", calls[k]) for k in STORES] + [
            (f"serve.{k}", reads[k]) for k in READS
        ]:
            if compacting and kind.endswith(".call"):
                kind = kind.replace(".call", ".compact_call")
            rec["attempted"] += 1
            t0 = time.perf_counter()
            try:
                with tracer.span(kind):
                    fn()
            except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
                rec["failed"] += 1
                rec.setdefault("errors", []).append(f"{kind}: {e!r}"[:500])
                continue
            finally:
                tracer.op += 1
            rec["ops"].append((kind, 1e3 * (time.perf_counter() - t0)))
        files = size = 0
        for sub in ("sig", "ix", "vec", "q"):
            f, s = du(os.path.join(st.root, sub))
            files, size = files + f, size + s
        rec["store"].append((files, size))

    def run(self, tracer) -> dict:
        """Feed every batch; returns the op samples and the store sizes
        after each batch."""
        self.stores = Stores(os.path.join(self.work, "stores"))
        rec = {"ops": [], "attempted": 0, "failed": 0, "store": []}
        for bid, path in enumerate(self.paths):
            with tracer.span("store.step"):
                self.step(self.stores, bid, path, tracer, rec)
        self.rec = rec
        return rec

    # ------------------------------------------------------------ checks
    def check(self) -> dict[str, bool]:
        """Each store against its batch twin over everything ingested."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from spark_kafka_streaming_spark.functions import texthash as TH
        from spark_kafka_streaming_spark.operators import index as IX
        from spark_kafka_streaming_spark.operators.dedup import minhash_lsh_pairs
        from spark_kafka_streaming_spark.operators.quantiles import (
            bottomk_sample_grouped,
            quantile_estimates,
        )
        from spark_kafka_streaming_spark.operators.similarity import ivf_topk

        spark = self.spark
        st = self.stores
        docs = spark.read.parquet(*self.paths)
        out = {}

        def rows(df) -> list[tuple]:
            return sorted(tuple(r) for r in df.collect())

        out["index_equals_batch"] = rows(st.index.snapshot(spark)) == rows(
            IX.inverted_index(IX.term_doc_tf(docs))
        )

        pairs = minhash_lsh_pairs(docs, jaccard_threshold=st.dedup.threshold)
        partners: dict[int, list[int]] = {}
        for r in pairs.select("id1", "id2").collect():
            partners.setdefault(int(r["id2"]), []).append(int(r["id1"]))
        starts = [b * BATCH for b in range(len(self.paths))]

        def trig(doc: int) -> int:
            return bisect.bisect_right(starts, doc) - 1

        greedy: set[int] = set()
        for i in range(len(self.paths) * BATCH):
            if not any(trig(j) == trig(i) or j in greedy for j in partners.get(i, ())):
                greedy.add(i)
        got = set(
            pq.read_table(st.accepted, columns=["doc_id"]).column("doc_id").to_pylist()
        )
        out["dedup_equals_greedy_replay"] = got == greedy
        self.accept_ratio = len(got) / (len(self.paths) * BATCH)

        want_q = quantile_estimates(
            bottomk_sample_grouped(docs, "lang", "n_chars", "doc_id", st.quantiles.k),
            grouped=True,
        )
        out["quantiles_equal_batch"] = rows(st.quantiles.quantiles(spark)) == rows(want_q)

        q = self._query()
        served = [tuple(r) for r in self.reads(st, q)["hybrid"]()]
        tok = docs.select("doc_id", F.explode(F.expr(TH.spark_tokens("text"))).alias("term"))
        per_doc = tok.groupBy("doc_id").agg(
            F.count("*").alias("dl"),
            *[F.expr(IX.bm25_tf_case(t)).cast("bigint").alias(f"tf_{t}") for t in IX.BM25_TERMS],
        )
        bm = (
            IX.bm25_score_per_doc(per_doc, topk=LEG_K)
            .withColumn(
                "bm25_rank",
                F.row_number().over(Window.orderBy(F.desc("score"), "doc_id")).cast("int"),
            )
            .select("doc_id", "bm25_rank")
        )
        emb = docs.select(F.col("doc_id").alias("vec_id"), "embedding")
        cv = ivf_topk(
            q, emb, k=LEG_K, n_probe=N_PROBE, n_assign=2, centroids=st.vectors.centroids(spark)
        ).select(F.col("neighbor_id").alias("id"), F.col("rn").cast("int").alias("cos_rank"))
        batch = [tuple(r) for r in IX.rrf_fuse(bm, cv, topk=TOPK).collect()]
        out["hybrid_equals_batch"] = served == batch and len(batch) > 0
        return out

    # ------------------------------------------------------------ layers
    def layers(self) -> dict[str, float]:
        rec = self.rec
        by: dict[str, list[float]] = {}
        for kind, ms in rec["ops"]:
            by.setdefault(kind, []).append(ms)
        out = {f"{k}_ms": median(v) for k, v in by.items()}
        files, size = rec["store"][-1]
        out.update(
            {
                "store.leaf_files": float(files),
                "store.bytes": float(size),
                "dedup.accept_ratio": self.accept_ratio,
            }
        )
        return out

