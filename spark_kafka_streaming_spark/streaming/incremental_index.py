"""Incremental (streaming) inverted-index maintenance.

The batch operator (:mod:`..operators.index`) builds the index in one
pass; a corpus that arrives continuously needs the index maintained
per micro-batch without re-reading history.  The mergeable state is
the (term, doc_id, tf) term-frequency table — tf partials from any
split of the corpus sum to the batch table — so the maintenance loop
is the same shape as the streaming Count-Min sketch
(tests/test_llm8.py::test_cms_streaming_incremental_equals_batch):
per-batch partials appended via ``foreachBatch``, merged by sum, the
rank-capped index derived from the merged table on demand.

Store layout (the 100 TB shape): the partials are a
:class:`..fold.TieredStore` bucketed by
``tb=pmod(xxhash64(term), N)`` — hash-bucketed by term so
snapshot/compaction shuffles align with the bucket layout; leaves are
sorted by term.

* :meth:`IncrementalIndexer.compact` folds trigger leaves into summed
  runs per bucket (tf partials sum across any split, so merging any
  subset of leaves is exact);
* :meth:`IncrementalIndexer.snapshot` merges partials (groupBy
  (term, doc_id) sum — map-side combinable, one shuffle) and applies
  the SAME :func:`..operators.index.inverted_index` derivation as the
  batch query, so stream-built and batch-built indexes are identical
  by construction (pinned in tests/test_streaming_extra.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fold import TieredStore
from ..operators import index as IX

#: Directory-level hash buckets on term. Sized at cluster scale so one
#: bucket ≈ a few hundred MB of tf partials.
N_TERM_BUCKETS = 32


class IncrementalIndexer:
    """foreachBatch processor maintaining a (term, doc_id, tf) partial
    store at ``store_path``; ``snapshot()`` derives the rank-capped
    inverted index equal to a batch rebuild over everything ingested."""

    def __init__(
        self,
        store_path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        cap: int = IX.POSTINGS_CAP,
        n_term_buckets: int = N_TERM_BUCKETS,
        compact_every: int = 0,
    ):
        self.store_path = store_path
        self.id_col = id_col
        self.text_col = text_col
        self.cap = cap
        self.n_term_buckets = n_term_buckets
        self.store = TieredStore(
            store_path,
            "tb",
            "term",
            lambda df: df.groupBy("tb", "term", "doc_id").agg(
                F.sum("tf").alias("tf")
            ),
            compact_every,
        )

    def _merged_tf(
        self, spark: SparkSession, live: bool = False
    ) -> DataFrame | None:
        store = self.store.read(spark, live=live)
        if store is None:
            return None
        return store.groupBy("term", "doc_id").agg(
            F.sum("tf").alias("tf")
        )

    def snapshot(self, spark: SparkSession) -> DataFrame | None:
        """The current index: identical to a batch
        :func:`..operators.index.inverted_index` over all ingested
        docs (the merge is exact because tf partials sum)."""
        tf = self._merged_tf(spark)
        return None if tf is None else IX.inverted_index(tf, cap=self.cap)

    def bm25_snapshot(
        self,
        spark: SparkSession,
        terms: tuple[str, ...] = IX.BM25_TERMS,
        topk: int = IX.BM25_TOPK,
    ) -> DataFrame | None:
        """BM25-ranked retrieval served from the maintained store —
        the search tier's serving loop.

        The (term, doc_id, tf) partials already carry everything the
        scorer needs: dl = Σ tf over a doc's terms, per-query-term tf
        by filtered sum, df/n_docs/sum_dl reduce to one broadcast row.
        The scoring goes through the SAME
        :func:`..operators.index.bm25_score_per_doc` expressions as
        the batch query (q_text_bm25_search), so stream-served ranks
        and scores are bit-identical to a batch rebuild over
        everything ingested (pinned in tests/test_streaming_extra.py).
        """
        tf = self._merged_tf(spark)
        if tf is None:
            return None
        per_doc = tf.groupBy("doc_id").agg(
            F.sum("tf").cast("bigint").alias("dl"),
            *[
                F.sum(F.when(F.col("term") == t, F.col("tf")).otherwise(0))
                .cast("bigint")
                .alias(f"tf_{t}")
                for t in terms
            ],
        )
        return IX.bm25_score_per_doc(per_doc, terms, topk)

    def heavy_hitters_snapshot(
        self, spark: SparkSession, phi: float = 0.002
    ) -> DataFrame | None:
        """Exact phi-heavy hitters served from the maintained store —
        the streaming twin of
        :func:`..operators.sketches.heavy_hitters_exact`
        (q_text_heavy_hitters).

        The tf partials sum exactly, so corpus-wide token counts (and
        the corpus total) reduce from the store without touching any
        document bytes; the threshold expression
        (``cnt >= ceil(phi * n_total)``, frac rounded the same way)
        matches the batch operator so stream-served heavy hitters are
        bit-identical to a batch rebuild over everything ingested
        (pinned in tests/test_streaming_extra.py).  At scale this is
        the monitoring read a curation pipeline wants continuously:
        vocabulary drift and boilerplate-token surges show up here
        batches after they enter, with no corpus re-scan.
        """
        tf = self._merged_tf(spark)
        if tf is None:
            return None
        counts = tf.groupBy("term").agg(F.sum("tf").cast("bigint").alias("cnt"))
        total = counts.groupBy().agg(F.sum("cnt").alias("n_total"))
        return (
            counts.crossJoin(F.broadcast(total))
            .filter(F.col("cnt") >= F.ceil(F.lit(phi) * F.col("n_total")))
            .select(
                F.col("term").alias("token"),
                "cnt",
                F.round(F.col("cnt") / F.col("n_total"), 6).alias("frac"),
            )
        )

    def compact(self, spark: SparkSession) -> dict[str, int]:
        """One tiered compaction pass (:meth:`..fold.TieredStore.compact`)."""
        return self.store.compact(spark)

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        tf = IX.term_doc_tf(batch, self.id_col, self.text_col)
        self.store.append(
            tf.withColumn(
                "tb", F.pmod(F.xxhash64("term"), F.lit(self.n_term_buckets))
            ),
            batch_id,
        )
