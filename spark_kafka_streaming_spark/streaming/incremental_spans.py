"""Incremental (streaming) span-level exact-substring dedup state.

The batch operator (:func:`..operators.dedup.substring_span_stats`)
accounts duplicated w-token windows corpus-wide in one pass; a
pipeline receiving documents continuously must keep that state
current without re-reading history.  The mergeable state is the
per-window-hash aggregate ``(h, cnt, canon)``: occurrence counts SUM
across any split of the corpus and the canonical packed (doc, pos)
key MINs — so the maintenance loop is the partials-append shape of
:mod:`.incremental_index` (term tf partials), the fourth member of
the streaming-maintenance family after signatures, index, and MERGE.

Store layout (the 100 TB shape): the partials are a
:class:`..fold.TieredStore` bucketed by ``hb=pmod(xxhash64(h), N)`` —
hash-bucketed by window hash so snapshot/compaction shuffles align
with the layout; leaves are sorted by h.

* :meth:`IncrementalSpanDeduper.compact` folds trigger leaves into
  merged runs per bucket, bounding file counts;
* :meth:`IncrementalSpanDeduper.span_stats` hashes ANY document set
  (typically the newest batch — "which spans of this doc already
  exist in the corpus?") and joins it against the merged store,
  deriving per-doc stats through the SAME
  :func:`..operators.dedup.span_stats_from` expressions as the batch
  query, so a snapshot over everything ingested is bit-identical to a
  batch rebuild (pinned in tests/test_streaming_extra.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fold import TieredStore
from ..operators.dedup import span_occurrences, span_stats_from

#: Directory-level hash buckets on the window hash. Sized at cluster
#: scale so one bucket ≈ a few hundred MB of (h, cnt, canon) rows.
N_HASH_BUCKETS = 32


class IncrementalSpanDeduper:
    """foreachBatch processor maintaining (h, cnt, canon) window-hash
    partials at ``store_path``; :meth:`span_stats` serves per-doc span
    accounting against everything ingested."""

    def __init__(
        self,
        store_path: str,
        w: int = 5,
        id_col: str = "doc_id",
        text_col: str = "text",
        n_hash_buckets: int = N_HASH_BUCKETS,
        compact_every: int = 0,
    ):
        self.store_path = store_path
        self.w = w
        self.id_col = id_col
        self.text_col = text_col
        self.n_hash_buckets = n_hash_buckets
        self.store = TieredStore(
            store_path,
            "hb",
            "h",
            lambda df: df.groupBy("hb", "h").agg(
                F.sum("cnt").alias("cnt"), F.min("canon").alias("canon")
            ),
            compact_every,
        )

    def merged(
        self, spark: SparkSession, live: bool = False
    ) -> DataFrame | None:
        """The corpus-wide (h, cnt, canon) table: partials merged by
        (sum, min) — exact because both aggregates are mergeable."""
        store = self.store.read(spark, live=live)
        if store is None:
            return None
        return store.groupBy("h").agg(
            F.sum("cnt").alias("cnt"), F.min("canon").alias("canon")
        )

    def span_stats(self, docs: DataFrame) -> DataFrame | None:
        """Per-doc span accounting for ``docs`` against EVERYTHING
        ingested: (doc_id, n_tokens, n_windows, n_dup_windows,
        n_dup_tokens, dup_frac) — the schema and expressions of
        :func:`..operators.dedup.substring_span_stats`.  Called with
        the full ingested corpus it equals the batch rebuild; called
        with just the newest documents it answers the serving question
        ("how much of this doc already exists?") while reading only
        the store buckets those documents' hashes touch."""
        merged = self.merged(docs.sparkSession)
        if merged is None:
            return None
        base, occ = span_occurrences(docs, self.w, self.id_col, self.text_col)
        removable = (
            occ.join(merged, "h")
            .filter((F.col("cnt") > 1) & (F.col("okey") != F.col("canon")))
            .select(self.id_col, "pos")
        )
        return span_stats_from(base, removable, self.w, self.id_col)

    def compact(self, spark: SparkSession) -> dict[str, int]:
        """One tiered compaction pass (:meth:`..fold.TieredStore.compact`)."""
        return self.store.compact(spark)

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        _, occ = span_occurrences(batch, self.w, self.id_col, self.text_col)
        partial = occ.groupBy("h").agg(
            F.count("*").alias("cnt"), F.min("okey").alias("canon")
        )
        self.store.append(
            partial.withColumn(
                "hb", F.pmod(F.xxhash64("h"), F.lit(self.n_hash_buckets))
            ),
            batch_id,
        )
