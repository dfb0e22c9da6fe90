"""Incremental (streaming) quantile state: the bottom-k priority
sample maintained across micro-batches.

The batch sketch (:mod:`..operators.quantiles`) is *mergeable by
construction* — the per-group bottom-k of a union is the bottom-k of
the union of per-part bottom-k's — so the streaming state is simply
the current per-group sample, and the maintenance loop is the
partials-append shape shared by the other five stores (signatures,
index, MERGE, spans, vectors):

* each micro-batch writes ITS OWN per-group bottom-k (≤ groups·k rows)
  under a ``batch=B`` leaf with dynamic partition overwrite, so a
  replayed trigger overwrites exactly its own output (exactly-once);
* :meth:`IncrementalQuantileStore.sample` re-cuts bottom-k across all
  leaves — a window over O(batches·groups·k) rows, never the stream.
  The re-cut first drops duplicate ``(g, ky)`` rows: ``ky`` is the
  caller-supplied UNIQUE row key (the store's contract), so a row that
  survives both the compacted base and a replayed batch leaf (trigger
  crashed after :meth:`compact` folded its leaf but before the
  checkpoint committed) counts once — exactly-once holds across the
  compaction boundary, not just across leaf overwrites;
* :meth:`IncrementalQuantileStore.quantiles` runs the SAME
  :func:`..operators.quantiles.quantile_estimates` derivation as the
  batch query, so a snapshot over everything ingested is bit-identical
  to a batch rebuild (pinned in tests/test_round7b_ops.py);
* :meth:`IncrementalQuantileStore.compact` folds the leaves into one
  ``batch=-1`` base, bounding file counts.  The swap is crash-safe
  (:mod:`.swap` — shared by all compacting stores): the old store is
  renamed ASIDE before the new base takes its path, and every
  read/write path first RESTORES an interrupted swap — no window
  where the only copy of history is deleted;
* **retention**: with ``event_time_sql`` (an SQL expression over the
  group column ``g`` yielding a TIMESTAMP) and ``retention`` (an
  INTERVAL literal body, e.g. ``'3 hours'``), :meth:`compact` drops
  groups whose event time is older than ``max(event_time) −
  retention`` — the watermark-style horizon.  For event-time-windowed
  group keys this bounds state at O(live_windows · k) instead of
  O(all_windows · k), the "runs forever" requirement; without the
  policy nothing is evicted (the r7 behavior).

Because the state is an actual row sample (not a digest), the store
also answers *new* quantiles, arbitrary sub-range ranks, and serves as
a deterministic uniform sample of the stream for any downstream audit
— properties engine-native quantile digests don't have.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.quantiles import K_GROUP, quantile_estimates
from .swap import commit_swap, recover_swap, serve_read, swap_lock


class IncrementalQuantileStore:
    """foreachBatch processor maintaining per-group bottom-k priority
    samples at ``store_path``; :meth:`quantiles` serves rank estimates
    over everything ingested (minus evicted groups, see retention).

    ``key_sql`` must be UNIQUE per input row — the exactly-once re-cut
    dedups on ``(g, ky)``, so colliding keys would collapse distinct
    rows into one sample slot.
    """

    def __init__(
        self,
        store_path: str,
        group_col: str,
        value_col: str,
        key_sql: str,
        k: int = K_GROUP,
        compact_every: int = 0,
        event_time_sql: str | None = None,
        retention: str | None = None,
    ):
        self.store_path = store_path
        self.group_col = group_col
        self.value_col = value_col
        self.key_sql = key_sql
        self.k = k
        self.compact_every = compact_every
        self.event_time_sql = event_time_sql
        self.retention = retention

    def _cut(self, rows: DataFrame) -> DataFrame:
        # (g, ky) is unique by the store contract, so this dedup is
        # exact — it heals the one double-count a replayed trigger can
        # create when compact() already folded the replayed batch's
        # rows into the batch=-1 base.
        w = Window.partitionBy("g").orderBy("h", "ky")
        return (
            rows.dropDuplicates(["g", "ky"])
            .withColumn("prk", F.row_number().over(w))
            .filter(F.col("prk") <= self.k)
            .drop("prk")
        )

    def sample(
        self, spark: SparkSession, live: bool = False
    ) -> DataFrame | None:
        """The current per-group bottom-k over ALL ingested rows:
        re-cutting the union of per-batch cuts is exact because any
        row in the global bottom-k survives its own batch's cut.

        Default reads are snapshot-isolated (:func:`..swap.serve_read`
        pins the store tree with hardlinks), so a concurrent trigger or
        compaction swap cannot tear or invalidate the read;
        ``live=True`` is the writer-internal path (compact reads its
        own store under the store lock — no pin, no extra inode
        retention)."""
        if live:
            recover_swap(self.store_path)
            if not os.path.exists(self.store_path):
                return None
            df = spark.read.parquet(self.store_path)
        else:
            df = serve_read(spark, self.store_path)
            if df is None:
                return None
        return self._cut(df.select("g", "v", "ky", "h"))

    def quantiles(self, spark: SparkSession) -> DataFrame | None:
        """(g, q, est, m) over everything ingested — the SAME
        derivation as the batch query, so snapshot ≡ batch rebuild."""
        samp = self.sample(spark)
        if samp is None:
            return None
        return quantile_estimates(samp, grouped=True).orderBy("g", "q")

    def _retained(self, samp: DataFrame) -> DataFrame:
        """Apply the retention policy: keep groups whose event time is
        within ``retention`` of the max event time across live state —
        the watermark horizon, computed from state (bounded rows), not
        the stream."""
        if self.event_time_sql is None or self.retention is None:
            return samp
        et = F.expr(self.event_time_sql)
        horizon = samp.agg(
            F.expr(
                f"max({self.event_time_sql}) - INTERVAL {self.retention}"
            ).alias("hz")
        )
        # NULL event times (an unparseable group string under a
        # misconfigured policy) are KEPT, not evicted — eviction must
        # never silently delete state the policy can't date.  A NULL
        # horizon (every live event time NULL) likewise keeps all rows.
        return (
            samp.crossJoin(F.broadcast(horizon))
            .filter(et.isNull() | F.col("hz").isNull() | (et >= F.col("hz")))
            .drop("hz")
        )

    def compact(self, spark: SparkSession) -> None:
        """Fold per-batch leaves into one ``batch=-1`` base, evicting
        expired groups under the retention policy.  Crash-safe swap:
        the new base is fully written to a tmp dir, the old store is
        renamed aside (never deleted while it is the only copy), the
        tmp takes the store path, then the aside copy is removed — a
        crash at any point leaves a complete copy at a location
        :meth:`_read_path` checks (a transactional table format makes
        the same move atomic)."""
        with swap_lock(self.store_path):
            samp = self.sample(spark, live=True)
            if samp is None:
                return
            tmp = self.store_path + ".compact.tmp"
            # Explicit count, as in fold.TieredStore.append: without one
            # AQE may coalesce the keyed exchange into a single task
            # that writes the whole base serially.
            (
                self._retained(samp)
                .withColumn("batch", F.lit(-1))
                .repartition(spark.sparkContext.defaultParallelism, "g")
                .write.mode("overwrite")
                .partitionBy("batch")
                .parquet(tmp)
            )
            commit_swap(self.store_path)

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        from ..operators.quantiles import bottomk_sample_grouped

        # The store lock spans the leaf write (and any compact), so a
        # concurrent serve_read pins either the pre- or post-batch
        # tree, never a half-committed leaf.
        with swap_lock(self.store_path):
            recover_swap(self.store_path)
            cut = bottomk_sample_grouped(
                batch, self.group_col, self.value_col, self.key_sql, self.k
            )
            (
                cut.withColumn("batch", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch")
                .parquet(self.store_path)
            )
            if (
                self.compact_every
                and batch_id > 0
                and batch_id % self.compact_every == 0
            ):
                self.compact(batch.sparkSession)
