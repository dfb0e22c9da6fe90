"""Incremental (streaming) CDC upsert into a keyed parquet snapshot.

The batch operator (``queries/relational4.py::q_cdc_apply_changes``)
applies a change set with one full-outer join; a pipeline receiving
continuous CDC feeds must maintain the snapshot per micro-batch
without rewriting the world.  This is the foreachBatch MERGE loop —
the third member of the streaming-maintenance family
(:mod:`.incremental_dedup` for signatures, :mod:`.incremental_index`
for term partials), and the OSS-primitive form of what a Delta /
Iceberg ``MERGE INTO`` sink does transactionally.

Store layout and the 100 TB shape:

* the snapshot lives hash-bucketed by key:
  ``kb = pmod(xxhash64(key), N)`` directories — so one micro-batch
  only ever touches the buckets its change keys hash into;
* per trigger: tag the batch's changes with ``kb``, collect the
  touched bucket list (tiny — bounded by N), read ONLY those buckets
  (partition-pruned scan), full-outer merge exactly like the batch
  operator, write the merged buckets to a temp dir, and swap the
  touched directories.  Untouched buckets are never read or written —
  per-trigger I/O scales with the feed's bucket fan-out, not snapshot
  size;
* **idempotent by semantics**: changes are absolute (UPSERT rows carry
  the full new state, DELETE removes the key), so re-applying a batch
  after a crash — even to a bucket the failed attempt already swapped
  — converges to the same content.  A transactional table format
  would make the swap atomic as well; the temp-dir + rename here is
  the single-writer equivalent (same posture as
  ``incremental_dedup.compact``).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .swap import pin_store, recover_bucket_swap, swap_buckets, swap_lock

N_KEY_BUCKETS = 32


class IncrementalMerger:
    """foreachBatch processor maintaining a keyed snapshot at
    ``store_path`` under an absolute CDC feed.

    Change rows: (``key_col``, ``op`` ∈ {'U','D'}, *value columns) —
    'U' upserts the row's full state (insert-or-replace), 'D' deletes
    the key.  The snapshot holds (``key_col``, *value columns).

    ``seq_col``: optional change-sequence column (LSN / commit
    timestamp) in the feed.  When given, the LATEST change per key
    within a micro-batch wins (ordered by it, ties broken op-desc so
    the outcome stays deterministic), and the column is metadata — it
    does not enter the snapshot.  Without it there is no in-batch
    order to honor, so same-key conflicts resolve op-desc ('U' beats
    'D') purely for determinism — an ordered update-then-delete
    arriving in one batch would keep the update, so feeds that carry
    ordering MUST pass ``seq_col``.
    """

    def __init__(
        self,
        store_path: str,
        key_col: str = "k",
        n_key_buckets: int = N_KEY_BUCKETS,
        seq_col: str | None = None,
    ):
        self.store_path = store_path
        self.key_col = key_col
        self.n_key_buckets = n_key_buckets
        self.seq_col = seq_col

    def _kb(self) -> F.Column:
        return F.pmod(
            F.xxhash64(F.col(self.key_col).cast("string")),
            F.lit(self.n_key_buckets),
        ).cast("int")

    def snapshot(self, spark: SparkSession) -> DataFrame | None:
        # Snapshot-isolated read (round-10): the hardlink pin survives
        # concurrent triggers' per-bucket swaps, so a served snapshot
        # can be collected at any later time (see ..swap docstring).
        with swap_lock(self.store_path):
            recover_bucket_swap(self.store_path)
            if not os.path.exists(self.store_path):
                return None
            # All-empty leaves (every key deleted) carry no files to
            # infer a schema from — a legitimately empty snapshot.
            if not any(
                f.endswith(".parquet")
                for _, _, fs in os.walk(self.store_path)
                for f in fs
            ):
                return None
            pin = pin_store(self.store_path)
        if pin is None:
            return None
        return spark.read.parquet(pin).drop("kb")

    def __call__(self, changes: DataFrame, batch_id: int) -> None:
        # The store lock spans base read + tmp write + per-bucket
        # swaps: a concurrent snapshot() pins either the pre- or
        # post-batch tree, never a half-swapped bucket set.
        with swap_lock(self.store_path):
            self._apply(changes, batch_id)

    def _apply(self, changes: DataFrame, batch_id: int) -> None:
        # Finish an interrupted per-bucket swap first: a crash between
        # the aside rename and the new leaf's rename-in would otherwise
        # drop the bucket's untouched keys — the replayed trigger only
        # reconstructs keys present in its own change set.
        recover_bucket_swap(self.store_path)
        spark = changes.sparkSession
        k = self.key_col
        # Last change per key wins within the batch: by the feed's
        # sequence column when one is declared (op-desc only as the
        # tie-break), else op-desc alone for determinism (see class
        # docstring).
        order = (
            [F.desc(self.seq_col), F.desc("op")]
            if self.seq_col is not None
            else [F.desc("op")]
        )
        latest = (
            changes.withColumn(
                "_rn",
                F.row_number().over(Window.partitionBy(k).orderBy(*order)),
            )
            .filter(F.col("_rn") == 1)
            .drop("_rn", *([self.seq_col] if self.seq_col else []))
            .withColumn("kb", self._kb())
        )
        touched = sorted(
            r["kb"] for r in latest.select("kb").distinct().collect()
        )
        if not touched:
            return

        value_cols = [c for c in latest.columns if c not in (k, "op", "kb")]
        upserts = latest.where("op = 'U'").select(k, "kb", *value_cols)
        deletes = latest.where("op = 'D'").select(k)

        if os.path.exists(self.store_path):
            base = spark.read.parquet(self.store_path).where(
                F.col("kb").isin([int(b) for b in touched])
            )
        else:
            base = spark.createDataFrame(
                [], upserts.schema
            )

        merged = (
            base.join(F.broadcast(latest.select(k)), k, "left_anti")
            .unionByName(upserts)
            .join(F.broadcast(deletes), k, "left_anti")
        )

        tmp = f"{self.store_path}.merge.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        (
            # explicit count: keep bucket co-location but stop AQE
            # coalescing the small shuffle to one serial-leaf-write task
            merged.repartition(
                spark.sparkContext.defaultParallelism, F.col("kb")
            )
            .sortWithinPartitions(k)
            .write.mode("overwrite")
            .partitionBy("kb")
            .parquet(tmp)
        )
        os.makedirs(self.store_path, exist_ok=True)
        # A bucket whose rows were all deleted gets an EMPTY
        # replacement leaf (a tombstone — an empty partition dir is
        # invisible to partition discovery), so the swap below is
        # uniform: every touched bucket has a tmp leaf renaming in.
        # Without it the aside rename doubled as the removal, and a
        # crash before the aside cleanup would resurrect the deleted
        # bucket on recovery — converging again only if the trigger is
        # actually replayed, which an abandoned stream never does.
        for b in touched:
            os.makedirs(os.path.join(tmp, f"kb={b}"), exist_ok=True)
        # per-bucket crash-safe swap (shared ..swap.swap_buckets): the
        # old bucket renames ASIDE (outside the store path, so
        # partition discovery never sees it) before the new leaf
        # renames in — at every instant the bucket's content exists at
        # exactly one known location, and recover_bucket_swap restores
        # an interrupted swap on the next read/write.
        swap_buckets(self.store_path, tmp, [f"kb={b}" for b in touched])
