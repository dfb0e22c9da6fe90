"""Incremental (streaming) near-duplicate filtering.

The batch MinHash-LSH operator (:mod:`..operators.dedup`) dedups a
corpus against itself; a training-data *pipeline* receives documents
continuously and must answer "is this new document a near-dup of
anything already accepted?" incrementally.

Design (the 100 TB shape):

* a persistent **signature store** (parquet, laid out for pruned point
  lookups — see below) holds the LSH band keys of every accepted doc;
* each micro-batch, via ``foreachBatch``: compute the batch's
  signatures (same engine-portable hash family), probe the store with
  a **broadcast** equi-join on the band keys (and self-join the batch
  for intra-batch dups), verify candidates with exact Jaccard on
  hashed shingles, drop matched docs, and append the survivors' band
  keys to the store;
* the store grows by accepted docs only and doubles as the corpus's
  dedup index for batch jobs.

The per-batch signatures, band keys and exact-Jaccard verify are the
batch operators' own steps: :func:`_signatures` configures the
text-signature chain of :mod:`..operators.signatures` (guard → shingle
+ hash → signature → band; stage map in its docstring) and
:meth:`IncrementalDeduper._verify` filters on its :func:`_jaccard`.

Store layout — the part that has to survive 100 TB.  The store is TWO
normalized subtrees under ``store_path``:

* ``keys/`` — the band-key index, one NARROW row per (band, key,
  doc_id), partitioned by ``kb = pmod(xxhash64(key), N_KEY_BUCKETS)``
  (plus ``batch`` for idempotent replay).  The per-trigger probe joins
  on ``(kb, band, key)`` with the (small) batch side broadcast, so the
  store side is **never shuffled**, and Spark's dynamic partition
  pruning drops every ``kb=…`` directory the batch doesn't touch.
  Files are sorted by ``key`` within each bucket so parquet row-group
  min/max stats prune further.
* ``hashes/`` — the exact-verify payload, ONE row per accepted doc
  ``(doc_id, hs)``, partitioned by ``hb = pmod(xxhash64(doc_id),
  N_KEY_BUCKETS)``.  Candidates that survive the key join fetch their
  exact shingle-hash sets here via a second broadcast join that
  carries ``hb`` in the join key, so dynamic partition pruning reads
  only the buckets holding actual candidates.

  Why normalized: the original layout carried ``hs`` inline on every
  band row — the fattest column duplicated ``BANDS``× per doc, >90 %
  of store bytes — so every probe scanned the whole corpus's shingle
  hashes even though only the (rare) key-collided candidates need
  them.  Measured live at the fourth decade (SCALE.md round 10,
  5M-doc backlog replay): per-trigger walls grew 65 → 160 s as the
  store grew to 8 GB, exactly the probe's full-store scan.  The
  normalized layout scans the narrow key index (a few % of the bytes)
  plus only the candidate-touched hash buckets.
* Both subtrees are tiered stores (:class:`..fold.TieredStore`), so
  trigger writes, replays and compaction follow the ingest path shared
  with the index/spans/vectors stores.  A production deployment would
  put the store in a transactional table format (Delta/Iceberg) and
  get the same moves as atomic metadata commits.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fold import TieredStore
from .swap import swap_lock
from ..operators.signatures import (
    _band_rows,
    _has_shingles,
    _jaccard,
    _shingle_hashes,
    _with_sig,
)

#: Directory-level hash buckets on the LSH key. At cluster scale this
#: would be sized so one bucket ≈ a few hundred MB of index.
N_KEY_BUCKETS = 64
#: Up to this many dup ids per trigger are folded to the driver and
#: filtered as an IN list; past it the accepted-set filters anti-join
#: the persisted dup frame instead.
DUP_IN_LIST_BOUND = 10_000


def _signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_key_buckets: int = N_KEY_BUCKETS,
) -> tuple[DataFrame, DataFrame]:
    """(sigs, keys) of a batch of documents (no shuffle; map-only).

    ``sigs`` is (id, hs, sig), one row per doc with shingles.  ``keys``
    is (id, hs, band, key, kb), the LSH index rows: ``kb`` is the
    store's partition bucket, computed here so the batch side and the
    store side of the probe join are bit-identical, and ``hs`` rides
    along in memory for the batch's own verify legs (the persisted key
    index is the narrow projection without it).
    """
    sigs = _with_sig(
        _shingle_hashes(docs.filter(_has_shingles(text_col)), id_col, text_col)
    ).select(id_col, "hs", "sig")
    keys = _band_rows(sigs, id_col, keep=("hs",)).withColumn(
        "kb", F.pmod(F.xxhash64("key"), F.lit(n_key_buckets))
    )
    return sigs, keys


class IncrementalDeduper:
    """foreachBatch processor: accept only docs that are not near-dups
    of the already-accepted corpus (or of earlier docs in the same
    batch), maintaining the signature store at ``store_path`` and the
    accepted docs at ``accepted_path``.
    """

    def __init__(
        self,
        store_path: str,
        accepted_path: str,
        jaccard_threshold: float = 0.5,
        id_col: str = "doc_id",
        text_col: str = "text",
        n_key_buckets: int = N_KEY_BUCKETS,
        compact_every: int = 0,
        broadcast_candidates: bool = True,
    ):
        self.store_path = store_path
        # band-key index (doc_id, band, key, kb) and per-doc verify
        # payload (doc_id, hs, hb); both append-only, so the fold is a
        # plain rewrite
        self.key_store = TieredStore(
            os.path.join(store_path, "keys"),
            "kb",
            "key",
            lambda df: df.select(id_col, "band", "key", "kb"),
            compact_every,
        )
        self.hash_store = TieredStore(
            os.path.join(store_path, "hashes"),
            "hb",
            id_col,
            lambda df: df.select(id_col, "hs", "hb"),
            compact_every,
        )
        self.accepted_path = accepted_path
        self.threshold = jaccard_threshold
        self.id_col = id_col
        self.text_col = text_col
        self.n_key_buckets = n_key_buckets
        self.broadcast_candidates = broadcast_candidates
        self._guard_layout()

    # -- helpers -------------------------------------------------------
    def _guard_layout(self) -> None:
        """Refuse to start over a pre-normalization (round-9) store.

        The old layout put ``kb=…`` leaves (with inline ``hs``) directly
        under ``store_path``; starting the normalized deduper there
        would silently treat the corpus as empty (``keys/``/``hashes/``
        don't exist) and accept cross-batch dups of previously accepted
        docs while forking new subtrees beside the stale data.
        """
        old_leaves = glob.glob(os.path.join(self.store_path, "kb=*"))
        if old_leaves:
            raise ValueError(
                f"signature store at {self.store_path!r} uses the old "
                "inline-hs layout (kb=* leaves at the store root); "
                "rebuild it by replaying the accepted corpus through "
                "this deduper into a fresh store_path (the normalized "
                "layout keeps keys/ and hashes/ subtrees)"
            )

    def _verify(self, cand: DataFrame) -> DataFrame:
        """Exact-Jaccard filter on candidate pairs → distinct dup ids."""
        return (
            cand.withColumn("jaccard", _jaccard())
            .filter(F.col("jaccard") >= self.threshold)
            .select(F.col("new_id").alias(self.id_col))
            .distinct()
        )

    def _dup_ids(
        self,
        batch_keys: DataFrame,
        store_keys: DataFrame,
        store_hashes: DataFrame,
        batch_hs: DataFrame,
    ) -> DataFrame:
        """ids in ``batch_keys`` that near-dup anything in the store;
        ``batch_hs`` is the batch's per-doc (id, hs) table.

        Two broadcast probes, the store never shuffled: (1) the batch's
        band keys against the NARROW key index — dynamic partition
        pruning on ``kb`` skips untouched buckets and the scan never
        reads shingle hashes; (2) the surviving candidate ids against
        the per-doc hash table, carrying the ``hb`` bucket in the join
        key so partition pruning reads only candidate-touched buckets.
        The exact-Jaccard verify then runs on that bounded fetch.
        """
        id_c = self.id_col
        # Both broadcasts are NARROW by construction: the batch side of
        # the key probe drops ``hs`` (re-attached after the bounded
        # store fetch), and the candidate broadcast carries only
        # (new_id, old_id, old_hb) tuples — 3 fixed-width columns.  The
        # candidate count is bounded by key collisions against the
        # whole store, not by the micro-batch (a hot band key shared by
        # many accepted docs multiplies pairs), so the OLD layout's
        # fat-array broadcast was a driver-OOM risk; the narrow tuples
        # put the 8 GB broadcast hard limit ~300M pairs away.  Corpora
        # known to be skew-hot can set ``broadcast_candidates=False``
        # to run the hash fetch as a shuffle join instead (correctness
        # identical; loses dynamic partition pruning on ``hb``).
        cand_ids = (
            store_keys.alias("o")
            .join(
                F.broadcast(
                    batch_keys.select(id_c, "band", "key", "kb")
                ).alias("n"),
                (F.col("o.kb") == F.col("n.kb"))
                & (F.col("o.band") == F.col("n.band"))
                & (F.col("o.key") == F.col("n.key"))
                & (F.col(f"o.{id_c}") != F.col(f"n.{id_c}")),
            )
            .select(
                F.col(f"n.{id_c}").alias("new_id"),
                F.col(f"o.{id_c}").alias("old_id"),
            )
            .dropDuplicates(["new_id", "old_id"])
            .withColumn(
                "old_hb",
                F.pmod(F.xxhash64("old_id"), F.lit(self.n_key_buckets)),
            )
        )
        cand_side = (
            F.broadcast(cand_ids) if self.broadcast_candidates else cand_ids
        )
        cand = (
            store_hashes.alias("h")
            .join(
                cand_side.alias("c"),
                (F.col("h.hb") == F.col("c.old_hb"))
                & (F.col(f"h.{id_c}") == F.col("c.old_id")),
            )
            .select(
                "c.new_id",
                "c.old_id",
                F.col("h.hs").alias("hs2"),
            )
            # re-attach the fat batch-side shingle hashes AFTER the
            # bounded store fetch; the batch side is micro-batch-sized.
            .join(
                F.broadcast(batch_hs.alias("b")),
                F.col("new_id") == F.col(f"b.{id_c}"),
            )
            .select(
                "new_id",
                "old_id",
                F.col("b.hs").alias("hs1"),
                "hs2",
            )
        )
        return self._verify(cand)

    def compact(self, spark: SparkSession) -> dict[str, dict[str, int]]:
        """One tiered compaction pass over both subtrees, under the
        store lock so a reader never pins one folded and one unfolded
        subtree mid-swap."""
        with swap_lock(self.store_path):
            return {
                "keys": self.key_store.compact(spark),
                "hashes": self.hash_store.compact(spark),
            }

    # -- the foreachBatch hook -----------------------------------------
    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        # refuse re-keyed streams up front, before ANY write (the
        # accepted-docs write precedes the signature writes)
        self.key_store.guard(batch_id)
        self.hash_store.guard(batch_id)
        spark = batch.sparkSession
        id_c = self.id_col
        # A micro-batch arrives as O(1) source splits (one file/offset
        # range per trigger), so the MinHash chain below would run as
        # ONE task; spread it over the cluster first — the shuffle is
        # the raw micro-batch only.
        batch = batch.repartition(spark.sparkContext.defaultParallelism)
        # sigs (one row per doc) is persisted alongside the exploded
        # band keys: the per-doc hash table the probe's verify leg and
        # the hashes/ subtree write both need falls straight out of it
        # — no dedup shuffle over the 8x-exploded band rows.
        sigs, keys = _signatures(batch, id_c, self.text_col, self.n_key_buckets)
        sigs, keys = sigs.persist(), keys.persist()
        # Materialize BOTH caches with one action before anything
        # branches: the probe/intra/write legs reference these frames
        # from up to four concurrent AQE query stages (broadcast
        # builds run in parallel), and a lazy cache loses that race —
        # each stage recomputed the full signature chain (measured:
        # 4 × 1.13 s single-task jobs in one trigger,
        # plans/r12/jobs_stream_dedup_store_drain_before.txt).  The
        # keys scan fills the sigs cache on the way.
        keys.count()

        dup_vs_store = None
        store_keys = self.key_store.read(spark, live=True)
        store_hashes = self.hash_store.read(spark, live=True)
        if store_keys is not None and store_hashes is not None:
            dup_vs_store = self._dup_ids(
                keys, store_keys, store_hashes, sigs.select(id_c, "hs")
            )

        # intra-batch: keep the lowest id of each duplicate cluster
        intra = (
            keys.alias("a")
            .join(
                keys.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col(f"a.{id_c}") > F.col(f"b.{id_c}")),
            )
            .select(
                F.col(f"a.{id_c}").alias("new_id"),
                F.col(f"b.{id_c}").alias("old_id"),
                F.col("a.hs").alias("hs1"),
                F.col("b.hs").alias("hs2"),
            )
            .dropDuplicates(["new_id", "old_id"])
        )
        intra_dups = self._verify(intra)

        dups = intra_dups if dup_vs_store is None else dup_vs_store.union(
            intra_dups
        ).distinct()
        # Fold the dup-id set to the driver: it is bounded by the
        # micro-batch (every dup id IS a batch doc id), so below the
        # bound the three downstream writes filter on an IN list
        # instead of each carrying a join against the whole
        # probe/verify subtree — one dup computation, three small
        # write plans (driver analysis per trigger was the wall after
        # the cache fixes).  The probe pulls at most bound + 1 rows.  A
        # skew-hot batch past the bound persists the frame and
        # anti-joins it; persisting on every trigger would cost one
        # more job and 4-5 more stages.  A NULL id is never a dup
        # (every dup join compares ids), and both branches keep it.
        dup_rows = dups.limit(DUP_IN_LIST_BOUND + 1).collect()
        if len(dup_rows) <= DUP_IN_LIST_BOUND:
            dup_ids = [r[0] for r in dup_rows]
            keep = (
                F.col(id_c).isNull() | ~F.col(id_c).isin(dup_ids)
                if dup_ids
                else F.lit(True)
            )
            accepted = batch.filter(keep)
            accepted_sigs = sigs.filter(keep)
            accepted_keys = keys.filter(keep)
        else:
            dups = dups.persist()
            accepted = batch.join(dups, id_c, "left_anti")
            accepted_sigs = sigs.join(dups, id_c, "left_anti")
            accepted_keys = keys.join(dups, id_c, "left_anti")

        # idempotent per-epoch writes: replaying batch_id overwrites
        accepted.write.mode("overwrite").parquet(
            f"{self.accepted_path}/batch={batch_id}"
        )
        # The parent lock spans both subtree appends (and their
        # compactions) so an external reader of the store tree never
        # pins a half-committed pair.  Hashes land FIRST: an orphan
        # hash row (crash before the key write) is unreachable and
        # harmless, while a key row without its hash row would
        # silently miss a dup until the trigger replays.
        with swap_lock(self.store_path):
            self.hash_store.append(
                accepted_sigs.select(id_c, "hs").withColumn(
                    "hb", F.pmod(F.xxhash64(id_c), F.lit(self.n_key_buckets))
                ),
                batch_id,
            )
            self.key_store.append(
                accepted_keys.select(id_c, "band", "key", "kb"), batch_id
            )
        dups.unpersist()
        sigs.unpersist()
        keys.unpersist()
