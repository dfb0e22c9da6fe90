"""Incremental (streaming) vector-index maintenance — the similarity
tier's serving loop, the fifth member of the maintenance family
(signatures → :mod:`.incremental_dedup`, tf partials →
:mod:`.incremental_index`, MERGE → :mod:`.incremental_merge`, window
hashes → :mod:`.incremental_spans`).

The batch IVF operator (:func:`..operators.similarity.ivf_topk`)
builds cells from a static corpus; a retrieval deployment ingests
embeddings continuously and must serve top-k against everything
accepted so far without re-indexing history.  The mergeable state is
the cell-assigned vector table itself: cell membership of a vector
depends only on the vector and the (pinned) centroid snapshot, so any
split of the corpus unions to the batch index — append-only
maintenance, no merge arithmetic at all.

Design (the 100 TB shape):

* the **centroid snapshot** is trained once from the first non-empty
  micro-batch (deterministic: the ``n_cells`` smallest-id vectors, the
  exact seed rule of :func:`..operators.similarity.ivf_topk`; an
  empty batch before it ingests nothing) and persisted
  beside the store — production would retrain periodically and
  version snapshots; a snapshot swap is a full re-assignment, which
  is why it is an explicit operator here, not something the ingest
  path does implicitly;
* each micro-batch, via ``foreachBatch``: integer-scale the incoming
  vectors, assign each to its ``n_assign`` nearest cells (broadcast
  centroid join — the batch side is never shuffled), and append to a
  :class:`..fold.TieredStore` bucketed by ``cell`` (leaves sorted by
  ``c_id``);
* :meth:`IncrementalVectorIndexer.topk` serves queries from the
  store: probe each query's ``n_probe`` nearest cells, read ONLY the
  matching ``cell=…`` directories (the probed cell list is bounded by
  \\|Q\\|·n_probe, pushed as an ``isin`` filter so partition pruning
  drops every other directory), exact integer cosine over the
  candidates, window top-k.  Served rows are bit-identical to
  ``ivf_topk(queries, everything_ingested, centroids=snapshot)`` —
  pinned in tests/test_streaming_extra.py;
* :meth:`IncrementalVectorIndexer.compact` folds trigger leaves into
  runs per cell, bounding file counts — a plain rewrite, since cell
  membership is pinned by the centroid snapshot.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fold import TieredStore
from ..operators.similarity import (
    _candidate_pairs,
    _cells_arrow,
    _centroid_model,
    _rank,
    _scaled,
    _seed_centroids,
    nearest_cells_sql,
)


class IncrementalVectorIndexer:
    """foreachBatch processor maintaining a cell-assigned vector store
    at ``root``; ``topk()`` serves ANN queries equal to a batch
    :func:`..operators.similarity.ivf_topk` over everything ingested
    (same centroid snapshot, same probe/replication parameters)."""

    def __init__(
        self,
        root: str,
        n_cells: int = 16,
        n_assign: int = 2,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        compact_every: int = 0,
    ):
        self.root = root
        self.centroids_path = os.path.join(root, "centroids")
        self.n_cells = n_cells
        self.n_assign = n_assign
        self.id_col = id_col
        self.vec_col = vec_col
        self.cells = TieredStore(
            os.path.join(root, "cells"),
            "cell",
            "c_id",
            lambda df: df.select("c_id", "c_v", "c_n", "cell"),
            compact_every,
        )
        # The centroid snapshot is immutable once trained (a snapshot
        # swap is an explicit re-assignment operator, never an implicit
        # ingest-path event), so the bounded k×(d+1)-int model pull
        # happens once per indexer, not once per trigger.
        self._cent_model: tuple | None = None

    # -- model ---------------------------------------------------------

    def centroids(self, spark: SparkSession) -> DataFrame | None:
        """The pinned centroid snapshot (cell, cent_v, cent_n)."""
        if not os.path.exists(self.centroids_path):
            return None
        return spark.read.parquet(self.centroids_path)

    # -- ingest --------------------------------------------------------

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        scaled = _scaled(batch, self.id_col, self.vec_col, "c")
        if not os.path.exists(self.centroids_path):
            # Train from the first NON-EMPTY batch only: a snapshot
            # seeded from an empty batch would hold no cells, and every
            # later trigger (and any indexer reopened on this root)
            # would have nowhere to assign its vectors.
            if batch.isEmpty():
                return
            seed = _seed_centroids(scaled, self.n_cells)
            seed.write.mode("overwrite").parquet(self.centroids_path)
        # Ingest assignment runs the Arrow int64-matmul kernel, not the
        # interpreted HOF chain: the SQL form is a |batch| × n_cells
        # broadcast cartesian scored row-at-a-time by aggregate/zip_with
        # — measured live at the fourth decade as the trigger wall
        # (20k vectors × 1,414 cells = 28M interpreted dots, minutes
        # per trigger on the micro-batch's 2 input partitions).  The
        # kernel is bit-identical to nearest_cells_sql (pinned by the
        # store ≡ batch ivf_topk test, which crosses the SQL serve
        # blocks with the Arrow kernels), and the centroid pull is the
        # bounded k×(d+1)-int model-pull posture ivf_topk already uses.
        if self._cent_model is None:
            cents = self.centroids(batch.sparkSession)
            self._cent_model = _centroid_model(cents)
        assigned = _cells_arrow(scaled, "c", self.n_assign, self._cent_model)
        self.cells.append(assigned, batch_id)

    # -- serve ---------------------------------------------------------

    def topk(
        self,
        queries: DataFrame,
        k: int = 5,
        n_probe: int = 4,
    ) -> DataFrame | None:
        """Top-k ANN from the maintained store: probe each query's
        ``n_probe`` nearest cells, scan only those ``cell=…``
        directories, exact integer cosine, ``(cos desc, neighbor_id)``
        top-k — bit-identical to the batch ``ivf_topk`` over all
        ingested vectors with the same snapshot."""
        spark = queries.sparkSession
        cents = self.centroids(spark)
        # Snapshot-isolated serving read (hardlink pin) with the
        # tiered-fold watermark filter applied from the pin walk
        # itself — a trigger leaf replayed after its fold is ignored
        # (exactly-once across compaction).
        pinned = self.cells.read(spark)
        if cents is None or pinned is None:
            return None
        q_scaled = _scaled(queries, self.id_col, self.vec_col, "q")
        q_cells = nearest_cells_sql(q_scaled, cents, "q_v", "q_n", n_probe)
        # bounded |Q|·n_probe probed-cell list → static isin filter so
        # partition pruning never opens unprobed cell directories
        probed = sorted(
            {r["cell"] for r in q_cells.select("cell").distinct().collect()}
        )
        store = pinned.filter(F.col("cell").isin(probed))
        pairs = _candidate_pairs(q_cells, store)
        return _rank(pairs.dropDuplicates(["query_id", "neighbor_id"]), "cos_sim", k)

    # -- maintenance ---------------------------------------------------

    def compact(self, spark: SparkSession) -> dict[str, int]:
        """One tiered compaction pass (:meth:`..fold.TieredStore.compact`)."""
        return self.cells.compact(spark)
