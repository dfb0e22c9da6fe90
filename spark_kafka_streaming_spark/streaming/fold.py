"""The ingest path shared by the four tiered streaming stores (index
tf partials, span window-hashes, vector cells, and the dedup store's
key and hash subtrees), and their tiered (LSM-style) per-bucket
compaction.

One ingest path.  Every trigger of a tiered store runs the same
sequence, owned by :class:`TieredStore`: take the store lock, recover
an interrupted swap, refuse a batch id behind the fold watermark
(:meth:`TieredStore.guard`), write the trigger's rows as
``<bucket_col>=V/batch=N`` leaves (:meth:`TieredStore.append` — one
sorted file per leaf, dynamic partition overwrite, so replaying a
crashed trigger overwrites exactly its own leaves: the idempotent-sink
form of exactly-once), then compact on the ``compact_every`` cadence.
Reads (:meth:`TieredStore.read`) apply the fold watermark filter
described below.  A store supplies only its per-batch transform and
its merge rule (the ``fold``).

Two stores stay outside it on purpose.  The quantile store
(:mod:`.incremental_quantiles`) compacts by evicting against ONE
retention horizon computed over the whole store, so its fold is not
per-bucket and it has no bucket column.  The MERGE store
(:mod:`.incremental_merge`) rewrites touched buckets in place per
trigger and has no ``batch`` leaves at all.  Sharing this helper with
them would make it branch on its caller.

Why tiered compaction: the original ``compact()`` of these stores
folded the WHOLE store into one ``batch=-1`` base per bucket — an
O(store) rewrite whose wall grows with corpus size (measured on the
index store at the fourth decade: 13.5 → 91.4 s across one sf100
replay; one more decade puts a ~900 s pause every compaction).  The
CDC MERGE store (:mod:`.incremental_merge`) already pays only
O(touched buckets) per rewrite; this module brings the same bound to
the fold-style stores by splitting compaction into two tiers, the
standard LSM shape:

* **minor fold** — a bucket whose count of live ``batch=N`` (N ≥ 0)
  trigger leaves reaches ``leaf_bound`` gets ONLY those leaves merged
  into one new sorted *run* (``batch=<negative id>``), leaving every
  existing run and the base untouched.  Work ∝ data since the last
  compact, never store size.
* **major fold** — a bucket whose run count reaches its (staggered,
  see below) run bound gets everything — runs, base, live leaves —
  folded into one ``batch=-1`` base.  Work ∝ that bucket's size,
  amortized 1/run_bound of compactions, and the per-bucket stagger
  (``run_bound + bucket % run_bound``) spreads majors across
  compaction cycles so a uniform-touch workload (every trigger writes
  every bucket, the index store's shape) never majors the whole store
  in one pause.

Exactly-once across the fold boundary.  Folding a trigger leaf and
then replaying that trigger (crash after the fold, before the epoch
commit) would double-count: the rows sit in the new run AND in the
rewritten ``batch=N`` leaf.  The quantile store heals this per-row
(round-8 advice); fold-style stores can't (a summed tf partial is not
per-row dedupable), so the fold records a *watermark marker* — an
empty ``_folded_up_to_<B>`` file INSIDE the run's leaf directory, so
it travels atomically with the run's rename — and every read applies
:func:`fold_filter`: a ``batch=N`` leaf with ``0 <= N <= bound`` is
provably folded already and is ignored (then physically swept by the
next compact).  Spark's file index skips ``_``-prefixed files, so the
marker is invisible to the parquet reader itself.

Crash-safety (plain-directory discipline, same posture as
:mod:`.swap`):

* a minor fold renames its fully-written run leaf IN first and
  deletes the shadowed trigger leaves after — at every instant reads
  see each row exactly once (the marker shadows before the delete);
  a crash between the two leaves shadowed leaves that the next
  compact sweeps;
* a major fold replaces the whole bucket directory via the aside
  protocol (:func:`..swap.swap_buckets`): old bucket aside → new in
  → aside dropped; :func:`..swap.recover_bucket_swap` (wired into
  ``recover_swap``, so every store read/write path runs it) restores
  a bucket renamed aside with no replacement.

A transactional table format (Delta/Iceberg) gives the same moves as
atomic metadata commits; this is the single-writer equivalent in
plain directories.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .swap import (
    BUCKET_TMP_SUFFIX,
    FOLD_MARKER_PREFIX,
    pin_store,
    recover_swap,
    swap_buckets,
    swap_lock,
)

#: minor fold triggers at this many live trigger leaves in a bucket
LEAF_BOUND = 2
#: major fold triggers at run_bound + (bucket % run_bound) runs
RUN_BOUND = 8


def _walk_bounds(
    path: str, bucket_col: str
) -> tuple[dict[int, int], set[int]]:
    """(bucket value → highest folded trigger batch id, ALL bucket
    values present) from one directory walk."""
    out: dict[int, int] = {}
    all_buckets: set[int] = set()
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return out, all_buckets
    prefix = bucket_col + "="
    for name in names:
        if not name.startswith(prefix):
            continue
        bdir = os.path.join(path, name)
        if not os.path.isdir(bdir):
            continue
        val = int(name[len(prefix):])
        all_buckets.add(val)
        bounds = []
        for leaf in os.listdir(bdir):
            ldir = os.path.join(bdir, leaf)
            if not (leaf.startswith("batch=") and os.path.isdir(ldir)):
                continue
            for f in os.listdir(ldir):
                if f.startswith(FOLD_MARKER_PREFIX):
                    bounds.append(int(f[len(FOLD_MARKER_PREFIX):]))
        if bounds:
            out[val] = max(bounds)
    return out, all_buckets


def folded_bounds(path: str, bucket_col: str) -> dict[int, int]:
    """bucket value → highest trigger batch id already folded into a
    run (from the ``_folded_up_to_<B>`` markers inside run leaves)."""
    return _walk_bounds(path, bucket_col)[0]


def fold_filter(
    df: DataFrame, bucket_col: str, bounds: dict[int, int]
) -> DataFrame:
    """Drop trigger leaves already folded into a run: keep every run
    (``batch < 0``) plus trigger leaves ABOVE the bucket's watermark.
    Both columns are partition columns, so this prunes directories —
    no data rows are read to apply it."""
    if not bounds:
        return df
    mapping = F.create_map(
        *[F.lit(x) for kv in sorted(bounds.items()) for x in kv]
    )
    bound = F.coalesce(
        mapping[F.col(bucket_col).cast("long")], F.lit(-1)
    )
    return df.filter((F.col("batch") < 0) | (F.col("batch") > bound))


def fold_filter_path(
    df: DataFrame, path: str, bucket_col: str
) -> DataFrame:
    """:func:`fold_filter` with the watermark walk folded in — the
    form every store read path uses.

    Plan-size guard: the general filter carries one map literal PER
    FOLDED BUCKET, which is fine for the hash-bucketed stores (32–64
    buckets by construction) but grows with the corpus for the vector
    store, whose bucket is the IVF cell (~√n — thousands of literals
    in every serving plan at the later decades).  Uniform-touch
    workloads (every trigger writes every bucket — the index store
    always, the vector store nearly) leave EVERY bucket folded to the
    same watermark; that case collapses to a constant two-comparison
    predicate, so the serving plan stops growing with cell count.
    The collapse is only sound when the shared bound covers ALL
    buckets present: a bucket first touched after the last compact
    has no marker, and its young leaves (possibly below the other
    buckets' watermark) must survive the filter — verified against
    the same directory walk."""
    bounds, all_buckets = _walk_bounds(path, bucket_col)
    return _apply_fold_filter(df, bucket_col, bounds, all_buckets)


def _apply_fold_filter(
    df: DataFrame,
    bucket_col: str,
    bounds: dict[int, int],
    all_buckets: set[int],
) -> DataFrame:
    if not bounds:
        return df
    vals = set(bounds.values())
    if len(vals) == 1 and set(bounds) == all_buckets:
        b = vals.pop()
        return df.filter((F.col("batch") < 0) | (F.col("batch") > b))
    return fold_filter(df, bucket_col, bounds)


def _write_marker(leaf_dir: str, bound: int) -> None:
    os.makedirs(leaf_dir, exist_ok=True)
    open(os.path.join(leaf_dir, f"{FOLD_MARKER_PREFIX}{bound}"), "w").close()


def compact_tiered(
    spark: SparkSession,
    store_path: str,
    bucket_col: str,
    fold: Callable[[DataFrame], DataFrame],
    sort_col: str,
    leaf_bound: int = LEAF_BOUND,
    run_bound: int = RUN_BOUND,
) -> dict[str, int]:
    """One tiered-compaction pass over ``store_path`` (layout
    ``<bucket_col>=V/batch=N``).  ``fold`` merges any subset of store
    rows into the store's canonical partial form and must preserve
    ``bucket_col`` (the vector store's cell is not derivable from the
    row).  Returns {"minor": n, "major": n, "swept": n} for
    measurement.  Caller-agnostic about locking: takes the store lock
    itself (re-entrant)."""
    stats = {"minor": 0, "major": 0, "swept": 0}
    with swap_lock(store_path):
        recover_swap(store_path)
        if not os.path.isdir(store_path):
            return stats
        bounds = folded_bounds(store_path, bucket_col)
        minor: list[int] = []
        major: list[int] = []
        new_run: dict[int, int] = {}
        new_bound: dict[int, int] = {}
        prefix = bucket_col + "="
        for name in sorted(os.listdir(store_path)):
            if not name.startswith(prefix):
                continue
            bdir = os.path.join(store_path, name)
            if not os.path.isdir(bdir):
                continue
            val = int(name[len(prefix):])
            bound = bounds.get(val, -1)
            ids = [
                int(d.split("=", 1)[1])
                for d in os.listdir(bdir)
                if d.startswith("batch=")
                and os.path.isdir(os.path.join(bdir, d))
            ]
            # sweep leaves shadowed by the watermark: replay leftovers
            # and minor-folded leaves whose delete was interrupted
            for i in (i for i in ids if 0 <= i <= bound):
                shutil.rmtree(
                    os.path.join(bdir, f"batch={i}"), ignore_errors=True
                )
                stats["swept"] += 1
            live = [i for i in ids if i > bound]
            runs = [i for i in ids if i < 0]
            # stagger majors: buckets reach their run bound at
            # different depths, so a uniform-touch workload majors
            # ~1/run_bound of buckets per cycle instead of all at once
            eff = run_bound + (val % max(run_bound, 1))
            if runs and len(runs) + (1 if live else 0) > eff:
                major.append(val)
                new_bound[val] = max(bound, max(live, default=-1))
            elif len(live) >= leaf_bound:
                minor.append(val)
                new_run[val] = min(runs, default=0) - 1
                new_bound[val] = max(bound, max(live))
        if not minor and not major:
            return stats
        stats["minor"], stats["major"] = len(minor), len(major)

        live_df = fold_filter(
            spark.read.parquet(store_path), bucket_col, bounds
        )
        parts = []
        if major:
            parts.append(
                fold(live_df.where(F.col(bucket_col).isin(major)))
                .withColumn("batch", F.lit(-1).cast("int"))
            )
        if minor:
            run_map = F.create_map(
                *[F.lit(x) for v in sorted(minor) for x in (v, new_run[v])]
            )
            parts.append(
                fold(
                    live_df.where(
                        F.col(bucket_col).isin(minor) & (F.col("batch") >= 0)
                    )
                ).withColumn(
                    "batch",
                    run_map[F.col(bucket_col).cast("long")].cast("int"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        tmp = store_path + BUCKET_TMP_SUFFIX
        shutil.rmtree(tmp, ignore_errors=True)
        # Explicit partition count: a keyed repartition without one is
        # AQE-coalescible, and the fold's output is small enough that
        # AQE collapses it to ONE task which then creates every
        # (bucket, batch) leaf serially — measured 1.5 s of a vector
        # compact's 1.52 s write stage (plans/r12/jobs_*_before.txt).
        # Pinning the count keeps bucket co-location (one file per
        # leaf) while spreading leaf creation across the cluster.
        npart = spark.sparkContext.defaultParallelism
        (
            out.repartition(npart, F.col(bucket_col))
            .sortWithinPartitions(sort_col)
            .write.mode("overwrite")
            .partitionBy(bucket_col, "batch")
            .parquet(tmp)
        )
        # markers ride inside the new leaves so they move atomically
        # with the rename below
        for val in major:
            _write_marker(
                os.path.join(tmp, f"{prefix}{val}", "batch=-1"),
                new_bound[val],
            )
        for val in minor:
            _write_marker(
                os.path.join(tmp, f"{prefix}{val}", f"batch={new_run[val]}"),
                new_bound[val],
            )
        # majors: whole-bucket aside swap (crash-recoverable)
        swap_buckets(
            store_path,
            tmp,
            [f"{prefix}{v}" for v in major],
            keep_tmp=bool(minor),
        )
        # minors: new run renames IN first (its marker shadows the
        # folded leaves from that instant), folded leaves deleted after
        for val in minor:
            src = os.path.join(tmp, f"{prefix}{val}", f"batch={new_run[val]}")
            dst_bucket = os.path.join(store_path, f"{prefix}{val}")
            os.makedirs(dst_bucket, exist_ok=True)
            os.rename(src, os.path.join(dst_bucket, f"batch={new_run[val]}"))
            for d in os.listdir(dst_bucket):
                if not d.startswith("batch="):
                    continue
                i = int(d.split("=", 1)[1])
                if 0 <= i <= new_bound[val]:
                    shutil.rmtree(
                        os.path.join(dst_bucket, d), ignore_errors=True
                    )
        shutil.rmtree(tmp, ignore_errors=True)
    return stats


class TieredStore:
    """One tiered store at ``path`` (layout ``<bucket_col>=V/batch=N``):
    the guard → leaf write → compact ingest path and the watermark-
    filtered read.  ``fold`` is the store's merge rule (see
    :func:`compact_tiered`); ``sort_col`` orders rows inside every
    leaf and run, so parquet min/max stats prune on it."""

    def __init__(
        self,
        path: str,
        bucket_col: str,
        sort_col: str,
        fold: Callable[[DataFrame], DataFrame],
        compact_every: int = 0,
    ):
        self.path = path
        self.bucket_col = bucket_col
        self.sort_col = sort_col
        self.fold = fold
        self.compact_every = compact_every

    def read(
        self, spark: SparkSession, live: bool = False
    ) -> DataFrame | None:
        """The store's rows with the fold watermark applied, or None
        when the store does not exist.  ``live=True`` is the
        writer-internal read (recover, then read the store tree under
        the caller-held lock); the default is the SERVING read
        (snapshot-isolated hardlink pin via :func:`..swap.pin_store`),
        which collects the markers DURING the pin's own hardlink walk
        instead of re-walking the pin tree — at the vector store's
        cell counts the second listdir cascade per read is real
        metadata cost."""
        if live:
            recover_swap(self.path)
            if not os.path.exists(self.path):
                return None
            return fold_filter_path(
                spark.read.parquet(self.path), self.path, self.bucket_col
            )
        bounds: dict[int, int] = {}
        buckets: set[int] = set()
        prefix = self.bucket_col + "="

        def visit(rel: str, fname: str) -> None:
            head = rel.split(os.sep, 1)[0]
            if not head.startswith(prefix):
                return
            val = int(head[len(prefix):])
            # only files imply rows/markers: an empty bucket dir cannot
            # hold young leaves, so it cannot invalidate the uniform
            # collapse in _apply_fold_filter
            buckets.add(val)
            if fname.startswith(FOLD_MARKER_PREFIX):
                b = int(fname[len(FOLD_MARKER_PREFIX):])
                if b > bounds.get(val, -1):
                    bounds[val] = b

        pin = pin_store(self.path, file_visitor=visit)
        if pin is None:
            return None
        return _apply_fold_filter(
            spark.read.parquet(pin), self.bucket_col, bounds, buckets
        )

    def guard(self, batch_id: int) -> None:
        """Refuse a trigger write whose batch id fell BEHIND the
        store's fold watermark — the loud form of a silent-data-loss
        hazard.

        The watermark contract assumes one stream with one checkpoint:
        batch ids only grow, and the only id that can legitimately
        reappear is the LAST one (foreachBatch replays exactly the
        uncommitted tail batch, which a compact inside the same call
        may already have folded — so equality with the bound is
        allowed).  An id STRICTLY below the store's highest folded
        bound means the stream was re-keyed — a fresh checkpoint
        directory over an existing store restarts numbering at 0 — and
        every such write would be treated as an already-folded replay:
        filtered from every read and physically swept by the next
        compact.  Raise instead; the operator either restores the
        checkpoint or rebuilds/exports the store under the new
        stream."""
        recover_swap(self.path)
        bounds = folded_bounds(self.path, self.bucket_col)
        top = max(bounds.values(), default=-1)
        if batch_id < top:
            raise ValueError(
                f"batch id {batch_id} is behind the fold watermark {top} "
                f"of store {self.path!r}: this stream's checkpoint does "
                "not match the store (a fresh checkpoint restarts batch "
                "numbering, and these writes would be silently dropped "
                "as already-folded replays). Restore the original "
                "checkpoint, or rebuild the store / start a fresh "
                "store_path for the new stream."
            )

    def append(self, df: DataFrame, batch_id: int) -> None:
        """Write ``df`` (which carries ``bucket_col``) as this trigger's
        ``batch=<batch_id>`` leaves, then compact on the
        ``compact_every`` cadence.  The store lock spans the leaf write
        and any compact, so a concurrent serving read pins the pre- or
        post-batch tree, never a torn leaf."""
        spark = df.sparkSession
        with swap_lock(self.path):
            self.guard(batch_id)
            (
                df.withColumn("batch", F.lit(batch_id))
                # Co-locate each bucket's rows in one task: otherwise
                # every task writes a file per bucket it touches —
                # O(tasks × buckets) leaves per trigger, and the
                # dynamic-partition commit move is driver-side O(files)
                # (measured on the vector store at the fourth decade:
                # 16,734 files / 731 s per 20k-vector trigger at 1,414
                # cells).  The shuffle is the micro-batch only.  The
                # explicit partition count stops AQE coalescing that
                # tiny shuffle to ONE task creating every leaf serially
                # (measured: 1.48 s of a 1.64 s trigger write —
                # plans/r12/jobs_stream_vector_store_drain_before.txt).
                .repartition(
                    spark.sparkContext.defaultParallelism,
                    F.col(self.bucket_col),
                )
                .sortWithinPartitions(self.sort_col)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(self.bucket_col, "batch")
                .parquet(self.path)
            )
            if (
                self.compact_every
                and batch_id > 0
                and batch_id % self.compact_every == 0
            ):
                self.compact(spark)

    def compact(self, spark: SparkSession) -> dict[str, int]:
        """One :func:`compact_tiered` pass with this store's fold."""
        return compact_tiered(
            spark, self.path, self.bucket_col, self.fold, self.sort_col
        )
