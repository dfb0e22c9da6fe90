"""Crash-safe directory swap shared by the incremental stores'
compaction step.

The naive ``rmtree(store); rename(tmp, store)`` has a window where the
ONLY copy of the store is deleted (crash between the two calls loses
all compacted history; recovery then replays only uncompacted batches
— the round-7 ADVICE finding on the quantile store, shared by every
store that compacts).  :func:`commit_swap` renames the old store ASIDE
before the new base takes its path, so a complete copy exists at a
known location at every instant; :func:`recover_swap` (called at the
head of every read and write path) finishes an interrupted swap by
RESTORING that copy to the store path — restoring, not just reading,
so subsequent batch leaves append to full history.

A transactional table format (Delta/Iceberg) makes this one atomic
metadata commit; this is the same move expressed in plain
directories.

Serving under ingestion (round-10): crash-safety alone does not make
the swap CONCURRENT-READER-safe — a Spark read plans its file listing
eagerly but opens files at task time, so a swap (or even a leaf-batch
commit) landing between the two leaves the reader with dangling paths
(FileNotFoundException), and a multi-file leaf commit observed
half-renamed is a torn read.  :func:`serve_read` closes both windows
with snapshot isolation in plain directories: under the store's
in-process lock (:func:`swap_lock` — the same lock
:func:`commit_swap` and the stores' leaf writes hold), the reader
HARDLINKS the store tree into a private pin directory beside the
store (``<store>.reads/pin-*``), then reads the pin.  Hardlinks pin
the inodes, so a later swap/rmtree of the live tree cannot invalidate
the snapshot mid-collect; the link walk is metadata-only (no data
copy), and pins are garbage-collected by age on subsequent reads.
The lock is in-process (``threading``) because that is the store
contract: ONE maintenance process owns the store directory; readers
share its driver.  Cross-process serving should consume an exported
snapshot, not the live store tree.
"""

from __future__ import annotations

import os
import shutil
import threading
import uuid

#: pins older than this (by mtime of the pin root, refreshed on every
#: re-pin of the same store) are reclaimed on the next pin — bounds
#: the disk held by abandoned lazy reads to one TTL window.
PIN_TTL_SECONDS = 3600.0

#: temp tree used by tiered per-bucket compaction (:mod:`.fold`);
#: distinct from ``.compact.tmp`` so whole-tree recovery never renames
#: a partial bucket-fold tree into the store slot.
BUCKET_TMP_SUFFIX = ".bucketfold.tmp"

#: watermark marker written inside a folded run's leaf directory —
#: ``_``-prefixed so Spark's file index ignores it.
FOLD_MARKER_PREFIX = "_folded_up_to_"

_LOCKS: dict[str, threading.RLock] = {}
_LOCKS_GUARD = threading.Lock()


def swap_lock(store_path: str) -> threading.RLock:
    """The store's in-process lock. Writers hold it across leaf-batch
    writes and the compact swap; :func:`serve_read` holds it only for
    the (metadata-fast) recover + hardlink walk. RLock so a compact
    that re-reads its own store (sample → serve_read) re-enters."""
    key = os.path.abspath(store_path)
    with _LOCKS_GUARD:
        lock = _LOCKS.get(key)
        if lock is None:
            lock = _LOCKS[key] = threading.RLock()
        return lock


def commit_swap(store_path: str) -> None:
    """``store_path + '.compact.tmp'`` (fully written) becomes
    ``store_path``: old aside → tmp in → drop aside."""
    tmp = store_path + ".compact.tmp"
    old = store_path + ".old"
    with swap_lock(store_path):
        if os.path.exists(old):  # leftover from a prior crash
            shutil.rmtree(old)
        if os.path.exists(store_path):
            os.rename(store_path, old)
        os.rename(tmp, store_path)
        if os.path.exists(old):
            shutil.rmtree(old)


def recover_bucket_swap(store_path: str) -> None:
    """Finish an interrupted per-bucket swap (tiered compaction major
    fold, or the MERGE store's per-trigger bucket rewrite): any bucket
    renamed aside whose store slot is empty is restored — a crash
    between the aside rename and the replacement's rename-in would
    otherwise drop the bucket — then the aside root and any leftover
    bucket-fold temp tree are reclaimed."""
    aside_root = store_path + ".aside"
    if os.path.isdir(aside_root):
        for name in os.listdir(aside_root):
            dst = os.path.join(store_path, name)
            if not os.path.exists(dst):
                os.makedirs(store_path, exist_ok=True)
                os.rename(os.path.join(aside_root, name), dst)
        shutil.rmtree(aside_root, ignore_errors=True)
    tmp = store_path + BUCKET_TMP_SUFFIX
    if os.path.exists(tmp):
        shutil.rmtree(tmp, ignore_errors=True)


def swap_buckets(
    store_path: str,
    tmp: str,
    leaves: list[str],
    keep_tmp: bool = False,
) -> None:
    """Per-bucket crash-safe swap: each named leaf (e.g. ``kb=3``)
    renames its store copy ASIDE (outside partition discovery) before
    the fully-written tmp copy renames in, so the bucket's content
    exists at exactly one known location at every instant;
    :func:`recover_bucket_swap` restores an interrupted swap.  Caller
    holds the store lock and has fully written ``tmp``.  With
    ``keep_tmp`` the tmp tree survives (a caller with more leaves to
    move — tiered compaction's minor runs — cleans it up itself)."""
    aside_root = store_path + ".aside"
    shutil.rmtree(aside_root, ignore_errors=True)
    os.makedirs(aside_root, exist_ok=True)
    os.makedirs(store_path, exist_ok=True)
    for name in leaves:
        src = os.path.join(tmp, name)
        dst = os.path.join(store_path, name)
        if os.path.exists(dst):
            os.rename(dst, os.path.join(aside_root, name))
        if os.path.exists(src):
            os.rename(src, dst)
    shutil.rmtree(aside_root, ignore_errors=True)
    if not keep_tmp:
        shutil.rmtree(tmp, ignore_errors=True)


def _gc_pins(reads_dir: str, now: float) -> None:
    try:
        entries = os.listdir(reads_dir)
    except FileNotFoundError:
        return
    for name in entries:
        p = os.path.join(reads_dir, name)
        try:
            if now - os.path.getmtime(p) > PIN_TTL_SECONDS:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            continue


def pin_store(store_path: str, file_visitor=None) -> str | None:
    """Snapshot-isolate the store tree: hardlink every file into a
    fresh pin directory (``<store>.reads/pin-<uuid>``) under the
    store lock, so the pinned paths survive any later swap or leaf
    rewrite (the inodes stay live until the pin is GC'd).  Returns
    the pin path, or None when the store does not exist.  Metadata
    cost only — no data bytes are copied; requires pins and store on
    one filesystem (they share a parent directory).

    ``file_visitor(rel_dir, filename)`` is called for every linked
    file; callers that need per-file metadata (the tiered-fold
    watermark markers) collect it during THIS walk instead of
    re-walking the pin tree afterwards — at the vector store's cell
    counts the second listdir cascade per serving read is real
    money."""
    import time

    reads_dir = store_path + ".reads"
    with swap_lock(store_path):
        recover_swap(store_path)
        if not os.path.exists(store_path):
            return None
        _gc_pins(reads_dir, time.time())
        pin = os.path.join(reads_dir, f"pin-{uuid.uuid4().hex}")
        for root, _dirs, files in os.walk(store_path):
            rel = os.path.relpath(root, store_path)
            dst_root = os.path.join(pin, rel) if rel != "." else pin
            os.makedirs(dst_root, exist_ok=True)
            for f in files:
                os.link(os.path.join(root, f), os.path.join(dst_root, f))
                if file_visitor is not None:
                    file_visitor(rel, f)
        return pin


def serve_read(spark, store_path: str):
    """The stores' shared serving read: a DataFrame over a pinned
    snapshot of the store (or None when the store is empty/missing).
    Safe to collect regardless of concurrent triggers and compaction
    swaps — the no-torn-reads contract
    (tests/test_serving_under_ingestion.py) — WITHIN one
    ``PIN_TTL_SECONDS`` window: a DataFrame held lazy past the TTL can
    have its pin reclaimed by a later read's GC, and its collect then
    RAISES (missing files; never silent partial data — pinned at the
    boundary in the same test file).  Long-lived holds must re-serve,
    or consume an :func:`export_snapshot`."""
    pin = pin_store(store_path)
    if pin is None:
        return None
    return spark.read.parquet(pin)


def export_snapshot(
    store_path: str, dest: str, link_base: str | None = None
) -> str:
    """Export a consistent snapshot of the store tree to ``dest`` for
    CROSS-PROCESS serving — the piece :func:`serve_read` deliberately
    does not cover (its pins rest on an in-process lock and
    same-filesystem hardlinks, so serving had to share the maintenance
    driver; see the module docstring).

    Under the store's lock: finish any interrupted swap, then link
    (same filesystem — metadata-only) or copy (cross-filesystem) every
    file into ``dest + '.exporting'``, write a ``_snapshot_manifest
    .json`` (file count, byte total, source path) and rename the tree
    to ``dest`` LAST — a reader that can see ``dest`` sees a complete,
    immutable snapshot; a crashed export leaves only the ``.exporting``
    tree, which the caller may delete.  The exported tree is a valid
    store path: a second process (its own SparkSession, its own lock
    namespace) constructs the store class over it and serves — ingest
    in the maintenance driver never touches the export's inodes.

    This is the plain-directory form of a Delta/Iceberg snapshot
    export (publishing a table version to readers): the transactional
    format gets the same isolation from its immutable file set + a
    metadata pointer; here the hardlink tree is the immutable file set
    and the final rename is the pointer flip.

    ``link_base`` makes repeated CROSS-filesystem exports incremental
    (the same-fs case is already metadata-only): when the direct
    hardlink fails (EXDEV), a file whose relpath exists in
    ``link_base`` — normally the PREVIOUS export, which shares dest's
    filesystem — with identical size and mtime_ns is hardlinked from
    there instead of copied.  Store files are immutable once written
    (leaves/runs only ever rename in whole; ``shutil.copy2``
    preserves mtime), so size+mtime_ns equality identifies the same
    bytes; only files new since the previous export pay a copy —
    Iceberg's incremental snapshot publish, where a new version's
    manifest mostly points at data files the previous version already
    shipped.
    """
    import json

    dest = os.path.abspath(dest)
    if os.path.exists(dest):
        raise FileExistsError(f"snapshot destination exists: {dest}")
    tmp = dest + ".exporting"
    shutil.rmtree(tmp, ignore_errors=True)
    n_files = 0
    n_bytes = 0
    with swap_lock(store_path):
        recover_tree(store_path)
        if not os.path.exists(store_path):
            raise FileNotFoundError(f"no store at {store_path}")
        for root, dirs, files in os.walk(store_path):
            # never ship swap scratch / pin trees / crashed exports
            # nested beside a subtree store (keys.reads etc.)
            dirs[:] = [
                d for d in dirs if not d.endswith(SIDECAR_SUFFIXES)
            ]
            rel = os.path.relpath(root, store_path)
            dst_root = os.path.join(tmp, rel) if rel != "." else tmp
            os.makedirs(dst_root, exist_ok=True)
            for f in files:
                src = os.path.join(root, f)
                dst = os.path.join(dst_root, f)
                try:
                    os.link(src, dst)
                except OSError:
                    prev = (
                        os.path.join(link_base, rel, f)
                        if link_base is not None
                        else None
                    )
                    linked = False
                    if prev is not None:
                        try:
                            s_new, s_old = os.stat(src), os.stat(prev)
                            if (
                                s_new.st_size == s_old.st_size
                                and s_new.st_mtime_ns == s_old.st_mtime_ns
                            ):
                                os.link(prev, dst)
                                linked = True
                        except OSError:
                            linked = False
                    if not linked:
                        shutil.copy2(src, dst)
                n_files += 1
                n_bytes += os.path.getsize(src)
    with open(os.path.join(tmp, "_snapshot_manifest.json"), "w") as fh:
        json.dump(
            {
                "source": os.path.abspath(store_path),
                "files": n_files,
                "bytes": n_bytes,
            },
            fh,
        )
    os.rename(tmp, dest)
    return dest


def snapshot_manifest(dest: str) -> dict:
    """The manifest of a completed :func:`export_snapshot` tree;
    raises FileNotFoundError for a missing/incomplete export."""
    import json

    with open(os.path.join(dest, "_snapshot_manifest.json")) as fh:
        return json.load(fh)


#: version-directory prefix of a snapshot chain root
SNAPSHOT_VERSION_PREFIX = "v="


def snapshot_versions(root: str) -> list[int]:
    """Sorted COMPLETE snapshot versions under a chain root: ``v=N``
    directories holding a manifest.  Crashed ``*.exporting`` trees and
    foreign names are ignored (an export becomes visible only through
    its final rename, so a listed version is always whole)."""
    out = []
    try:
        names = os.listdir(root)
    except FileNotFoundError:
        return out
    for name in names:
        if not name.startswith(SNAPSHOT_VERSION_PREFIX):
            continue
        tail = name[len(SNAPSHOT_VERSION_PREFIX):]
        if not tail.isdigit():
            continue
        if os.path.isfile(
            os.path.join(root, name, "_snapshot_manifest.json")
        ):
            out.append(int(tail))
    return sorted(out)


def latest_snapshot(root: str) -> str | None:
    """Path of the newest complete snapshot in the chain (the reader's
    entry point — the Iceberg ``current-snapshot-id`` pointer), or
    None for an empty/missing chain."""
    vers = snapshot_versions(root)
    if not vers:
        return None
    return os.path.join(root, f"{SNAPSHOT_VERSION_PREFIX}{vers[-1]}")


def publish_snapshot(
    store_path: str, root: str, keep: int | None = None
) -> str:
    """Publish the store's next snapshot version into the chain at
    ``root`` (``root/v=1``, ``v=2``, …) and return its path — the
    recurring form of :func:`export_snapshot` a serving deployment
    runs on a cadence: each publish is a complete immutable tree, the
    previous version keeps serving until its readers move on, and
    ``keep`` applies :func:`expire_snapshots` retention afterwards.

    The previous version is passed as ``link_base``, so on a
    cross-filesystem chain each publish copies only files NEW since
    the last one (same-fs chains hardlink everything either way).
    Single-publisher contract, same as the store itself: version
    numbering is read-then-rename without a cross-process lock.
    """
    os.makedirs(root, exist_ok=True)
    vers = snapshot_versions(root)
    prev = (
        os.path.join(root, f"{SNAPSHOT_VERSION_PREFIX}{vers[-1]}")
        if vers
        else None
    )
    dest = export_snapshot(
        store_path,
        os.path.join(
            root, f"{SNAPSHOT_VERSION_PREFIX}{(vers[-1] if vers else 0) + 1}"
        ),
        link_base=prev,
    )
    if keep is not None:
        expire_snapshots(root, keep)
    return dest


def expire_snapshots(root: str, keep: int) -> list[str]:
    """Retention for a snapshot chain: drop all but the newest
    ``keep`` complete versions (plus any crashed ``*.exporting``
    trees) and return the removed paths.  ``keep`` must be ≥ 1 — the
    chain never expires its only serving copy.  Expiring a version a
    reader still holds open invalidates that reader (files vanish
    under its lazy plan) — the exact contract of Iceberg
    ``expire_snapshots`` ending time-travel to old versions; retention
    is the operator's promise about how long readers may hold a
    version.  Hardlinked chains reclaim real disk only when the LAST
    version referencing a file expires."""
    if keep < 1:
        raise ValueError(f"keep must be >= 1, got {keep}")
    removed = []
    for v in snapshot_versions(root)[:-keep]:
        p = os.path.join(root, f"{SNAPSHOT_VERSION_PREFIX}{v}")
        shutil.rmtree(p, ignore_errors=True)
        removed.append(p)
    try:
        names = os.listdir(root)
    except FileNotFoundError:
        names = []
    for name in names:
        if name.endswith(".exporting"):
            p = os.path.join(root, name)
            shutil.rmtree(p, ignore_errors=True)
            removed.append(p)
    return removed


#: sidecar directories that live BESIDE a store (or nested store) and
#: must never ship in an export: swap scratch, pin trees, crashed
#: exports.
SIDECAR_SUFFIXES = (
    ".aside",
    ".compact.tmp",
    ".old",
    BUCKET_TMP_SUFFIX,
    ".reads",
    ".exporting",
)


def recover_tree(store_path: str) -> None:
    """:func:`recover_swap` for a store ROOT that may contain NESTED
    stores — the dedup store's ``keys/`` and ``hashes/`` subtrees.
    The root-level recover only looks for sidecars beside the root,
    so an export (or any whole-tree consumer) taken after a crash and
    before the store's own write path recovers its subtrees would ship
    a subtree with a bucket still renamed aside — silently invisible
    to the reader.  This walks the tree and finishes every interrupted
    swap whose sidecar directory is present, at any depth."""
    recover_swap(store_path)
    if not os.path.isdir(store_path):
        return
    for root, dirs, _files in os.walk(store_path):
        pending = []
        for d in list(dirs):
            for suf in (".aside", ".compact.tmp", ".old", BUCKET_TMP_SUFFIX):
                if d.endswith(suf):
                    pending.append(d[: -len(suf)])
                    dirs.remove(d)
                    break
            else:
                if d.endswith((".reads", ".exporting")):
                    dirs.remove(d)
        for base in dict.fromkeys(pending):
            recover_swap(os.path.join(root, base))


def recover_swap(store_path: str) -> None:
    """Complete an interrupted :func:`commit_swap`: if the store path
    is missing, the complete copy sits at the tmp (new base fully
    written, swap unfinished) or .old (swap not yet started on tmp)
    location — restore it."""
    tmp = store_path + ".compact.tmp"
    old = store_path + ".old"
    if os.path.exists(store_path):
        # The store is whole, so any leftover aside/tmp copy is
        # provably stale (a crash landed between the final rename and
        # its cleanup, or before commit_swap started) — reclaim the
        # disk now instead of waiting for the next compact.
        if os.path.exists(old):
            shutil.rmtree(old)
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        recover_bucket_swap(store_path)
        return
    if os.path.exists(tmp):
        os.rename(tmp, store_path)
        if os.path.exists(old):
            shutil.rmtree(old)
    elif os.path.exists(old):
        os.rename(old, store_path)
    recover_bucket_swap(store_path)
