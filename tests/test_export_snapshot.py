"""Round-11 verdict item #3: exported-snapshot serving.

``serve_read``'s snapshot isolation rests on an IN-PROCESS lock and
same-filesystem hardlinks, so serving had to run inside the
maintenance driver.  ``swap.export_snapshot`` closes the posture gap:
it publishes a complete, immutable copy of the store tree (manifest +
final rename as the pointer flip — the plain-directory form of a
Delta/Iceberg snapshot export), and a SECOND process with its own
SparkSession serves from the export while the maintenance driver keeps
ingesting.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import threading

import pytest

from spark_kafka_streaming_spark.streaming.incremental_index import (
    IncrementalIndexer,
)
from spark_kafka_streaming_spark.streaming.swap import (
    export_snapshot,
    snapshot_manifest,
)

N_BATCHES = 8
DOCS_PER_BATCH = 10

_SERVE_SCRIPT = textwrap.dedent(
    """
    import sys
    from pyspark.sql import SparkSession
    from spark_kafka_streaming_spark.streaming.incremental_index import (
        IncrementalIndexer,
    )

    export_path, out_path = sys.argv[1], sys.argv[2]
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    # the exported tree IS a valid store path: construct the store
    # class over it in this fresh process and serve
    ix = IncrementalIndexer(export_path)
    tf = ix._merged_tf(spark)
    ids = sorted(
        r.doc_id for r in tf.select("doc_id").distinct().collect()
    )
    with open(out_path, "w") as fh:
        fh.write(",".join(map(str, ids)))
    spark.stop()
    """
)


def _batch(spark, i):
    lo = i * DOCS_PER_BATCH
    return spark.createDataFrame(
        [(d, f"alpha beta w{d} gamma") for d in range(lo, lo + DOCS_PER_BATCH)],
        "doc_id bigint, text string",
    )


def test_export_serves_in_second_process_during_ingestion(spark, tmp_path):
    store = str(tmp_path / "ix_store")
    dest = str(tmp_path / "export")
    out = str(tmp_path / "served_ids.txt")
    ix = IncrementalIndexer(store, compact_every=2)

    exported = threading.Event()
    errors: list[BaseException] = []

    def writer():
        try:
            for i in range(N_BATCHES):
                ix(_batch(spark, i), i)
                if i == 3:
                    export_snapshot(store, dest)
                    exported.set()
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errors.append(e)
            exported.set()

    t = threading.Thread(target=writer, daemon=True)
    t.start()
    assert exported.wait(timeout=300)
    if errors:
        raise errors[0]

    # second process: own JVM, own SparkSession, own lock namespace —
    # serves from the export while the writer thread keeps ingesting
    env = dict(os.environ)
    env["PYTHONPATH"] = (
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        + os.pathsep
        + env.get("PYTHONPATH", "")
    )
    proc = subprocess.run(
        [sys.executable, "-c", _SERVE_SCRIPT, dest, out],
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    t.join(timeout=300)
    if errors:
        raise errors[0]
    assert proc.returncode == 0, proc.stderr[-2000:]

    served = [int(x) for x in open(out).read().split(",")]
    # the export is a consistent trigger-complete prefix: export ran
    # under the store lock after trigger 3 landed, so exactly batches
    # 0..3 — no torn leaf, no half batch
    assert served == list(range(4 * DOCS_PER_BATCH)), served[:50]

    m = snapshot_manifest(dest)
    assert m["files"] > 0 and m["bytes"] > 0
    assert m["source"] == os.path.abspath(store)

    # ingestion was undisturbed: the live store serves all batches
    final = sorted(
        r.doc_id
        for r in ix._merged_tf(spark).select("doc_id").distinct().collect()
    )
    assert final == list(range(N_BATCHES * DOCS_PER_BATCH))
    # and the export still serves its pinned version (immutability)
    m2 = snapshot_manifest(dest)
    assert m2 == m


def test_export_refuses_existing_dest_and_missing_store(spark, tmp_path):
    store = str(tmp_path / "ix_store")
    ix = IncrementalIndexer(store)
    ix(_batch(spark, 0), 0)
    dest = tmp_path / "export"
    dest.mkdir()
    with pytest.raises(FileExistsError):
        export_snapshot(store, str(dest))
    with pytest.raises(FileNotFoundError):
        export_snapshot(str(tmp_path / "nope"), str(tmp_path / "export2"))
    # incomplete export (crash before the final rename) is invisible
    # to manifest readers
    with pytest.raises(FileNotFoundError):
        snapshot_manifest(str(tmp_path / "export2"))


def test_export_recovers_nested_subtree_swaps_and_ships_no_sidecars(
    spark, tmp_path
):
    """The dedup store is TWO nested stores (keys/, hashes/) under one
    root; an export taken after a crash mid-bucket-swap — before the
    store's own write path runs recovery — must finish the nested swap
    (else the reader silently misses a bucket's signatures and accepts
    near-dups) and must not ship swap scratch or pin trees."""
    import glob
    import shutil

    from spark_kafka_streaming_spark.streaming.incremental_dedup import (
        IncrementalDeduper,
    )
    from spark_kafka_streaming_spark.streaming.swap import serve_read

    store = str(tmp_path / "dd_store")
    dd = IncrementalDeduper(store, str(tmp_path / "acc"))
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta " + " ".join(f"w{i}{j}" for j in range(8)))
         for i in range(12)],
        "doc_id bigint, text string",
    )
    dd(docs, 0)

    keys = os.path.join(store, "keys")
    buckets = sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(keys, "kb=*"))
    )
    assert buckets
    # also leave a pin tree lying around: it must not ship
    assert serve_read(spark, keys) is not None
    assert os.path.isdir(keys + ".reads")

    # simulate a crash between swap_buckets' aside rename and the
    # replacement's rename-in for one keys bucket
    victim = buckets[0]
    aside = keys + ".aside"
    os.makedirs(aside, exist_ok=True)
    os.rename(os.path.join(keys, victim), os.path.join(aside, victim))

    dest = str(tmp_path / "export")
    export_snapshot(store, dest)

    # the nested swap was finished INTO the export (and the live store)
    assert os.path.isdir(os.path.join(dest, "keys", victim))
    assert os.path.isdir(os.path.join(keys, victim))
    # no sidecar trees shipped
    assert not glob.glob(os.path.join(dest, "**", "*.aside"), recursive=True)
    assert not glob.glob(os.path.join(dest, "**", "*.reads"), recursive=True)

    # the export serves the complete signature store: same key-index
    # rows as the live store
    live = sorted(
        map(tuple, dd.key_store.read(spark, live=True).drop("batch").collect())
    )
    exported = IncrementalDeduper(dest, str(tmp_path / "acc2"))
    got = sorted(
        map(tuple, exported.key_store.read(spark, live=True).drop("batch").collect())
    )
    assert got == live
    shutil.rmtree(dest)
