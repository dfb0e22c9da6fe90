"""Stateful checkpoint recovery and integrity under the session's
checkpoint posture (RocksDB changelog checkpointing everywhere, the
FileSystem-API checkpoint manager on local sessions).

The windowed word count (``token_counts_windowed``) drains a staged
backlog one file per trigger; every case must end with the output of
one uninterrupted drain, which equals a batch word count over the
windows the final watermark closed:

* stop after 11 triggers — past RocksDB's ``minDeltasForSnapshot``
  (10), so recovery replays changelogs — then resume;
* a checkpoint written with changelog checkpointing off and Spark's
  default FileContext manager (the earlier session posture) resumes
  under the current one;
* a foreachBatch sink failure after the state commit, then a restart:
  the replayed epoch rewrites its state version and exactly one copy
  of the output lands.

The integrity checks show the cheaper commit drops no safeguard: every
checkpoint file keeps its Hadoop ``.crc`` sibling, every state
changelog its Spark checksum file, and no temp file is left behind.
"""

from __future__ import annotations

import json
import os
from types import SimpleNamespace

import pytest
from pyspark.errors.exceptions.captured import StreamingQueryException

from spark_kafka_streaming_spark import session
from spark_kafka_streaming_spark.streaming.decode import token_counts_windowed
from spark_kafka_streaming_spark.streaming.pipeline import file_stream, start_sink

N_FILES = 14
FIRST = 11
SCHEMA = "timestamp timestamp, value string"
CHANGELOG = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
MANAGER = "spark.sql.streaming.checkpointFileManagerClass"


def _stage(src, files):
    """File i: 12 in-order records in the five minutes from 10:00 + 5·i,
    so the watermark closes a window every trigger and drops nothing.
    The file source orders a trigger's files by modification time (ms),
    so file i gets mtime i seconds past a fixed epoch."""
    os.makedirs(src, exist_ok=True)
    for i in files:
        path = os.path.join(src, f"f{i:02d}.json")
        with open(path, "w") as f:
            for j in range(12):
                minute = 5 * i + j * 5 // 12
                ts = f"2024-01-01T{10 + minute // 60:02d}:{minute % 60:02d}:{j:02d}Z"
                value = f"w{j % 4} w{i % 3} x"
                f.write(json.dumps({"timestamp": ts, "value": value}) + "\n")
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))


def _counts(spark, src):
    stream = file_stream(spark, src, SCHEMA, max_files_per_trigger=1)
    return token_counts_windowed(stream, "10 minutes", "5 minutes", "5 minutes")


def _await(q):
    q.awaitTermination(180)
    assert q.exception() is None, q.exception()
    return q.lastProgress["eventTime"]["watermark"]


def _drain(spark, src, out, ck):
    """One availableNow drain into a parquet sink; the final watermark."""
    return _await(
        start_sink(_counts(spark, src), "parquet", path=out, checkpoint=ck,
                   available_now=True)
    )


def _rows(df):
    return sorted(
        (r.ws.isoformat(), r.we.isoformat(), r.word, r.n)
        for r in df.select("ws", "we", "word", "n").collect()
    )


def _batch_count(spark, src, watermark):
    """The same word count as one batch query, over closed windows."""
    counts = token_counts_windowed(
        spark.read.schema(SCHEMA).json(src), "10 minutes", "5 minutes"
    )
    return _rows(counts.where(counts.we <= watermark.replace("T", " ")[:19]))


@pytest.fixture(scope="module")
def reference(spark, tmp_path_factory):
    """One uninterrupted drain of all files: (src, out rows, checkpoint)."""
    root = tmp_path_factory.mktemp("uninterrupted")
    src, out, ck = (str(root / d) for d in ("src", "out", "ck"))
    _stage(src, range(N_FILES))
    wm = _drain(spark, src, out, ck)
    want = _rows(spark.read.parquet(out))
    assert want and want == _batch_count(spark, src, wm)
    return src, want, ck


def _changelog_versions(ck):
    part = os.path.join(ck, "state", "0", "0")
    return sorted(int(f.split(".")[0]) for f in os.listdir(part)
                  if f.endswith(".changelog"))


def test_stop_after_11_triggers_resume_replays_changelogs(
    spark, tmp_path, reference
):
    _, want, _ = reference
    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))
    _stage(src, range(FIRST))
    _drain(spark, src, out, ck)
    assert max(_changelog_versions(ck)) >= FIRST
    _stage(src, range(FIRST, N_FILES))
    wm = _drain(spark, src, out, ck)
    got = _rows(spark.read.parquet(out))
    assert got == want == _batch_count(spark, src, wm)


def test_checkpoint_from_earlier_posture_resumes(spark, tmp_path, reference):
    """First half under changelog checkpointing off and the FileContext
    manager (zip snapshots every commit), second half under the session
    defaults."""
    _, want, _ = reference
    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))
    _stage(src, range(N_FILES // 2))
    saved = {k: spark.conf.get(k) for k in (CHANGELOG, MANAGER)}
    try:
        spark.conf.set(CHANGELOG, "false")
        spark.conf.set(
            MANAGER,
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileContextBasedCheckpointFileManager",
        )
        _drain(spark, src, out, ck)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    part = os.path.join(ck, "state", "0", "0")
    assert any(f.endswith(".zip") for f in os.listdir(part))
    assert not _changelog_versions(ck)
    _stage(src, range(N_FILES // 2, N_FILES))
    wm = _drain(spark, src, out, ck)
    assert _changelog_versions(ck)
    assert _rows(spark.read.parquet(out)) == want == _batch_count(spark, src, wm)


def test_stateful_sink_crash_then_restart_is_exactly_once(
    spark, tmp_path, reference
):
    """The sink fails after materializing epoch 6, so its state version
    is committed but the epoch is not; the restart replays it and the
    batch-id keyed writer leaves exactly one copy."""
    src, want, _ = reference
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    armed = tmp_path / "armed"
    armed.touch()

    def sink(df, batch_id):
        rows = df.collect()
        if armed.exists() and batch_id == 6:
            raise RuntimeError("injected sink failure")
        spark.createDataFrame(rows, df.schema).write.mode("overwrite").parquet(
            f"{out}/batch={batch_id}"
        )

    def start():
        return start_sink(_counts(spark, src), foreach_batch=sink,
                          checkpoint=ck, available_now=True)

    q = start()
    with pytest.raises(StreamingQueryException, match="injected sink failure"):
        q.awaitTermination(180)
    assert max(_changelog_versions(ck)) == 7  # epoch 6 is state version 7
    armed.unlink()
    _await(start())
    assert _rows(spark.read.parquet(out)) == want


def test_checkpoint_keeps_checksums_and_leaves_no_temp_files(spark, reference):
    _, _, ck = reference
    n_files = n_changelogs = 0
    for sub in ("offsets", "commits", "sources", "state"):
        for d, _, files in os.walk(os.path.join(ck, sub)):
            for f in files:
                assert ".tmp" not in f, os.path.join(d, f)
                if f.startswith("."):
                    continue
                n_files += 1
                assert f".{f}.crc" in files, os.path.join(d, f)
                if f.endswith(".changelog"):
                    n_changelogs += 1
                    assert f"{f}.crc" in files, os.path.join(d, f)
    assert n_changelogs >= N_FILES and n_files > n_changelogs
    jvm = spark._jvm
    create = getattr(
        jvm.org.apache.spark.sql.execution.streaming.checkpointing,
        "CheckpointFileManager$",
    ).__getattr__("MODULE$").create
    manager = create(
        jvm.org.apache.hadoop.fs.Path(ck),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getSimpleName() == (
        "FileSystemBasedCheckpointFileManager"
    )


class _Builder:
    """Records the settings ``get_spark`` puts on a session builder."""

    def __init__(self):
        self.conf = {}
        self.sparkContext = self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def appName(self, name):
        return self

    master = appName
    setLogLevel = appName

    def getOrCreate(self):
        return self


@pytest.mark.parametrize("master", ["local[2]", "yarn", "spark://h:7077"])
def test_checkpoint_posture_by_master(monkeypatch, master):
    builder = _Builder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    monkeypatch.setattr(session, "_ensure_driver_memory", lambda: None)
    conf = session.get_spark(master=master).conf
    assert conf[CHANGELOG] == "true"
    assert (MANAGER in conf) == master.startswith("local")
