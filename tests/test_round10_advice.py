"""Round-10 ADVICE fixes (all three round-9 advisor findings), each
pinned by the failure it closes:

* the merge backlog feed's lexicographic ``seq`` string is built with
  ``lpad(..., 20/12, '0')`` — Spark lpad TRUNCATES over-width strings
  and a '-' sign breaks zero-pad ordering, so out-of-range inputs
  (event_id >= 10^12, pre-1970 ts) must fail loudly before staging
  instead of silently corrupting the last-change-wins equivalence
  argument (tools/stream_backlog.py);
* check_merge/check_spans/check_vectors must report a clean
  ``{"match": False, "empty_store": True}`` verdict for a degenerate
  (empty/missing) store instead of raising AttributeError on None;
* the planted-pair entries reuse ``PLANT_OFFSET=10^7`` for planted
  ids — a corpus with vec_id >= PLANT_OFFSET would silently collide
  planted ids with real ones (and the oracle, replaying the same
  construction, would stay green), so the bound is now asserted
  in-plan on every corpus row (queries/dedup.py).
"""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest
from pyspark.sql import functions as F


def _load_backlog():
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "stream_backlog.py",
    )
    spec = importlib.util.spec_from_file_location("stream_backlog", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# ------------------------------------------------ merge seq range guard
@pytest.mark.parametrize(
    "ts,event_id,what",
    [
        ("2024-01-01 00:00:00", 10**12, "event_id width overflow"),
        ("1969-12-31 23:59:59", 7, "negative unix_micros"),
    ],
)
def test_merge_stage_rejects_seq_range_violations(
    spark, tmp_path, ts, event_id, what
):
    bl = _load_backlog()
    bad_sf = str(tmp_path / "sf")
    os.makedirs(bad_sf)
    spark.createDataFrame(
        [(1, event_id, "click", 1.0, ts)],
        "user_id long, event_id long, event_type string, value double, ts string",
    ).selectExpr(
        "user_id", "event_id", "event_type", "value",
        "CAST(ts AS TIMESTAMP_NTZ) AS ts",
    ).write.parquet(os.path.join(bad_sf, "events.parquet"))
    with pytest.raises(ValueError, match="seq range violated"):
        bl.stage(spark, bad_sf, "merge", 2, str(tmp_path / "work"))


def test_merge_stage_accepts_sane_ranges(spark, tmp_path):
    bl = _load_backlog()
    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    spark.createDataFrame(
        [(1, 7, "click", 1.0, "2024-01-01 00:00:00")],
        "user_id long, event_id long, event_type string, value double, ts string",
    ).selectExpr(
        "user_id", "event_id", "event_type", "value",
        "CAST(ts AS TIMESTAMP_NTZ) AS ts",
    ).write.parquet(os.path.join(sf, "events.parquet"))
    staged = bl.stage(spark, sf, "merge", 1, str(tmp_path / "work"))
    rows = spark.read.parquet(staged).collect()
    assert len(rows) == 1 and len(rows[0].seq) == 32


# --------------------------------------------- None-store check guards
class _EmptyStore:
    w = 16

    def snapshot(self, spark):
        return None

    def span_stats(self, docs):
        return None

    def topk(self, queries, k=5, n_probe=4):
        return None

    def centroids(self, spark):
        return None


def test_checks_report_empty_store_instead_of_raising(spark, tmp_path):
    bl = _load_backlog()
    merge_dir = str(tmp_path / "staged_merge")
    spark.createDataFrame(
        [(1, "U", "click", 1.0, "a" * 32)],
        "k long, op string, event_type string, value double, seq string",
    ).write.parquet(merge_dir)
    vec_dir = str(tmp_path / "staged_vec")
    spark.createDataFrame(
        [(1, [0.1] * 4)], "vec_id long, embedding array<float>"
    ).write.parquet(vec_dir)
    for check, stage_dir in (
        (bl.check_merge, merge_dir),
        (bl.check_spans, merge_dir),
        (bl.check_vectors, vec_dir),
    ):
        out = check(spark, _EmptyStore(), stage_dir)
        assert out == {"match": False, "empty_store": True}, check.__name__


# ------------------------------------------- PLANT_OFFSET collision bar
def test_planted_corpus_guard_fires_on_id_collision(spark, tmp_path):
    from pyspark.errors.exceptions.captured import SparkRuntimeException
    from spark_kafka_streaming_spark.queries import dedup
    from spark_kafka_streaming_spark.operators.similarity import DIM

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    vec = [0.1] * DIM
    spark.createDataFrame(
        [(dedup.PLANT_OFFSET + 3, vec), (1, vec)],
        "vec_id long, embedding array<float>",
    ).write.parquet(os.path.join(sf, "embeddings.parquet"))
    with pytest.raises(SparkRuntimeException, match="PLANT_OFFSET"):
        dedup.q_dedup_embedding_lsh_scaled_planted(spark, sf).collect()


def test_planted_corpus_guard_passes_in_bound_ids(spark, sf_dir):
    from spark_kafka_streaming_spark.queries import dedup

    # the real test corpora sit far below the bound: the entry still
    # produces its planted pairs (non-empty at every sf by design)
    rows = dedup.q_dedup_embedding_lsh_scaled_planted(spark, sf_dir).collect()
    assert len(rows) > 0


# ------------------------------------------------------ stall watchdog
def test_stall_watchdog_dumps_and_rearms(tmp_path):
    """tools/watchdog.py (round-10 verdict #8): a block overrunning
    its wall budget gets python stacks dumped and a loud stderr line,
    repeating per interval, without killing the block."""
    import importlib.util
    import time as _time

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "watchdog.py",
    )
    spec = importlib.util.spec_from_file_location("sg_watchdog", path)
    wd = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(wd)

    with wd.StallWatchdog(
        "unit", timeout_s=0.2, dump_dir=str(tmp_path), dump_jvm=False
    ) as w:
        _time.sleep(0.7)
    assert w.fired >= 2  # fired and re-armed
    dumps = [f for f in os.listdir(tmp_path) if f.startswith("stall_unit")]
    assert dumps
    body = open(os.path.join(tmp_path, sorted(dumps)[0])).read()
    assert "STALL unit" in body and "Thread" in body


def test_stall_watchdog_silent_under_budget(tmp_path):
    import importlib.util

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "watchdog.py",
    )
    spec = importlib.util.spec_from_file_location("sg_watchdog2", path)
    wd = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(wd)
    with wd.StallWatchdog("fast", timeout_s=30, dump_dir=str(tmp_path)) as w:
        pass
    assert w.fired == 0
    assert not os.listdir(tmp_path)
