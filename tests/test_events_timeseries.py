"""Semantics tests for the time-series wave (queries/events.py):
gap-fill resampling and SCD2 state-interval derivation."""

from __future__ import annotations

from spark_kafka_streaming_spark.queries import REGISTRY
from spark_kafka_streaming_spark.sources.batch import load_table


def test_gapfill_grid_complete_and_filled(spark, sf_dir):
    rows = (
        REGISTRY["q_events_resample_gapfill"].builder(spark, sf_dir).collect()
    )
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r["event_type"], []).append(r)
    hours = {len(v) for v in by_type.values()}
    assert len(hours) == 1  # identical dense grid per type
    for seq in by_type.values():
        seq.sort(key=lambda r: r["h"])
        prev = None
        for r in seq:
            if r["cnt"] == 0:
                # forward-filled: equals the previous bucket's total
                assert r["filled_total"] == prev
            if r["filled_total"] is not None:
                prev = r["filled_total"]
    # gaps exist at test scale, so the fill path is actually exercised
    assert any(r["cnt"] == 0 for r in rows)


def test_scd2_intervals_chain_per_user(spark, sf_dir):
    rows = (
        REGISTRY["q_events_scd2_user_state"].builder(spark, sf_dir).collect()
    )
    ev = load_table(spark, sf_dir, "events")
    n_users = ev.select("user_id").distinct().count()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    assert len(by_user) == n_users
    for seq in by_user.values():
        seq.sort(key=lambda r: r["valid_from"])
        for a, b in zip(seq, seq[1:]):
            assert a["valid_to"] == b["valid_from"]  # intervals chain
            assert a["event_type"] != b["event_type"]  # real changes only
        assert seq[-1]["valid_to"] is None  # open current state


def test_interval_dedup_matches_python(spark, sf_dir):
    """Full Python recomputation of the lag-based debounce."""
    ev = sorted(
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "ts")
        .collect(),
        key=lambda r: (r["ts"], r["event_id"]),
    )
    last: dict = {}
    expected = set()
    for r in ev:
        k = (r["user_id"], r["event_type"])
        prev = last.get(k)
        if prev is None or (r["ts"] - prev).total_seconds() >= 300:
            expected.add(r["event_id"])
        last[k] = r["ts"]
    got = {
        r["event_id"]
        for r in REGISTRY["q_events_dedup_within_interval"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert got == expected
