"""Streaming-semantics tests (SURVEY.md §5 item 3).

Replays ``events`` rows through file streams in timed micro-batches —
the test-harness mirror of the reference's producer→consumer smoke
setup (``KafkaWordCount.scala:81-114``) — and asserts window /
watermark / dedup / checkpoint-resume behavior per micro-batch.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from spark_kafka_streaming_spark.sources.batch import load_table
from spark_kafka_streaming_spark.streaming.decode import (
    decode_json,
    decode_string,
    explode_tokens,
    token_counts_windowed,
)
from spark_kafka_streaming_spark.streaming.monitor import ProgressRecorder
from spark_kafka_streaming_spark.streaming.pipeline import (
    file_stream,
    rate_stream,
    start_sink,
)


def _write_events_json(spark, sf_dir, out_dir, n_splits=1, which=0):
    """Dump the events table (or the i-th slice of it) as JSON files."""
    ev = load_table(spark, sf_dir, "events")
    if n_splits > 1:
        ev = ev.filter(F.col("event_id") % n_splits == which)
    (
        ev.select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        ).coalesce(1)
        .write.mode("append")
        .json(out_dir)
    )


def _drain(q):
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)


def test_windowed_agg_stream_equals_batch(spark, sf_dir, tmp_path):
    """Tumbling-window agg over a file stream == the batch query
    (the Q5 windowed-count parity check)."""
    src = str(tmp_path / "src")
    _write_events_json(spark, sf_dir, src)
    stream = file_stream(spark, src)
    agg = (
        stream.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    q = start_sink(agg, "memory", query_name="winagg", output_mode="append",
                   checkpoint=str(tmp_path / "ck"))
    _drain(q)
    # append mode emits only watermark-closed windows; with all data in one
    # batch the final watermark closes every window except those within
    # 1 minute of max ts — compare against the batch result restricted the
    # same way.
    got = {
        (r.ws, r.event_type): r.n
        for r in spark.sql("SELECT * FROM winagg").collect()
    }
    ev = load_table(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts")).first()[0]
    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), F.col("w.end").alias("we"),
                "event_type", "n")
        .collect()
    )
    import datetime as dt

    closed = {
        (r.ws, r.event_type): r.n
        for r in batch
        if r.we <= max_ts - dt.timedelta(minutes=1)
    }
    assert got == closed
    assert len(got) > 0


def test_watermark_drops_late_rows(spark, tmp_path):
    """Rows older than the watermark at batch start are dropped — the
    late-data semantics the reference never had (SURVEY.md §2a note)."""
    src = str(tmp_path / "late_src")
    os.makedirs(src)

    def write_batch(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    # batch 1: events at 10:00 and 12:00 → watermark advances to 11:50
    write_batch(
        "b1.json",
        [
            {"event_id": 1, "ts": "2024-01-01T10:00:00.000000Z", "user_id": 1,
             "event_type": "click", "value": 1.0, "props": "{}"},
            {"event_id": 2, "ts": "2024-01-01T12:00:00.000000Z", "user_id": 1,
             "event_type": "click", "value": 1.0, "props": "{}"},
        ],
    )
    stream = file_stream(spark, src, max_files_per_trigger=1)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = start_sink(agg, "memory", query_name="late", output_mode="update",
                   checkpoint=str(tmp_path / "ck_late"))
    q.processAllAvailable()
    # batch 2: a 10:05 event — older than the 11:50 watermark → dropped
    write_batch(
        "b2.json",
        [
            {"event_id": 3, "ts": "2024-01-01T10:05:00.000000Z", "user_id": 1,
             "event_type": "click", "value": 1.0, "props": "{}"},
        ],
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    counts = {
        r.ws.hour: r.n for r in spark.sql("SELECT * FROM late").collect()
    }
    assert counts[10] == 1  # late row did NOT bump the 10:00 window
    assert counts[12] == 1


def test_stream_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: streaming exact dedup (§2c row 1,
    streaming form)."""
    src = str(tmp_path / "dup_src")
    os.makedirs(src)
    rows = [
        {"event_id": 1, "ts": "2024-01-01T10:00:00.000000Z", "user_id": 1,
         "event_type": "click", "value": 1.0, "props": "{}"},
        {"event_id": 1, "ts": "2024-01-01T10:00:05.000000Z", "user_id": 1,
         "event_type": "click", "value": 1.0, "props": "{}"},  # dup id
        {"event_id": 2, "ts": "2024-01-01T10:01:00.000000Z", "user_id": 1,
         "event_type": "view", "value": 2.0, "props": "{}"},
    ]
    with open(os.path.join(src, "b1.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    stream = file_stream(spark, src)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    q = start_sink(deduped, "memory", query_name="dedup",
                   checkpoint=str(tmp_path / "ck_dedup"))
    _drain(q)
    out = spark.sql("SELECT event_id FROM dedup").collect()
    assert sorted(r.event_id for r in out) == [1, 2]


def test_checkpoint_resume_no_duplicates(spark, tmp_path):
    """Stop + restart from the checkpoint continues from committed
    offsets (S6/S7 parity: HBase offset store → checkpoint)."""
    src = str(tmp_path / "resume_src")
    out = str(tmp_path / "resume_out")
    ck = str(tmp_path / "ck_resume")
    os.makedirs(src)

    def emit(name, ids):
        with open(os.path.join(src, name), "w") as f:
            for i in ids:
                f.write(json.dumps(
                    {"event_id": i, "ts": "2024-01-01T10:00:00.000000Z",
                     "user_id": i, "event_type": "click", "value": 1.0,
                     "props": "{}"}) + "\n")

    emit("b1.json", range(0, 50))
    stream = file_stream(spark, src)
    q = start_sink(stream, "parquet", checkpoint=ck, path=out)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    # restart with more data; committed files must not be re-emitted
    emit("b2.json", range(50, 80))
    stream2 = file_stream(spark, src)
    q2 = start_sink(stream2, "parquet", checkpoint=ck, path=out)
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination(30)
    got = spark.read.parquet(out).select("event_id").collect()
    ids = sorted(r.event_id for r in got)
    assert ids == list(range(80)), "duplicate or missing rows after resume"


def test_flagship_wordcount_stream(spark, tmp_path):
    """The KafkaWordCount successor: keyed text → explode → sliding
    window count (KafkaWordCount.scala:70-73 analog), via the decode
    layer instead of the flat-mapper."""
    src = str(tmp_path / "wc_src")
    os.makedirs(src)
    lines = [
        ("2024-01-01T10:00:01.000000Z", "spark streams kafka"),
        ("2024-01-01T10:00:02.000000Z", "spark kafka"),
        ("2024-01-01T10:05:00.000000Z", "streams"),
    ]
    with open(os.path.join(src, "b1.json"), "w") as f:
        for ts, text in lines:
            f.write(json.dumps({"timestamp": ts, "value": text}) + "\n")
    schema = "timestamp timestamp, value string"
    stream = spark.readStream.schema(schema).json(src)
    counts = token_counts_windowed(
        stream, window="10 minutes", slide="5 minutes", watermark="1 minute"
    )
    q = start_sink(counts, "memory", query_name="wc", output_mode="update",
                   checkpoint=str(tmp_path / "ck_wc"))
    _drain(q)
    rows = spark.sql("SELECT word, sum(n) AS n FROM wc GROUP BY word").collect()
    got = {r.word: r.n for r in rows}
    # each word double-counted by the 2 overlapping sliding windows
    assert got["spark"] == 4 and got["kafka"] == 4 and got["streams"] == 4


def test_decode_layer_json_roundtrip(spark):
    """decode_string + decode_json reproduce the flat-mapper contract on
    a Kafka-shaped frame (key/value binary)."""
    raw = spark.createDataFrame(
        [(b"k1", json.dumps({"a": 1, "b": "x"}).encode()),
         (None, json.dumps({"a": 2, "b": "y"}).encode()),
         (b"k3", b"not-json")],
        "key binary, value binary",
    )
    decoded = decode_json(decode_string(raw), "a int, b string")
    rows = sorted(
        [(r.key, r.a, r.b) for r in decoded.collect()],
        key=lambda t: (t[0] is None, t[0] or ""),
    )
    assert rows == [("k1", 1, "x"), ("k3", None, None), (None, 2, "y")]


def test_explode_tokens_fanout(spark):
    """T1 fan-out: one message → N elements."""
    df = spark.createDataFrame([("a b  c",), ("",)], "value string")
    toks = [r.token for r in explode_tokens(df).collect()]
    assert sorted(toks) == ["a", "b", "c"]


def test_progress_recorder_and_rate_source(spark, tmp_path):
    """M1-M3 parity: progress listener records per-batch source offsets
    and throughput from a live (rate-source) query."""
    rec = ProgressRecorder(jsonl_path=str(tmp_path / "progress.jsonl"))
    spark.streams.addListener(rec)
    try:
        q = start_sink(
            rate_stream(spark, rows_per_second=100).select("timestamp", "value"),
            "noop",
            trigger_seconds=0.5,
        )
        import time

        deadline = time.time() + 20
        while time.time() < deadline and not rec.events:
            time.sleep(0.25)
        q.stop()
        q.awaitTermination(30)
    finally:
        spark.streams.removeListener(rec)
    assert rec.events, "no progress events captured"
    progress = rec.latest_progress()
    assert progress["sources"][0]["endOffset"] is not None
    tp = rec.throughput()
    assert "numInputRows" in tp
    assert os.path.exists(str(tmp_path / "progress.jsonl"))


def test_kafka_gated_clearly(spark):
    """Without the connector jar, the Kafka source raises the documented
    error instead of an opaque ClassNotFound at .load() time."""
    from spark_kafka_streaming_spark.sources.kafka import (
        KafkaNotAvailable,
        KafkaSourceConfig,
        is_kafka_available,
        read_stream,
    )

    cfg = KafkaSourceConfig(
        bootstrap_servers="broker:9092", topics=["t1", "t2"],
        max_offsets_per_trigger=100000, min_partitions=64,
    )
    opts = cfg.options()
    assert opts["subscribe"] == "t1,t2"
    assert opts["maxOffsetsPerTrigger"] == "100000"
    assert opts["failOnDataLoss"] == "false"
    assert opts["minPartitions"] == "64"
    batch_opts = cfg.options(streaming=False)
    assert batch_opts["endingOffsets"] == "latest"
    with pytest.raises(ValueError):
        KafkaSourceConfig(bootstrap_servers="b", topics=["t"],
                          subscribe_pattern="x.*").options()
    if not is_kafka_available(spark):
        with pytest.raises(KafkaNotAvailable):
            read_stream(spark, cfg)


def test_avro_gated_clearly(spark):
    """T3/T4: avro helpers raise the documented error when the
    spark-avro jar is absent; schema derivation works regardless."""
    from spark_kafka_streaming_spark.functions.avro import (
        AvroNotAvailable,
        avro_schema_of,
        encode_avro,
        is_avro_available,
    )

    df = spark.createDataFrame([(1, "x")], "id long, name string")
    schema = json.loads(avro_schema_of(df, "id", "name"))
    assert schema["fields"][0]["name"] == "id"
    if not is_avro_available(spark):
        with pytest.raises(AvroNotAvailable):
            encode_avro(df, "id", "name")
    else:
        from spark_kafka_streaming_spark.functions.avro import decode_avro

        rt = decode_avro(
            encode_avro(df, "id", "name").select("avro_bytes"),
            avro_schema_of(df, "id", "name"),
        )
        assert rt.collect()[0].id == 1


def test_late_data_accounting_in_monitor(spark, tmp_path):
    """ProgressRecorder.late_data(): the watermark-drop counter the
    operator alarms on — rows arriving older than the watermark must
    show up in stateOperators.numRowsDroppedByWatermark, surfaced as a
    cumulative metric (the observability the reference's DStream path
    lacked: it silently mis-bucketed late records)."""
    src = str(tmp_path / "late_mon_src")
    os.makedirs(src)

    def write_batch(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    write_batch(
        "b1.json",
        [
            {"event_id": 1, "ts": "2024-01-01T10:00:00.000000Z", "user_id": 1,
             "event_type": "click", "value": 1.0, "props": "{}"},
            {"event_id": 2, "ts": "2024-01-01T12:00:00.000000Z", "user_id": 1,
             "event_type": "click", "value": 1.0, "props": "{}"},
        ],
    )
    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    try:
        stream = file_stream(spark, src, max_files_per_trigger=1)
        agg = (
            stream.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
        )
        q = start_sink(agg, "memory", query_name="late_mon",
                       output_mode="update",
                       checkpoint=str(tmp_path / "ck_late_mon"))
        q.processAllAvailable()
        write_batch(
            "b2.json",
            [
                {"event_id": 3, "ts": "2024-01-01T10:05:00.000000Z",
                 "user_id": 1, "event_type": "click", "value": 1.0,
                 "props": "{}"},
            ],
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)
        # listener delivery is async; poll briefly
        import time as _t

        for _ in range(20):
            ld = rec.late_data()
            if ld["rowsDroppedByWatermark"] >= 1:
                break
            _t.sleep(0.5)
        assert ld["rowsDroppedByWatermark"] >= 1
        assert ld["stateRowsTotal"] >= 1  # live window state is visible
    finally:
        spark.streams.removeListener(rec)
