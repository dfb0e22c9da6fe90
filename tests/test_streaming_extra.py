"""Second streaming wave: watermarked stream-stream join, streaming
session windows, exactly-once via idempotent foreachBatch.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from spark_kafka_streaming_spark.streaming.pipeline import file_stream, start_sink


def _emit(src, name, rows):
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _row(eid, ts, uid=1, etype="click", value=1.0):
    return {"event_id": eid, "ts": ts, "user_id": uid,
            "event_type": etype, "value": value, "props": "{}"}


def test_stream_stream_join_with_watermark(spark, tmp_path):
    """Watermarked stream-stream inner join (SURVEY §2b joins row):
    clicks ⋈ purchases per user within a 30-minute event-time range."""
    csrc, psrc = str(tmp_path / "clicks"), str(tmp_path / "purch")
    _emit(csrc, "b1.json", [
        _row(1, "2024-01-01T10:00:00.000000Z", uid=1, etype="click"),
        _row(2, "2024-01-01T11:00:00.000000Z", uid=2, etype="click"),
    ])
    _emit(psrc, "b1.json", [
        _row(10, "2024-01-01T10:10:00.000000Z", uid=1, etype="purchase"),
        _row(11, "2024-01-01T13:00:00.000000Z", uid=2, etype="purchase"),
    ])
    clicks = (
        file_stream(spark, csrc)
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        file_stream(spark, psrc)
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND purchase_ts BETWEEN click_ts "
            "AND click_ts + INTERVAL 30 MINUTES"
        ),
    )
    q = start_sink(joined, "memory", query_name="ssj",
                   checkpoint=str(tmp_path / "ck_ssj"))
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    rows = spark.sql("SELECT c_user FROM ssj").collect()
    # user 1's purchase is 10 min after the click (in range); user 2's is
    # 2 h after (out of range)
    assert [r.c_user for r in rows] == [1]


def test_streaming_session_window(spark, tmp_path):
    """session_window() under readStream (the streaming twin of
    q_window_session_30m)."""
    src = str(tmp_path / "sess")
    _emit(src, "b1.json", [
        _row(1, "2024-01-01T10:00:00.000000Z", uid=7, value=1.0),
        _row(2, "2024-01-01T10:10:00.000000Z", uid=7, value=2.0),
        _row(3, "2024-01-01T12:00:00.000000Z", uid=7, value=4.0),
        # watermark pusher so earlier sessions close
        _row(4, "2024-01-01T15:00:00.000000Z", uid=99, value=0.0),
    ])
    stream = file_stream(spark, src)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
        .select("user_id", F.col("w.start").alias("ws"), "n", "v")
    )
    q = start_sink(agg, "memory", query_name="sess", output_mode="append",
                   checkpoint=str(tmp_path / "ck_sess"))
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    rows = {
        (r.user_id, r.ws.isoformat()): (r.n, r.v)
        for r in spark.sql("SELECT * FROM sess").collect()
    }
    assert rows[(7, "2024-01-01T10:00:00")] == (2, 3.0)  # merged session
    assert rows[(7, "2024-01-01T12:00:00")] == (1, 4.0)  # new session


def test_stream_static_broadcast_enrichment(spark, tmp_path):
    """Stream-static join: a streaming fact enriched against a static
    dimension. The static side is broadcast — each micro-batch is a
    map-side hash join, no shuffle of the stream; the plan every
    dimension-enrichment at 100 TB/day should have."""
    src = str(tmp_path / "enrich")
    _emit(src, "b1.json", [
        _row(1, "2024-01-01T10:00:00.000000Z", etype="click", value=2.0),
        _row(2, "2024-01-01T10:01:00.000000Z", etype="purchase", value=3.0),
        _row(3, "2024-01-01T10:02:00.000000Z", etype="error", value=5.0),
    ])
    dim = spark.createDataFrame(
        [("click", 1.0), ("purchase", 10.0)],
        "event_type string, weight double",
    )
    enriched = (
        file_stream(spark, src)
        .join(F.broadcast(dim), "event_type")  # inner: drops 'error'
        .withColumn("weighted", F.col("value") * F.col("weight"))
        .select("event_id", "event_type", "weighted")
    )
    q = start_sink(enriched, "memory", query_name="enrich",
                   checkpoint=str(tmp_path / "ck_enrich"))
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    rows = {r.event_id: (r.event_type, r.weighted)
            for r in spark.sql("SELECT * FROM enrich").collect()}
    assert rows == {1: ("click", 2.0), 2: ("purchase", 30.0)}


def test_foreachbatch_idempotent_upsert(spark, tmp_path):
    """Exactly-once into a non-transactional store: foreachBatch keyed by
    batch_id — replaying a batch overwrites rather than duplicates (the
    engine's HBase-persistOffset analog, reference
    ...InputDStream.scala:384-415)."""
    src = str(tmp_path / "fb_src")
    out = str(tmp_path / "fb_out")
    _emit(src, "b1.json", [_row(i, "2024-01-01T10:00:00.000000Z", uid=i)
                           for i in range(10)])

    seen_batches = []

    def upsert(df, batch_id):
        seen_batches.append(batch_id)
        # idempotent: partition dir keyed by batch_id, overwritten on replay
        df.write.mode("overwrite").parquet(f"{out}/batch={batch_id}")

    stream = file_stream(spark, src)
    q = start_sink(stream, foreach_batch=upsert,
                   checkpoint=str(tmp_path / "ck_fb"))
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    # simulate sink-side replay of the same epoch: write again with the
    # same batch_id → still exactly one copy
    first = spark.read.json(os.path.join(src, "b1.json"))
    first.write.mode("overwrite").parquet(f"{out}/batch={seen_batches[0]}")
    got = spark.read.parquet(out)
    assert got.count() == 10
    assert got.select("event_id").distinct().count() == 10


def test_available_now_trigger_drains_and_stops(spark, tmp_path):
    """trigger(availableNow=True): process the backlog as bounded
    micro-batches, then stop on its own — the batch-drain mode used for
    catch-up runs of a streaming pipeline."""
    src = str(tmp_path / "an_src")
    _emit(src, "b1.json", [_row(i, "2024-01-01T10:00:00.000000Z", uid=i)
                           for i in range(25)])
    stream = file_stream(spark, src, max_files_per_trigger=1)
    q = start_sink(stream, "parquet", checkpoint=str(tmp_path / "ck_an"),
                   path=str(tmp_path / "an_out"), available_now=True)
    q.awaitTermination(60)
    assert not q.isActive, "availableNow query should self-terminate"
    got = spark.read.parquet(str(tmp_path / "an_out"))
    assert got.count() == 25


def test_partitioned_parquet_sink_layout(spark, tmp_path):
    """partition_by lays the file sink out hive-style so downstream batch
    readers get partition pruning (the 100 TB landing-zone layout)."""
    import glob

    src = str(tmp_path / "part_src")
    out = str(tmp_path / "part_out")
    _emit(src, "b1.json",
          [_row(i, "2024-01-01T10:00:00.000000Z", uid=i) for i in range(4)]
          + [_row(i, "2024-01-02T10:00:00.000000Z", uid=i) for i in range(4, 10)])
    from pyspark.sql import functions as F

    stream = file_stream(spark, src).withColumn("day", F.to_date("ts"))
    q = start_sink(stream, "parquet", checkpoint=str(tmp_path / "ck_part"),
                   path=out, available_now=True, partition_by=["day"])
    q.awaitTermination(60)
    dirs = sorted(os.path.basename(p) for p in glob.glob(f"{out}/day=*"))
    assert dirs == ["day=2024-01-01", "day=2024-01-02"]
    pruned = spark.read.parquet(out).filter(F.col("day") == "2024-01-01")
    assert pruned.count() == 4
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(day" in plan


def test_interval_join_stream_equals_batch_twin(spark, sf_dir, tmp_path):
    """streaming/joins.py interval_join over the replayed events table
    produces exactly the rows of its batch twin
    (q_events_interval_join_click_purchase) — stream and batch are the
    same declarative plan, which is the whole point of the design."""
    from spark_kafka_streaming_spark.queries import REGISTRY
    from spark_kafka_streaming_spark.sources.batch import load_table
    from spark_kafka_streaming_spark.streaming.joins import interval_join

    src = str(tmp_path / "src")
    (
        load_table(spark, sf_dir, "events")
        .select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").alias("ts"),
            "user_id", "event_type", "value", "props",
        )
        .coalesce(1)
        .write.json(src)
    )

    def legs(df):
        p = df.filter(F.col("event_type") == "purchase").select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        c = df.filter(F.col("event_type") == "click").select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        return p, c

    p, c = legs(file_stream(spark, src))
    joined = interval_join(
        p, c, on="user_id", left_ts="purchase_ts", right_ts="click_ts",
        lower_sec=0, upper_sec=1800, watermark="1 hour",
    )
    q = start_sink(joined, "memory", query_name="ivj", output_mode="append",
                   checkpoint=str(tmp_path / "ck"))
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)

    got = {
        (r.user_id, r.purchase_id, r.click_id)
        for r in spark.sql("SELECT * FROM ivj").collect()
    }
    want = {
        (r.user_id, r.purchase_id, r.click_id)
        for r in REGISTRY["q_events_interval_join_click_purchase"]
        .builder(spark, sf_dir)
        .collect()
    }
    assert got == want and len(want) > 0


def test_streaming_quality_filter_equals_batch(spark, tmp_path):
    """The LLM quality-scoring surface is map-only, so it must run
    unchanged under readStream and agree with the batch result row-for-
    row — the stream≡batch parity that lets one pipeline definition
    serve both backfill (batch over parquet) and ingest (stream off
    Kafka)."""
    import json as _json

    from spark_kafka_streaming_spark.operators.text import (
        language_id,
        quality_score,
    )

    rows = [
        {"doc_id": 1, "text": "the quick brown fox jumps over the lazy dog"},
        {"doc_id": 2, "text": "aaaa aaaa aaaa aaaa aaaa aaaa"},
        {"doc_id": 3, "text": "le chat et le chien sont dans le jardin"},
        {"doc_id": 4, "text": "x"},
    ]
    src = tmp_path / "docs_stream"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in rows))

    schema = "doc_id BIGINT, text STRING"

    def pipeline(df):
        return language_id(quality_score(df)).select(
            "doc_id", "quality", "lang_pred"
        )

    batch = {
        r.doc_id: (r.quality, r.lang_pred)
        for r in pipeline(spark.read.schema(schema).json(str(src))).collect()
    }

    stream = spark.readStream.schema(schema).json(str(src))
    q = (
        pipeline(stream)
        .writeStream.format("memory")
        .queryName("qf_parity")
        .option("checkpointLocation", str(tmp_path / "ck_qf"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    streamed = {
        r.doc_id: (r.quality, r.lang_pred)
        for r in spark.sql("SELECT * FROM qf_parity").collect()
    }
    assert streamed == batch and len(streamed) == 4


def test_incremental_inverted_index_equals_batch(spark, sf_dir, tmp_path):
    """Streaming twin of the search tier (VERDICT r3 #7): the
    foreachBatch-maintained (term, doc_id, tf) partial store, merged
    and run through the SAME rank-capped derivation, must reproduce
    the one-shot batch inverted index exactly — including after
    compaction folds the per-batch partials into a single base."""
    import json as _json

    from spark_kafka_streaming_spark.operators import index as IX
    from spark_kafka_streaming_spark.streaming.incremental_index import (
        IncrementalIndexer,
    )

    docs = [
        {"doc_id": r["doc_id"], "text": r["text"]}
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(60)
        .collect()
    ]
    src = tmp_path / "docs"
    src.mkdir()
    half = len(docs) // 2
    (src / "b0.json").write_text(
        "\n".join(_json.dumps(r) for r in docs[:half])
    )
    (src / "b1.json").write_text(
        "\n".join(_json.dumps(r) for r in docs[half:])
    )

    indexer = IncrementalIndexer(str(tmp_path / "ix_store"))
    stream = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(indexer)
        .option("checkpointLocation", str(tmp_path / "ck_ix"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch_df = spark.createDataFrame(docs, "doc_id BIGINT, text STRING")
    want = [tuple(r) for r in IX.inverted_index(IX.term_doc_tf(batch_df)).collect()]
    assert len(want) > 0
    got = [tuple(r) for r in indexer.snapshot(spark).collect()]
    assert got == want  # both ordered by term

    # the store really is incremental (one leaf per micro-batch)…
    import glob

    batches = {
        p.rsplit("batch=", 1)[1]
        for p in glob.glob(str(tmp_path / "ix_store" / "tb=*" / "batch=*"))
    }
    assert batches == {"0", "1"}
    # …and compaction preserves the index bit-for-bit
    indexer.compact(spark)
    assert [tuple(r) for r in indexer.snapshot(spark).collect()] == want

    # BM25 serving loop: ranks AND scores served from the maintained
    # store are bit-identical to the batch scorer over the same docs
    # (same shared expressions, different per_doc derivation).
    from pyspark.sql import functions as F

    from spark_kafka_streaming_spark.functions import texthash as TH

    tok = spark.createDataFrame(docs, "doc_id BIGINT, text STRING").select(
        "doc_id", F.explode(F.expr(TH.spark_tokens("text"))).alias("term")
    )
    per_doc = tok.groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        *[
            F.expr(IX.bm25_tf_case(t)).cast("bigint").alias(f"tf_{t}")
            for t in IX.BM25_TERMS
        ],
    )
    want_bm25 = [tuple(r) for r in IX.bm25_score_per_doc(per_doc).collect()]
    got_bm25 = [tuple(r) for r in indexer.bm25_snapshot(spark).collect()]
    assert len(want_bm25) > 0
    assert got_bm25 == want_bm25

    # heavy-hitter serving loop: exact phi-heavy hitters from the
    # maintained store are bit-identical to the batch 2-pass operator
    # (q_text_heavy_hitters) over the same docs — counts, fracs, set.
    from spark_kafka_streaming_spark.operators.sketches import (
        heavy_hitters_exact,
    )

    phi = 0.01
    want_hh = sorted(
        tuple(r)
        for r in heavy_hitters_exact(
            tok.select(F.col("term").alias("token")), "token", phi=phi
        ).collect()
    )
    got_hh = sorted(
        tuple(r)
        for r in indexer.heavy_hitters_snapshot(spark, phi=phi).collect()
    )
    assert len(want_hh) > 0
    assert got_hh == want_hh


def test_incremental_moments_equals_batch(spark, sf_dir, tmp_path):
    """Streaming twin of q_stats_moments_merge: per-micro-batch exact
    partials (n, Σc, Σc²) folded in foreachBatch reproduce the one-shot
    batch moments exactly — the same merge the shuffle's map-side
    combine performs, applied across time."""
    import json as _json

    from pyspark.sql import functions as F

    rows = [
        {"event_type": r["event_type"], "c": r["c"]}
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .where("value IS NOT NULL")
        .selectExpr(
            "event_type", "CAST(floor(value * 100 + 0.5) AS BIGINT) AS c"
        )
        .limit(400)
        .collect()
    ]
    src = tmp_path / "mom"
    src.mkdir()
    half = len(rows) // 2
    (src / "b0.json").write_text("\n".join(_json.dumps(r) for r in rows[:half]))
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in rows[half:]))

    acc: dict = {}

    def absorb(df, epoch_id):
        for r in (
            df.groupBy("event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum("c").alias("s1"),
                F.sum(F.expr("c * c")).alias("s2"),
            )
            .collect()
        ):
            n, s1, s2 = acc.get(r["event_type"], (0, 0, 0))
            acc[r["event_type"]] = (n + r["n"], s1 + r["s1"], s2 + r["s2"])

    q = (
        spark.readStream.schema("event_type STRING, c BIGINT")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
        .writeStream.foreachBatch(absorb)
        .option("checkpointLocation", str(tmp_path / "ck_mom"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = {
        r["event_type"]: (r["n"], r["s1"], r["s2"])
        for r in spark.createDataFrame(rows, "event_type STRING, c BIGINT")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("c").alias("s1"),
            F.sum(F.expr("c * c")).alias("s2"),
        )
        .collect()
    }
    assert acc == batch


def test_incremental_cdc_merge_equals_batch(spark, tmp_path):
    """Streaming CDC upsert (VERDICT family: foreachBatch maintenance
    loops): applying change batches through IncrementalMerger must
    leave the snapshot equal to a one-shot merge of all changes, only
    touched key-buckets are rewritten per trigger, and replaying a
    batch (crash recovery) is a no-op because the feed is absolute."""
    import json as _json

    from spark_kafka_streaming_spark.streaming.incremental_merge import (
        IncrementalMerger,
    )

    # seed snapshot: keys 0..19
    seed = spark.createDataFrame(
        [(i, f"v{i}", float(i)) for i in range(20)],
        "k long, name string, amount double",
    )
    store = str(tmp_path / "snap")
    merger = IncrementalMerger(store, key_col="k", n_key_buckets=8)
    merger(
        seed.selectExpr("k", "'U' AS op", "name", "amount"), 0
    )
    assert sorted(map(tuple, merger.snapshot(spark).collect())) == sorted(
        map(tuple, seed.collect())
    )

    # change feed: delete 3, update 5, insert 100 — then a second batch
    b1 = [
        {"k": 3, "op": "D", "name": None, "amount": None},
        {"k": 5, "op": "U", "name": "v5x", "amount": 55.0},
        {"k": 100, "op": "U", "name": "new", "amount": 1.0},
    ]
    b2 = [
        {"k": 5, "op": "D", "name": None, "amount": None},
        {"k": 101, "op": "U", "name": "new2", "amount": 2.0},
    ]
    src = tmp_path / "cdc"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in b1))
    (src / "b2.json").write_text("\n".join(_json.dumps(r) for r in b2))

    stream = (
        spark.readStream.schema(
            "k LONG, op STRING, name STRING, amount DOUBLE"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda df, bid: merger(df, bid + 1)
        )
        .option("checkpointLocation", str(tmp_path / "ck_cdc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r["k"]: (r["name"], r["amount"]) for r in merger.snapshot(
        spark
    ).collect()}
    want = {i: (f"v{i}", float(i)) for i in range(20)}
    del want[3]
    del want[5]  # updated in b1, deleted in b2
    want[100] = ("new", 1.0)
    want[101] = ("new2", 2.0)
    assert got == want

    # replay idempotence: re-apply b2 directly — snapshot unchanged
    merger(
        spark.createDataFrame(
            b2, "k LONG, op STRING, name STRING, amount DOUBLE"
        ),
        99,
    )
    got2 = {r["k"]: (r["name"], r["amount"]) for r in merger.snapshot(
        spark
    ).collect()}
    assert got2 == want

    # bucket pruning: a 1-key change must leave every untouched kb
    # directory's mtime alone (only its own bucket is swapped)
    import os as _os

    def mtimes():
        return {
            d: _os.path.getmtime(_os.path.join(store, d))
            for d in _os.listdir(store)
            if d.startswith("kb=")
        }

    before = mtimes()
    merger(
        spark.createDataFrame(
            [{"k": 101, "op": "U", "name": "new2b", "amount": 3.0}],
            "k LONG, op STRING, name STRING, amount DOUBLE",
        ),
        100,
    )
    after = mtimes()
    changed = {d for d in before if after.get(d) != before[d]}
    assert len(changed) == 1  # exactly key 101's bucket


def test_incremental_cdc_merge_seq_col_order(spark, tmp_path):
    """Same-key changes within ONE micro-batch resolve by the feed's
    sequence column when declared: an ordered update-then-delete keeps
    the delete (and delete-then-update keeps the update) — the
    snapshot equals replaying the feed in order.  Without seq_col the
    documented op-desc determinism tiebreak applies ('U' wins)."""
    from spark_kafka_streaming_spark.streaming.incremental_merge import (
        IncrementalMerger,
    )

    schema = "k LONG, op STRING, seq LONG, name STRING"
    batch = spark.createDataFrame(
        [
            (1, "U", 10, "first"),
            (1, "D", 11, None),     # later delete must win for k=1
            (2, "D", 20, None),
            (2, "U", 21, "back"),   # later update must win for k=2
            (3, "U", 30, "only"),
        ],
        schema,
    )

    store = str(tmp_path / "snap_seq")
    merger = IncrementalMerger(
        store, key_col="k", n_key_buckets=4, seq_col="seq"
    )
    merger(batch, 0)
    got = {r["k"]: r["name"] for r in merger.snapshot(spark).collect()}
    assert got == {2: "back", 3: "only"}
    # seq is metadata, not snapshot state
    assert set(merger.snapshot(spark).columns) == {"k", "name"}

    # without seq_col: op-desc tiebreak — 'U' beats 'D' per key
    store2 = str(tmp_path / "snap_noseq")
    merger2 = IncrementalMerger(store2, key_col="k", n_key_buckets=4)
    merger2(batch.drop("seq"), 0)
    got2 = {r["k"]: r["name"] for r in merger2.snapshot(spark).collect()}
    assert got2 == {1: "first", 2: "back", 3: "only"}


def test_incremental_span_dedup_equals_batch(spark, sf_dir, tmp_path):
    """Streaming twin of the span tier (VERDICT r5 #7): the
    foreachBatch-maintained (h, cnt, canon) window-hash partial store,
    merged by (sum, min) and run through the SAME span_stats_from
    derivation, must reproduce the one-shot batch
    substring_span_stats exactly — including after compaction."""
    import glob
    import json as _json

    from spark_kafka_streaming_spark.operators.dedup import (
        substring_span_stats,
    )
    from spark_kafka_streaming_spark.streaming.incremental_spans import (
        IncrementalSpanDeduper,
    )

    docs = [
        {"doc_id": r["doc_id"], "text": r["text"]}
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(80)
        .collect()
    ]
    src = tmp_path / "docs"
    src.mkdir()
    half = len(docs) // 2
    (src / "b0.json").write_text("\n".join(_json.dumps(r) for r in docs[:half]))
    (src / "b1.json").write_text("\n".join(_json.dumps(r) for r in docs[half:]))

    deduper = IncrementalSpanDeduper(str(tmp_path / "span_store"), w=5)
    stream = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(deduper)
        .option("checkpointLocation", str(tmp_path / "ck_span"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch_df = spark.createDataFrame(docs, "doc_id BIGINT, text STRING")
    want = sorted(
        tuple(r) for r in substring_span_stats(batch_df, w=5).collect()
    )
    assert len(want) == len(docs)
    assert any(r[3] > 0 for r in want), "corpus should contain dup windows"
    got = sorted(
        tuple(r) for r in deduper.span_stats(batch_df).collect()
    )
    assert got == want

    # the store really is incremental (one leaf per micro-batch)…
    batches = {
        p.rsplit("batch=", 1)[1]
        for p in glob.glob(str(tmp_path / "span_store" / "hb=*" / "batch=*"))
    }
    assert batches == {"0", "1"}
    # …and compaction preserves the stats bit-for-bit
    deduper.compact(spark)
    assert sorted(
        tuple(r) for r in deduper.span_stats(batch_df).collect()
    ) == want

    # serving question: stats for JUST the second half against the
    # full ingested corpus — same rows as the full-corpus snapshot
    # restricted to those docs (state is corpus-global).
    second = spark.createDataFrame(docs[half:], "doc_id BIGINT, text STRING")
    got2 = sorted(tuple(r) for r in deduper.span_stats(second).collect())
    want2 = [r for r in want if r[0] >= docs[half]["doc_id"]]
    assert got2 == sorted(want2)


def test_incremental_vector_index_equals_batch(spark, sf_dir, tmp_path):
    """Streaming twin of the similarity tier (the maintenance family's
    fifth member): the foreachBatch-maintained cell-assigned vector
    store, served via probe-and-score, must reproduce the batch
    ivf_topk over everything ingested bit-for-bit — same pinned
    centroid snapshot, both impls, and again after compaction."""
    import glob
    import shutil as _sh

    from pyspark.sql import functions as F

    from spark_kafka_streaming_spark.operators.similarity import ivf_topk
    from spark_kafka_streaming_spark.streaming.incremental_vectors import (
        IncrementalVectorIndexer,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(120)
    )
    emb.persist().count()
    ids = [r["vec_id"] for r in emb.select("vec_id").collect()]
    mid = ids[len(ids) // 2]

    src = tmp_path / "vecs"
    src.mkdir()
    for i, half in enumerate(
        (emb.filter(F.col("vec_id") < mid), emb.filter(F.col("vec_id") >= mid))
    ):
        part_dir = tmp_path / f"half{i}"
        half.coalesce(1).write.parquet(str(part_dir))
        (part,) = glob.glob(str(part_dir / "part-*.parquet"))
        _sh.copy(part, str(src / f"b{i}.parquet"))

    indexer = IncrementalVectorIndexer(
        str(tmp_path / "vstore"), n_cells=8, n_assign=2
    )
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        stream.writeStream.foreachBatch(indexer)
        .option("checkpointLocation", str(tmp_path / "ck_vec"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    queries = emb.filter(F.col("vec_id").isin(ids[:10]))
    got = sorted(map(tuple, indexer.topk(queries, k=5, n_probe=3).collect()))
    assert len(got) == 50

    # the store serves through the SQL assigner and cell join; batch
    # ivf_topk scores the same snapshot with the Arrow kernels
    cents = indexer.centroids(spark)
    want = sorted(
        map(
            tuple,
            ivf_topk(
                queries, emb, k=5, n_probe=3, n_assign=2, centroids=cents
            ).collect(),
        )
    )
    assert got == want, "store-served != batch ivf_topk"

    # the store really is incremental (per-micro-batch leaves under
    # each cell)…
    batches = {
        p.rsplit("batch=", 1)[1]
        for p in glob.glob(str(tmp_path / "vstore" / "cells" / "cell=*" / "batch=*"))
    }
    assert batches == {"0", "1"}
    # …with each (cell, batch) leaf holding exactly ONE data file: the
    # ingest write co-locates a cell's rows in one task (repartition by
    # cell) so leaves never multiply with the batch's task count —
    # without it the write is O(tasks × cells) files per trigger
    # (measured live at the fourth decade: 16,734 files / 731 s per
    # 20k-vector trigger at 1,414 cells).
    for leaf in glob.glob(
        str(tmp_path / "vstore" / "cells" / "cell=*" / "batch=*")
    ):
        n_files = len(glob.glob(os.path.join(leaf, "part-*")))
        assert n_files == 1, f"{leaf}: {n_files} files (want 1)"
    # …and compaction preserves served results bit-for-bit
    indexer.compact(spark)
    assert (
        sorted(map(tuple, indexer.topk(queries, k=5, n_probe=3).collect()))
        == got
    )
    emb.unpersist()


def test_incremental_vector_index_empty_first_batch(spark, sf_dir, tmp_path):
    """An empty micro-batch 0 must not become the centroid snapshot:
    the store trains from the first non-empty batch, keeps ingesting
    after a restart with a fresh indexer on the same root, and serves
    the batch ivf_topk over everything ingested."""
    import glob
    import shutil as _sh

    from spark_kafka_streaming_spark.operators.similarity import ivf_topk
    from spark_kafka_streaming_spark.streaming.incremental_vectors import (
        IncrementalVectorIndexer,
    )

    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(90)
    )
    emb.persist().count()
    src = tmp_path / "vecs"
    src.mkdir()

    def stage(i, df):
        part_dir = tmp_path / f"part{i}"
        df.coalesce(1).write.parquet(str(part_dir))
        (part,) = glob.glob(str(part_dir / "part-*.parquet"))
        dst = str(src / f"b{i}.parquet")
        _sh.copy(part, dst)
        # the file source orders by mtime: keep the staging order
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))

    def drain(indexer):
        q = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .writeStream.foreachBatch(indexer)
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert q.exception() is None

    root = str(tmp_path / "vstore")
    stage(0, emb.filter(F.lit(False)))
    stage(1, emb.filter(F.col("vec_id") < 60))
    drain(IncrementalVectorIndexer(root, n_cells=8, n_assign=2))
    restarted = IncrementalVectorIndexer(root, n_cells=8, n_assign=2)
    assert restarted.centroids(spark).count() == 8
    stage(2, emb.filter(F.col("vec_id") >= 60))
    drain(restarted)

    queries = emb.filter(F.col("vec_id") < 10)
    got = sorted(map(tuple, restarted.topk(queries, k=5, n_probe=3).collect()))
    want = sorted(
        map(
            tuple,
            ivf_topk(
                queries,
                emb,
                k=5,
                n_probe=3,
                n_assign=2,
                centroids=restarted.centroids(spark),
            ).collect(),
        )
    )
    assert len(got) == 50
    assert got == want
    emb.unpersist()


def test_hybrid_rrf_served_from_stores_equals_batch(spark, sf_dir, tmp_path):
    """The hybrid-retrieval serving loop: RRF fusion of the maintained
    lexical store (bm25_snapshot) and vector store (topk) must equal
    rrf_fuse over the batch legs — same shared expressions end-to-end,
    so the stream-served hybrid ranking is bit-identical to a batch
    rebuild over everything ingested."""
    import glob
    import json as _json
    import shutil as _sh

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from spark_kafka_streaming_spark.functions import texthash as TH
    from spark_kafka_streaming_spark.operators import index as IX
    from spark_kafka_streaming_spark.operators.similarity import ivf_topk
    from spark_kafka_streaming_spark.streaming.incremental_index import (
        IncrementalIndexer,
    )
    from spark_kafka_streaming_spark.streaming.incremental_vectors import (
        IncrementalVectorIndexer,
    )
    from spark_kafka_streaming_spark.streaming.serving import (
        hybrid_rrf_from_stores,
    )

    # lexical store: 60 docs over 2 micro-batches
    docs = [
        {"doc_id": r["doc_id"], "text": r["text"]}
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(60)
        .collect()
    ]
    dsrc = tmp_path / "docs"
    dsrc.mkdir()
    (dsrc / "b0.json").write_text("\n".join(_json.dumps(r) for r in docs[:30]))
    (dsrc / "b1.json").write_text("\n".join(_json.dumps(r) for r in docs[30:]))
    indexer = IncrementalIndexer(str(tmp_path / "ix"))
    q1 = (
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .json(str(dsrc))
        .writeStream.foreachBatch(indexer)
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True)
        .start()
    )
    q1.awaitTermination(120)

    # vector store: 120 vectors over 2 micro-batches
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(120)
    )
    emb.persist().count()
    vsrc = tmp_path / "vecs"
    vsrc.mkdir()
    for i, half in enumerate(
        (emb.filter("vec_id < 60"), emb.filter("vec_id >= 60"))
    ):
        pdir = tmp_path / f"vh{i}"
        half.coalesce(1).write.parquet(str(pdir))
        (part,) = glob.glob(str(pdir / "part-*.parquet"))
        _sh.copy(part, str(vsrc / f"b{i}.parquet"))
    vindexer = IncrementalVectorIndexer(
        str(tmp_path / "vstore"), n_cells=8, n_assign=2
    )
    q2 = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(vsrc))
        .writeStream.foreachBatch(vindexer)
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)

    queries = emb.filter("vec_id = 0")
    got = hybrid_rrf_from_stores(
        indexer, vindexer, queries, spark, leg_k=20, topk=10, n_probe=3
    ).collect()

    # batch twin: same shared expressions, batch-derived legs
    bdf = spark.createDataFrame(docs, "doc_id BIGINT, text STRING")
    tok = bdf.select(
        "doc_id", F.explode(F.expr(TH.spark_tokens("text"))).alias("term")
    )
    per_doc = tok.groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        *[
            F.expr(IX.bm25_tf_case(t)).cast("bigint").alias(f"tf_{t}")
            for t in IX.BM25_TERMS
        ],
    )
    w = Window.orderBy(F.desc("score"), "doc_id")
    bm = (
        IX.bm25_score_per_doc(per_doc, topk=20)
        .withColumn("bm25_rank", F.row_number().over(w).cast("int"))
        .select("doc_id", "bm25_rank")
    )
    cv = ivf_topk(
        queries, emb, k=20, n_probe=3, n_assign=2,
        centroids=vindexer.centroids(spark),
    ).select(
        F.col("neighbor_id").alias("id"),
        F.col("rn").cast("int").alias("cos_rank"),
    )
    want = IX.rrf_fuse(bm, cv, topk=10).collect()
    assert len(got) == 10
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    emb.unpersist()
