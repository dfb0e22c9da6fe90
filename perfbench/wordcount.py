"""wordcount_backlog: replay a staged backlog through the windowed word
count (file stream -> decode fan-out -> windowed state -> parquet sink)
with a ProgressRecorder attached, one trigger per staged file."""

from __future__ import annotations

import os
import shutil
import time
from datetime import datetime

import duckdb

from perfbench import gen
from perfbench.harness import Tracer, job_counts, median

PER_FILE = 200
#: Files in each warm-up drain: a short cold one, then a longer one over
#: which the per-trigger time settles (with 8 it still fell by a sixth
#: across the timed drain).
WARM_FILES = (2, 16)
#: The fixed work of a run: one trigger per staged file.
TIMED_FILES = 24
BASELINE_FILES = 6
WINDOW, SLIDE, WATERMARK = "10 minutes", "1 minute", "10 minutes"
DRAIN_TIMEOUT_S = 150
#: Per-trigger state-store counters kept in the sidecar.
STATE_KEYS = ("numRowsTotal", "numRowsUpdated", "allUpdatesTimeMs", "commitTimeMs")


def _iso_ms(s: str) -> float:
    return datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp() * 1e3


def _data_triggers(events: list[dict]) -> list[dict]:
    """Progress events of the triggers that read input."""
    return [e for e in events if (e.get("numInputRows") or 0) > 0]


def _rate(data: list[dict]) -> float:
    """Input rows per second from the first trigger's start to the last
    trigger's end."""
    start = _iso_ms(data[0]["timestamp"])
    end = _iso_ms(data[-1]["timestamp"]) + data[-1]["durationMs"]["triggerExecution"]
    return sum(e["numInputRows"] for e in data) / ((end - start) / 1e3)


class Workload:
    name = "wordcount_backlog"

    def __init__(self, spark, work: str, seed: int):
        from spark_kafka_streaming_spark.streaming.monitor import ProgressRecorder

        self.spark = spark
        self.work = work
        self.seed = seed
        self.n_files = TIMED_FILES
        self.recorder = ProgressRecorder()
        spark.streams.addListener(self.recorder)
        self.drains = 0
        self.main: dict | None = None

    # ------------------------------------------------------------ inputs
    def stage(self) -> None:
        for i, n in enumerate(WARM_FILES):
            warm = gen.wordcount_records(self.seed + 1_000_003 + i, n * PER_FILE)
            gen.stage_files(warm, os.path.join(self.work, f"warm_in{i}"), PER_FILE)
        main = gen.wordcount_records(self.seed, self.n_files * PER_FILE)
        gen.stage_files(main, os.path.join(self.work, "main_in"), PER_FILE)
        self.n_records = main.num_rows

    # ------------------------------------------------------------- drain
    def drain(self, src: str, tracer) -> dict:
        """One availableNow drain of ``src`` into a fresh sink; returns
        the drain's progress events."""
        from pyspark.sql import types as T

        from spark_kafka_streaming_spark.streaming.decode import token_counts_windowed
        from spark_kafka_streaming_spark.streaming.pipeline import file_stream, start_sink

        self.drains += 1
        out = os.path.join(self.work, f"sink{self.drains}")
        ck = os.path.join(self.work, f"ck{self.drains}")
        schema = T.StructType(
            [
                T.StructField("key", T.StringType()),
                T.StructField("value", T.StringType()),
                T.StructField("timestamp", T.TimestampType()),
            ]
        )
        with tracer.span("pipeline.file_stream"):
            df = file_stream(self.spark, src, schema, fmt="parquet", max_files_per_trigger=1)
        with tracer.span("decode.token_counts_windowed"):
            counts = token_counts_windowed(df, WINDOW, SLIDE, WATERMARK, "timestamp")
        with tracer.span("pipeline.start_sink"):
            q = start_sink(
                counts, sink="parquet", path=out, checkpoint=ck,
                output_mode="append", available_now=True,
            )
        with tracer.span("pipeline.await"):
            finished = q.awaitTermination(DRAIN_TIMEOUT_S)
            if not finished:
                q.stop()
        run_id = str(q.runId)
        expected = len(q.recentProgress)
        with tracer.span("monitor.collect"):
            deadline = time.time() + 10
            while time.time() < deadline:
                events = [e for e in self.recorder.events if e.get("runId") == run_id]
                if len(events) >= expected:
                    break
                time.sleep(0.05)
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        if not finished:
            raise TimeoutError(f"drain of {src} stalled past {DRAIN_TIMEOUT_S}s")
        return {"events": events, "out": out, "run_id": run_id}

    def warmup_iter(self, i: int, tracer) -> list[float]:
        d = self.drain(os.path.join(self.work, f"warm_in{i}"), tracer)
        return [float(e["durationMs"]["triggerExecution"]) for e in _data_triggers(d["events"])]

    warmup_iters = len(WARM_FILES)

    # ------------------------------------------------------------- timed
    def timed(self, tracer) -> dict:
        """The fixed work: one drain of the main backlog.  An op is one
        data-carrying trigger, timed by its ``triggerExecution``.

        Traced, the backlog drains three times, untraced, traced and
        untraced again; the overhead compares the traced drain's wall
        time with the mean of the other two, which cancels the linear
        part of the warm-up drift that is left."""
        if not tracer.enabled:
            return self._drain_main(tracer)
        before, d, after = (self._drain_main(t) for t in (Tracer(), tracer, Tracer()))
        self.traced = d
        d["overhead_pct"] = 100.0 * (2 * d["wall_s"] / (before["wall_s"] + after["wall_s"]) - 1)
        d["attempted"] += before["attempted"] + after["attempted"]
        d["failed"] += before["failed"] + after["failed"]
        return d

    def _drain_main(self, tracer) -> dict:
        t0 = time.perf_counter()
        d = self.drain(os.path.join(self.work, "main_in"), tracer)
        wall = time.perf_counter() - t0
        data = _data_triggers(d["events"])
        lat = [float(e["durationMs"]["triggerExecution"]) for e in data]
        d.update(
            wall_s=wall,
            latencies_ms=lat,
            rounds=lat,
            items=sum(e["numInputRows"] for e in data),
            items_per_s=_rate(data),
            attempted=self.n_files,
            failed=max(0, self.n_files - len(data)),
            detail=[
                {**e["durationMs"], **{k: e["stateOperators"][0].get(k) for k in STATE_KEYS}}
                for e in data
            ],
        )
        if self.main is None:
            self.main = d
        return d

    # ------------------------------------------------------------ checks
    def check(self) -> dict[str, bool]:
        """Sink output == a DuckDB batch word count over the windows the
        final recorded watermark closed; nothing left unconsumed."""
        d = self.main
        wm = d["events"][-1]["eventTime"].get("watermark")
        wm_us = int(_iso_ms(wm) * 1000)
        src = os.path.join(self.work, "main_in", "*.parquet")
        out = os.path.join(d["out"], "*.parquet")
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        slide = 60_000_000
        ref = con.execute(
            f"""
            WITH tok AS (
              SELECT epoch_us("timestamp") AS t, unnest(string_split(value, ' ')) AS word
              FROM read_parquet('{src}')),
            win AS (
              SELECT (t // {slide}) * {slide} - k * {slide} AS ws, word
              FROM tok, range(10) r(k))
            SELECT ws, ws + {10 * slide} AS we, word, count(*) AS n FROM win
            WHERE word <> '' AND ws + {10 * slide} <= {wm_us}
            GROUP BY ALL ORDER BY ALL"""
        ).fetchall()
        got = con.execute(
            f"""SELECT epoch_us(ws), epoch_us(we), word, n FROM read_parquet('{out}')
            ORDER BY ALL"""
        ).fetchall()
        rows = sum(int(e.get("numInputRows") or 0) for e in d["events"])
        dropped = sum(
            int(op.get("numRowsDroppedByWatermark") or 0)
            for e in d["events"]
            for op in e.get("stateOperators") or []
        )
        return {
            "wordcount_equals_batch": got == ref and len(got) > 0,
            "backlog_fully_consumed": rows == self.n_records,
            "no_late_drops": dropped == 0,
        }

    # ------------------------------------------------------------ layers
    def layers(self, tracer) -> dict[str, float]:
        from spark_kafka_streaming_spark.streaming.decode import explode_tokens

        d = self.traced
        data = _data_triggers(d["events"])

        def dur(key: str) -> float:
            return median([float(e["durationMs"].get(key, 0)) for e in data])

        def st(key: str) -> list[float]:
            return [float(e["stateOperators"][0].get(key) or 0) for e in data]

        gaps = []
        for a, b in zip(data, data[1:]):
            end_a = _iso_ms(a["timestamp"]) + a["durationMs"]["triggerExecution"]
            gaps.append(_iso_ms(b["timestamp"]) - end_a)
        jobs, tasks = job_counts(self.spark, d["run_id"])
        with tracer.span("decode.explode_tokens"):
            raw = self.spark.read.parquet(os.path.join(self.work, "main_in"))
            n_tok = explode_tokens(raw).count()
        rows = sum(int(e.get("numInputRows") or 0) for e in d["events"])
        mem = st("memoryUsedBytes")
        return {
            "pipeline.latest_offset_ms": dur("latestOffset"),
            "pipeline.get_batch_ms": dur("getBatch"),
            "pipeline.query_planning_ms": dur("queryPlanning"),
            "pipeline.add_batch_ms": dur("addBatch"),
            "pipeline.wal_commit_ms": dur("walCommit"),
            "pipeline.commit_offsets_ms": dur("commitOffsets"),
            "pipeline.gap_ms": median(gaps),
            "state.rows_total": st("numRowsTotal")[-1],
            "state.rows_updated": median(st("numRowsUpdated")),
            "state.update_ms": median(st("allUpdatesTimeMs")),
            "state.commit_ms": median(st("commitTimeMs")),
            "state.memory_bytes": max(mem),
            "decode.tokens_per_record": n_tok / self.n_records,
            "monitor.progress_events": float(len(d["events"])),
            "monitor.unconsumed_records": float(self.n_records - rows),
            "spark.jobs_per_op": jobs / len(data),
            "spark.tasks_per_op": tasks / len(data),
        }

    def baseline(self, spark_factory) -> dict[str, float]:
        """The same drain on a single executor thread over the first
        ``BASELINE_FILES`` staged files, after one warm-up drain.  The
        speedup compares median trigger times, so the two drains need
        not be the same length."""
        self.spark = spark_factory(1)
        self.spark.streams.addListener(self.recorder)
        src = os.path.join(self.work, "base_in")
        os.makedirs(src, exist_ok=True)
        for i in range(BASELINE_FILES):
            f = f"part-{i:05d}.parquet"
            shutil.copy2(os.path.join(self.work, "main_in", f), os.path.join(src, f))
        self.drain(os.path.join(self.work, "warm_in0"), Tracer())
        data = _data_triggers(self.drain(src, Tracer())["events"])
        lat1 = median([float(e["durationMs"]["triggerExecution"]) for e in data])
        return {
            "baseline.local1_items_per_s": _rate(data),
            "baseline.speedup": lat1 / median(self.main["latencies_ms"]),
        }
