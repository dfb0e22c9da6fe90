"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import pytest

from perfbench import gen, harness, run
from perfbench.spec import END_TO_END, PER_LAYER, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _digest(tables) -> str:
    h = hashlib.sha256()
    for t in tables:
        for batch in t.to_batches():
            for col in batch.columns:
                for buf in col.buffers():
                    h.update(b"" if buf is None else buf.to_pybytes())
    return h.hexdigest()


def _file_digest(paths) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def test_wordcount_records_same_seed_same_bytes(tmp_path):
    a = gen.wordcount_records(7, 900)
    b = gen.wordcount_records(7, 900)
    assert _digest([a]) == _digest([b])
    assert _digest([a]) != _digest([gen.wordcount_records(8, 900)])
    fa = gen.stage_files(a, str(tmp_path / "a"), 200)
    fb = gen.stage_files(b, str(tmp_path / "b"), 200)
    assert len(fa) == 5
    assert _file_digest(fa) == _file_digest(fb)


def test_wordcount_records_stay_inside_the_watermark():
    t = gen.wordcount_records(3, 5000)
    ts = t.column("timestamp").cast("int64").to_numpy()
    running_max = ts[0]
    for x in ts:
        running_max = max(running_max, x)
        assert running_max - x < 10 * 60 * 1_000_000


def test_documents_same_seed_same_bytes(tmp_path):
    a = gen.documents_table(gen.documents(5, 300))
    b = gen.documents_table(gen.documents(5, 300))
    assert _digest([a]) == _digest([b])
    assert _digest([a]) != _digest([gen.documents_table(gen.documents(6, 300))])
    gen.write_parquet(a, str(tmp_path / "a.parquet"))
    gen.write_parquet(b, str(tmp_path / "b.parquet"))
    assert _file_digest([tmp_path / "a.parquet"]) == _file_digest([tmp_path / "b.parquet"])


def test_documents_plant_near_duplicates():
    cols = gen.documents(11, 2000)
    texts = cols["text"]
    seen: set[str] = set()
    copies = 0
    for t in texts:
        head = " ".join(t.split(" ")[:8])
        copies += head in seen
        seen.add(head)
    # ~8 % mutated copies keep most of their source's opening words
    assert 0.03 < copies / len(texts) < 0.2


def test_catalog_tables_are_fixed():
    a = gen.catalog_tables()
    b = gen.catalog_tables()
    assert list(a) == list(b)
    assert _digest(a.values()) == _digest(b.values())


@pytest.mark.parametrize("n", [21, 22, 40, 57, 100, 333])
def test_tail_keeps_ten_samples_beyond(n):
    rng = random.Random(n)
    xs = [rng.random() for _ in range(n)]
    value, pct = harness.tail(xs)
    assert sum(1 for x in xs if x > value) >= harness.TAIL_BEYOND
    assert value >= harness.median(xs)
    assert 50.0 <= pct < 100.0


def test_scaled_percentiles_of_one_kind_are_the_plain_ones():
    rng = random.Random(4)
    xs = [rng.uniform(500, 900) for _ in range(24)]
    p50, tail, pct = harness.scaled_percentiles({"op": xs})
    assert p50 == pytest.approx(harness.median(xs))
    assert (tail, pct) == pytest.approx(harness.tail(xs))


def test_scaled_percentiles_weigh_every_kind():
    rng = random.Random(5)
    costs = {"a": 100.0, "b": 400.0, "c": 1600.0, "d": 200.0, "e": 800.0}
    groups = {k: [c * rng.uniform(0.9, 1.1) for _ in range(5)] for k, c in costs.items()}
    p50, tail, _ = harness.scaled_percentiles(groups)
    # about the geometric mean of the kind costs, not one kind's cluster
    assert p50 == pytest.approx(400.0, rel=0.1)
    # five samples a kind leave no pile-up of equal ratios at the middle
    assert tail > p50
    # slowing one kind down moves both percentiles
    slow = dict(groups, a=[2 * x for x in groups["a"]])
    slow_p50, slow_tail, _ = harness.scaled_percentiles(slow)
    assert slow_p50 > 1.1 * p50 and slow_tail > 1.1 * tail


def test_tail_refuses_too_few_samples():
    with pytest.raises(ValueError):
        harness.tail([1.0] * (2 * harness.TAIL_BEYOND))


def test_benchmark_json_matches_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == PER_LAYER
    assert bench["paths"] == ["perfbench"]
    for m in bench["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    assert max(m["bound"] for m in bench["end_to_end"]) == next(
        m["bound"] for m in bench["end_to_end"] if m["name"] == "setup_s"
    )


@pytest.mark.parametrize("spec", [END_TO_END, PER_LAYER])
def test_result_line_carries_exactly_the_declared_metrics(spec):
    values = {k: 1.5 for k in spec}
    line = run.result(spec, values, attempted=12, failed=0)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == {
        k: u for k, (u, _) in spec.items()
    }
    with pytest.raises(KeyError):
        run.result(spec, {}, attempted=1, failed=0)
