"""A catalog query builder runs no Spark job once its files are known.

``sources.batch.read_parquet`` infers a parquet schema on the first
read of a file identity and plans later reads against the kept
``StructType``; ``signatures._resolve_broadcast_verify`` sizes the
verify broadcast of a given signature table from parquet footers.
These tests pin that

* the kept schema is exactly the one Spark infers, for every table of
  the three test scales, a signature-table directory and a
  TIMESTAMP(NANOS) column under ``nanosAsLong``;
* after one warm build, the five ``catalog_mix`` builders run no job
  before their action (cosine top-k keeps its one bounded query pull);
* a rewritten file, or a flipped inference conf, is inferred again;
* the footer row count is used only where it bounds the frame's rows;
* no parquet read in the package bypasses the helper.
"""

from __future__ import annotations

import ast
import datetime as dt
import itertools
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import spark_kafka_streaming_spark as pkg
from spark_kafka_streaming_spark.functions.caching import release_operator_caches
from spark_kafka_streaming_spark.operators.signatures import signature_table
from spark_kafka_streaming_spark.queries import REGISTRY
from spark_kafka_streaming_spark.sources.batch import (
    TABLES,
    ensure_session_confs,
    footer_row_bound,
    load_table,
    read_parquet,
)

SCALES = ("sf0.001", "sf0.01", "sf0.1")
_groups = itertools.count()


def _jobs(spark, fn):
    """(fn's result, number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"build-without-jobs-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_kept_schema_is_inferred(spark, path):
    read_parquet(spark, path)  # the first read of this identity infers
    df, jobs = _jobs(spark, lambda: read_parquet(spark, path))
    assert jobs == 0
    assert df.schema == spark.read.parquet(path).schema


@pytest.mark.parametrize("scale", SCALES)
def test_kept_schema_equals_inference(spark, sf_dir, scale):
    ensure_session_confs(spark)
    scale_dir = os.path.join(os.path.dirname(sf_dir), scale)
    for t in TABLES:
        _assert_kept_schema_is_inferred(spark, f"{scale_dir}/{t}.parquet")


def test_kept_schema_of_a_signature_table(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SIG_CACHE", str(tmp_path))
    signature_table(spark, sf_dir)
    (dest,) = [p for p in tmp_path.iterdir() if p.is_dir()]
    _assert_kept_schema_is_inferred(spark, str(dest))


def test_nanos_timestamps_stay_bigint(spark, tmp_path):
    ensure_session_confs(spark)
    ns = [1_700_000_000_123_456_789, None]
    pq.write_table(
        pa.table({"ts": pa.array(ns, pa.timestamp("ns")), "event_id": [1, 2]}),
        tmp_path / "events.parquet",
    )
    path = str(tmp_path / "events.parquet")
    _assert_kept_schema_is_inferred(spark, path)
    assert dict(read_parquet(spark, path).dtypes)["ts"] == "bigint"
    rows = load_table(spark, str(tmp_path), "events").orderBy("event_id").collect()
    assert rows[0].ts == dt.datetime(2023, 11, 14, 22, 13, 20, 123456)
    assert rows[1].ts is None


def test_footer_row_bound_only_for_row_bounded_plans(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    for bounded in (docs, docs.filter("doc_id % 2 = 0").select("doc_id", "text")):
        assert footer_row_bound(bounded) == n >= bounded.count()
    for unbounded in (
        docs.join(docs.select("doc_id"), "doc_id", "semi"),
        docs.join(docs.select("doc_id"), "doc_id"),
        docs.selectExpr("explode(split(text, ' ')) AS w"),
        docs.union(docs),
        docs.repartition(2),
    ):
        assert footer_row_bound(unbounded) is None


#: The catalog_mix entries (perfbench/catalog.py) → jobs their builder
#: still runs after one warm build: top-k pulls its bounded query set
#: to the driver (``similarity._bounded_q_topk_arrow``'s ``q.collect()``).
CATALOG_MIX_BUILD_JOBS = {
    "q_scalar_string_functions": 0,
    "q_dedup_minhash_lsh": 0,
    "q_sketch_hll_sliding": 0,
    "q_text_bm25_search": 0,
    "q_similarity_topk_bruteforce": 1,
}


def test_warm_builders_run_no_schema_or_count_job(spark, sf_dir):
    got = {}
    for name in CATALOG_MIX_BUILD_JOBS:
        build = REGISTRY[name].builder
        build(spark, sf_dir)
        release_operator_caches()
        _, got[name] = _jobs(spark, lambda: build(spark, sf_dir))
        release_operator_caches()
    assert got == CATALOG_MIX_BUILD_JOBS


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": ["x"], "b": [0.5]}), path)
    df = read_parquet(spark, path)
    assert df.schema == spark.read.parquet(path).schema
    assert dict(df.dtypes) == {"a": "string", "b": "double"}


def test_flipped_inference_conf_is_inferred_again(spark, tmp_path):
    conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"ts": pa.array([0], pa.timestamp("us"))}), path)
    before = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "true")
        assert dict(read_parquet(spark, path).dtypes)["ts"] == "timestamp_ntz"
        spark.conf.set(conf, "false")
        df = read_parquet(spark, path)
        assert df.schema == spark.read.parquet(path).schema
        assert dict(df.dtypes)["ts"] == "timestamp"
    finally:
        spark.conf.set(conf, before)


#: (module, function) allowed to call ``<reader>.read[...].parquet(``.
HELPER = ("sources/batch.py", "_read_parquet")
#: The incremental stores under ``streaming/`` read their own
#: directories, whose leaf files change on every trigger: a file-identity
#: schema cache would miss on every read, so they infer directly.
STORE_MODULES = frozenset(
    {
        "streaming/fold.py",
        "streaming/incremental_merge.py",
        "streaming/incremental_quantiles.py",
        "streaming/incremental_vectors.py",
        "streaming/swap.py",
    }
)


def _is_parquet_read(node) -> bool:
    if not (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "parquet"
    ):
        return False
    recv = node.func.value
    while isinstance(recv, (ast.Call, ast.Attribute)):
        if isinstance(recv, ast.Attribute) and recv.attr == "read":
            return True
        recv = recv.func if isinstance(recv, ast.Call) else recv.value
    return False


def _read_sites(node, fn="<module>"):
    """The innermost enclosing function of each parquet read."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
        fn = node.name
    if _is_parquet_read(node):
        yield fn
    for child in ast.iter_child_nodes(node):
        yield from _read_sites(child, fn)


def test_parquet_reads_go_through_the_helper():
    root = os.path.dirname(pkg.__file__)
    sites = set()
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".py"):
                rel = os.path.relpath(os.path.join(d, n), root)
                with open(os.path.join(d, n)) as f:
                    tree = ast.parse(f.read())
                sites |= {(rel, fn) for fn in _read_sites(tree)}
    outside = {s for s in sites if s != HELPER and s[0] not in STORE_MODULES}
    assert HELPER in sites
    assert not outside, f"parquet reads outside read_parquet: {sorted(outside)}"
