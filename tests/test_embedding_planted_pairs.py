"""Planted-structure correctness for the scale generator's EMBEDDING
replicas (VERDICT r7 missing #3 / next #3): replicas are mostly fresh
unit vectors with a 2% planted near-dup fraction, so (a) the embedding
dedup tier RECOVERS the planted pairs, and (b) the total true-pair
count stays ~linear in the replication factor — the property that made
the tier measurable at factor 1000.

The fixture runs the real generator (tools/make_scale_data.py,
embeddings section only) at factor 6 into a tmp dir, reading the
test base corpus (``sf_dir``: sf0.001 unless SPARK_GRAFT_TEST_SF_DIR
names another) — the same code path the sf1/sf10/sf100 corpora
are built with.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

_TOOLS = Path(__file__).resolve().parents[1] / "tools" / "make_scale_data.py"
FACTOR = 6


@pytest.fixture(scope="module")
def gen_dir(tmp_path_factory, sf_dir):
    out = tmp_path_factory.mktemp("emb_scale")
    # run the generator with SRC overridden to the test base corpus
    code = (
        "import importlib.util, sys\n"
        f"spec = importlib.util.spec_from_file_location('msd', {str(_TOOLS)!r})\n"
        "m = importlib.util.module_from_spec(spec)\n"
        f"sys.argv = ['msd', {str(out)!r}, '{FACTOR}', 'zipf', 'embeddings']\n"
        "spec.loader.exec_module(m)\n"
        f"m.SRC = {sf_dir!r}\n"
        "m.main()\n"
    )
    subprocess.run([sys.executable, "-c", code], check=True, timeout=300)
    return str(out)


def test_planted_pairs_linear_and_recovered(spark, gen_dir):
    from spark_kafka_streaming_spark.operators.similarity import (
        cosine_dup_pairs,
    )

    emb = spark.read.parquet(f"{gen_dir}/embeddings.parquet")
    planted = spark.read.parquet(f"{gen_dir}/embedding_dup_pairs.parquet")
    n = emb.count()
    n_planted = planted.count()
    n_base = n // FACTOR
    # density sanity: ~2% of replica vectors are planted dups
    assert 0.005 * (FACTOR - 1) * n_base <= n_planted
    assert n_planted <= 0.05 * (FACTOR - 1) * n_base

    pairs = cosine_dup_pairs(emb, threshold=0.9).persist()
    n_pairs = pairs.count()
    # linearity: the found pair count is bounded by planted direct
    # pairs + the intra-clique expansion (0.02·F wide per base), never
    # the every-replica-pairs quadratic blowup (which at factor 6 on
    # this base would already exceed base·C(6,2) = 15·n_base)
    assert n_pairs < 8 * n_planted + 50
    # recovery: ≥ 80% of planted (src, dup) pairs surface (LSH recall
    # < 1 by construction; cosine ≈ 0.99 pairs band-collide reliably)
    got = {
        (r["id1"], r["id2"])
        for r in pairs.select("id1", "id2").collect()
    }
    hits = sum(
        1
        for r in planted.collect()
        if (min(r["src_vid"], r["dup_vid"]), max(r["src_vid"], r["dup_vid"]))
        in got
    )
    assert hits / n_planted >= 0.8
    pairs.unpersist()


def test_scaled_geometry_matches_oracle_on_planted(spark, gen_dir):
    """The corpus-scaled LSH geometry (24 planes × 8 bands, threshold
    0.9 — q_dedup_embedding_lsh_scaled's shape) on the planted corpus:
    NON-empty result, ≥ 70% planted recovery (recall ≈ 92% at cosine
    0.99 by the band arithmetic), and bit-identical to the DuckDB
    oracle replay — the non-empty twin of the catalog entry, whose
    driver corpora have no ≥ 0.9 pairs."""
    import duckdb

    from spark_kafka_streaming_spark.operators.similarity import (
        cosine_dup_pairs,
        duck_cosine_dup_pairs_sql,
    )

    emb = spark.read.parquet(f"{gen_dir}/embeddings.parquet")
    got = sorted(
        tuple(r)
        for r in cosine_dup_pairs(
            emb, threshold=0.9, n_planes=24, n_bands=8
        ).collect()
    )
    assert len(got) > 0

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{gen_dir}/embeddings.parquet')"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            duck_cosine_dup_pairs_sql(0.9, planes_per_band=24, bands=8)
        ).fetchall()
    )
    assert got == want

    planted = spark.read.parquet(f"{gen_dir}/embedding_dup_pairs.parquet")
    keys = {(r[0], r[1]) for r in got}
    rows = planted.collect()
    hits = sum(
        1
        for r in rows
        if (min(r["src_vid"], r["dup_vid"]), max(r["src_vid"], r["dup_vid"]))
        in keys
    )
    assert hits / len(rows) >= 0.7
