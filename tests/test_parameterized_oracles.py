"""ADVICE r5 #5: queries whose engine derives a size parameter from
the corpus count (recall sample modulus, SemDeDup auto-k) must keep
their DuckDB oracles correct ABOVE the test scales where the auto
value leaves its floor.  These tests run engine vs oracle on synthetic
corpora big enough that the parameter is OFF the floor — exactly the
regime the literal-constant oracles used to get wrong.
"""

from __future__ import annotations

import math
import random

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from spark_kafka_streaming_spark.operators.kmeans import auto_k
from spark_kafka_streaming_spark.queries.dedup import _recall_auto_mod


def test_auto_formulas_match_sql_over_decades():
    con = duckdb.connect()
    for n in (1, 100, 5624, 5625, 5626, 20000, 199999, 4_000_000):
        mod_sql = con.execute(
            f"SELECT greatest(2, CAST(floor(sqrt({n})) AS BIGINT) // 25)"
        ).fetchone()[0]
        assert _recall_auto_mod(n) == mod_sql, n
        k_sql = con.execute(f"SELECT greatest(8, {n} // 400)").fetchone()[0]
        assert auto_k(n) == k_sql, n


@pytest.fixture(scope="module")
def big_corpus_dir(spark, tmp_path_factory):
    """~5.8k tiny zipf docs (recall modulus leaves the floor: mod=3)
    and 4k perturbed vectors (auto_k leaves the floor: k=10)."""
    out = tmp_path_factory.mktemp("bigsf")
    rng = random.Random(7)
    words = [f"w{i:04d}" for i in range(3000)]
    texts = []
    for i in range(5800):
        L = rng.randint(8, 18)
        toks = [words[min(int(rng.expovariate(1 / 300.0)), 2999)] for _ in range(L)]
        if i > 10 and rng.random() < 0.05:  # planted near-dups for truth
            src = texts[rng.randrange(i)].split(" ")
            toks = [
                (words[rng.randrange(3000)] if rng.random() < 0.05 else t)
                for t in src
            ]
        texts.append(" ".join(toks))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(5800), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * 5800, pa.string()),
                "source": pa.array(["syn"] * 5800, pa.string()),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        str(out / "documents.parquet"),
    )
    nprng = np.random.default_rng(7)
    base = nprng.normal(0, 1, size=(40, 64)).astype(np.float32)
    vecs, ids = [], []
    for i in range(4000):
        v = base[i % 40] + nprng.normal(0, 0.15, size=64).astype(np.float32)
        vecs.append(v.tolist())
        ids.append(i)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array([i % 10 for i in ids], pa.int32()),
            }
        ),
        str(out / "embeddings.parquet"),
    )
    return str(out)


def _duck(big_corpus_dir):
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{big_corpus_dir}/{t}.parquet')"
        )
    return con


def test_recall_oracle_above_floor(spark, big_corpus_dir):
    """5.8k docs → auto modulus 3 (> the floor 2): engine and the
    registered (parameterized) oracle must still agree exactly."""
    from spark_kafka_streaming_spark.queries import REGISTRY

    n = spark.read.parquet(f"{big_corpus_dir}/documents.parquet").count()
    assert _recall_auto_mod(n) == 3 == max(2, math.isqrt(n) // 25)
    q = REGISTRY["q_dedup_minhash_recall"]
    got = sorted(map(tuple, q.builder(spark, big_corpus_dir).collect()))
    want = sorted(_duck(big_corpus_dir).execute(q.oracle).fetchall())
    assert got == want
    assert got[0][0] > 0, "sampled truth set must be non-empty"


def test_semdedup_oracle_above_floor(spark, big_corpus_dir):
    """4k vectors → auto_k 10 (> the floor 8): engine and the
    registered (k-in-SQL) oracle must still agree exactly."""
    from spark_kafka_streaming_spark.queries import REGISTRY

    n = spark.read.parquet(f"{big_corpus_dir}/embeddings.parquet").count()
    assert auto_k(n) == 10
    q = REGISTRY["q_dedup_semantic"]
    got = sorted(map(tuple, q.builder(spark, big_corpus_dir).collect()))
    want = sorted(_duck(big_corpus_dir).execute(q.oracle).fetchall())
    assert got == want
    assert any(not r[2] for r in got), "clone-dense corpus must drop rows"
