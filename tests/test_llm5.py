"""Semantic tests for the fifth LLM wave: bigram-LM familiarity,
int8 quantization, the distributed Gram matrix, and class-balanced
sampling — planted-case checks independent of the DuckDB gate, plus a
plan check pinning the Gram matrix's no-self-join shape.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from spark_kafka_streaming_spark.functions.vectors import SCALE
from spark_kafka_streaming_spark.operators.lm import bigram_familiarity
from spark_kafka_streaming_spark.operators.vector_agg import gram_matrix


def test_bigram_familiarity_planted(spark):
    # "a b" occurs 3× across the corpus (familiar at min_count=3);
    # every other bigram occurs once.
    rows = [
        (1, "a b a b x y"),   # bigrams: ab ba ab bx xy → ab familiar ×2
        (2, "a b q"),         # ab bq → ab familiar ×1
        (3, "z z"),           # zz → unfamiliar
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in bigram_familiarity(df, min_count=3).collect()}
    assert got[1].n_bigrams == 5 and got[1].n_familiar == 2
    assert got[2].n_bigrams == 2 and got[2].n_familiar == 1
    assert got[3].n_bigrams == 1 and got[3].n_familiar == 0
    assert math.isclose(got[1].familiarity, 2 / 5)
    assert got[3].familiarity == 0.0


def test_bigram_familiarity_partitioning_invariant(spark):
    rows = [(i, f"w{i % 7} w{(i + 1) % 7} w{i % 3}") for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, bigram_familiarity(df, 5).collect()))
    b = sorted(map(tuple, bigram_familiarity(df.repartition(13), 5).collect()))
    assert a == b


def test_gram_matrix_exact_tiny(spark):
    vecs = [(1, [1.0, 0.0, 2.0]), (2, [0.5, 1.0, 0.0]), (3, [0.0, 0.0, 1.0])]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    got = {(r.i, r.j): int(r.gram) for r in gram_matrix(df).collect()}
    q = [[round(x * SCALE) for x in v] for _, v in vecs]
    want = {
        (i + 1, j + 1): sum(row[i] * row[j] for row in q)
        for i in range(3)
        for j in range(i, 3)
    }
    assert got == want


def test_gram_matrix_upper_triangle_only(spark):
    df = spark.createDataFrame(
        [(1, [0.1] * 8)], "vec_id long, embedding array<float>"
    )
    rows = gram_matrix(df).collect()
    assert len(rows) == 8 * 9 // 2
    assert all(r.j >= r.i for r in rows)


def test_gram_matrix_plan_has_no_join(spark):
    """The 100 TB shape: map-side partial Grams + one combinable
    aggregate — any join/cartesian in the plan is a regression."""
    df = spark.createDataFrame(
        [(1, [0.1, 0.2])], "vec_id long, embedding array<float>"
    )
    plan = gram_matrix(df)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Cartesian" not in plan
    assert "HashAggregate" in plan


def test_gram_matrix_matches_duckdb(spark, tmp_path):
    """The numpy kernel and its DuckDB oracle (``duck_gram_matrix_sql``)
    return identical integer-scaled sums, negatives and rounding
    included, over a corpus split across several Arrow batches and
    partitions."""
    import duckdb
    import numpy as np

    from spark_kafka_streaming_spark.operators.vector_agg import (
        duck_gram_matrix_sql,
    )

    rng = np.random.RandomState(3)
    data = (rng.randn(257, 5) * 0.3).astype("float32")  # >1 Arrow batch row-chunk
    path = str(tmp_path / "vecs.parquet")
    spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(data)],
        "vec_id long, embedding array<float>",
    ).repartition(3).write.parquet(path)
    got = sorted(
        tuple(r) for r in gram_matrix(spark.read.parquet(path)).collect()
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW vecs AS SELECT * FROM read_parquet('{path}/*.parquet')")
    want = sorted(con.execute(duck_gram_matrix_sql("vecs")).fetchall())
    assert got == want and len(got) == 5 * 6 // 2


def test_quantize_int8_bounds_and_scale(spark, sf_dir):
    from spark_kafka_streaming_spark.queries import REGISTRY

    out = REGISTRY["q_vector_quantize_int8"].builder(spark, sf_dir)
    rows = out.collect()
    assert rows, "empty quantization output"
    for r in rows:
        # max|component| maps to ±127 exactly; nothing exceeds the range.
        assert -127 <= r.q_min <= r.q_max <= 127
        assert max(abs(r.q_min), abs(r.q_max)) == 127
        assert r.scale > 0


def test_balanced_sample_exact_counts(spark, sf_dir):
    from spark_kafka_streaming_spark.queries import REGISTRY
    from spark_kafka_streaming_spark.sources.batch import load_table

    out = REGISTRY["q_sample_balanced_label"].builder(spark, sf_dir)
    per = {
        r.label: r.n
        for r in out.groupBy("label").agg(F.count("*").alias("n")).collect()
    }
    avail = {
        r.label: r.n
        for r in load_table(spark, sf_dir, "embeddings")
        .groupBy("label")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert per, "no labels sampled"
    for label, n in per.items():
        assert n == min(40, avail[label])


# ----------------------------------------------------------- PCA


def test_pca_matches_numpy(spark):
    import numpy as np

    from spark_kafka_streaming_spark.operators.pca import (
        covariance_matrix,
        pca_components,
        project,
    )

    rng = np.random.RandomState(7)
    # anisotropic cloud: variance concentrated in two known directions
    base = rng.randn(400, 2) @ np.array([[3.0, 0.0, 0.0, 0.0], [0.0, 1.5, 0.0, 0.0]])
    data = (base + 0.01 * rng.randn(400, 4)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(data)],
        "vec_id long, embedding array<float>",
    )

    cov, n = covariance_matrix(df)
    assert n == 400
    np_cov = np.cov(data.astype("float64").T, bias=True)
    assert np.allclose(cov, np_cov, atol=1e-5)

    comps, ratios = pca_components(df, 2)
    # top-2 subspace carries ~all variance, in descending order
    assert ratios[0] >= ratios[1] and ratios[:2].sum() > 0.999
    # orthonormal columns
    assert np.allclose(comps.T @ comps, np.eye(2), atol=1e-9)

    # Spark projection == numpy projection (same components, exact dots)
    got = {
        r.vec_id: list(r.pca) for r in project(df, comps).select("vec_id", "pca").collect()
    }
    want = data.astype("float64") @ comps
    for i in range(400):
        assert np.allclose(got[i], want[i], atol=1e-6)


def test_pca_projection_partitioning_invariant(spark):
    import numpy as np

    from spark_kafka_streaming_spark.operators.pca import pca_components

    rng = np.random.RandomState(11)
    data = rng.randn(300, 6).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(data)],
        "vec_id long, embedding array<float>",
    )
    c1, r1 = pca_components(df, 3)
    c2, r2 = pca_components(df.repartition(17), 3)
    # exact integer reduce → identical covariance → identical eigh input
    assert np.array_equal(c1, c2) and np.array_equal(r1, r2)


def test_quantize_zero_vector_yields_nulls(spark):
    """All-zero vectors must quantize to null scale/digests (guarded
    division), not inf/NaN — in both engines identically."""
    import duckdb

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.5, -0.25])],
        "vec_id long, embedding array<float>",
    )
    from spark_kafka_streaming_spark.queries import REGISTRY

    # run the same expression shape the catalog query uses, over the tiny view
    oracle = REGISTRY["q_vector_quantize_int8"].oracle.replace(
        "FROM embeddings", "FROM _qz_duck"
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW _qz_duck AS SELECT * FROM (VALUES "
        "(1, [CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT)]), "
        "(2, [CAST(0.5 AS FLOAT), CAST(-0.25 AS FLOAT)])) t(vec_id, embedding)"
    )
    want = con.execute(oracle).fetchall()

    from pyspark.sql import functions as F

    got = (
        df.withColumn(
            "_scale",
            F.lit(127.0)
            / F.expr(
                "nullif(array_max(transform(embedding, "
                "x -> abs(CAST(x AS DOUBLE)))), 0.0D)"
            ),
        )
        .withColumn(
            "_qv",
            F.expr(
                "transform(embedding, x -> "
                "CAST(FLOOR(CAST(x AS DOUBLE) * _scale + 0.5) AS BIGINT))"
            ),
        )
        .select(
            "vec_id",
            F.col("_scale").alias("scale"),
            F.expr("aggregate(_qv, 0L, (a, v) -> a + v)").alias("q_sum"),
            F.expr("aggregate(_qv, 0L, (a, v) -> a + abs(v))").alias("q_l1"),
            F.expr("array_min(_qv)").alias("q_min"),
            F.expr("array_max(_qv)").alias("q_max"),
        )
        .orderBy("vec_id")
        .collect()
    )
    assert got[0].scale is None and got[0].q_sum is None
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_gram_matrix_is_psd(spark):
    """G = Σ xxᵀ must be positive semi-definite — a structural property
    any correct Gram reduce satisfies regardless of data."""
    import numpy as np

    from spark_kafka_streaming_spark.operators.pca import covariance_matrix

    rng = np.random.RandomState(5)
    data = rng.randn(120, 7).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(data)],
        "vec_id long, embedding array<float>",
    )
    cov, _ = covariance_matrix(df)
    evals = np.linalg.eigvalsh(cov)
    assert evals.min() > -1e-9


def test_quantize_roundtrip_error_bound(spark, sf_dir):
    """Dequantized components reconstruct originals within the half-step
    bound |x − q/scale| ≤ 0.5/scale — the defining property of
    round-to-nearest symmetric quantization."""
    from pyspark.sql import functions as F

    from spark_kafka_streaming_spark.sources.batch import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    err = (
        emb.withColumn(
            "_scale",
            F.lit(127.0)
            / F.expr(
                "nullif(array_max(transform(embedding, "
                "x -> abs(CAST(x AS DOUBLE)))), 0.0D)"
            ),
        )
        .select(
            F.expr(
                "array_max(transform(embedding, x -> "
                "abs(CAST(x AS DOUBLE) - "
                "FLOOR(CAST(x AS DOUBLE) * _scale + 0.5) / _scale))) "
                "* _scale"
            ).alias("e")
        )
        .agg(F.max("e").alias("m"))
        .collect()[0]
        .m
    )
    assert err <= 0.5 + 1e-9
