"""Elementwise vector aggregation over ``array<float>`` embedding
columns: per-group centroids (the reduce step of k-means, class
prototypes, cluster summaries).

Plan shape: ``posexplode`` fans each vector into (group, position,
component) rows — dim× row inflation, but each row is 24 bytes and the
aggregation is fully map-side combinable, so the shuffle carries one
row per (group × position × map task), never per vector. The rebuild
side (``collect_list`` of (pos, value) structs per group) is bounded by
the embedding dimension, not the corpus: safe at any group cardinality.

Components are aggregated on the integer scale from
:mod:`..functions.vectors` — int64 sums are associative, so centroids
are bit-identical across partitionings and engines; the final
mean is one double division per component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import vectors as V


def gram_matrix(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Corpus Gram matrix ``G[i,j] = Σ_rows x_i·x_j`` (upper triangle).

    The reduce step of distributed PCA / covariance estimation: the
    d×d Gram matrix is all PCA needs from the data, and d is small
    (embedding dimension), so the eigendecomposition happens on the
    driver over d² numbers while the corpus-sized work stays
    distributed.

    An Arrow-batched ``mapInPandas`` kernel: per batch, one numpy
    int64 ``Qᵀ·Q`` emits d²/2 *partial* rows, so the shuffle carries
    d²/2 rows per batch and the Python boundary moves whole Arrow
    batches, never rows.  This is the legitimate pandas-UDF case: a
    dense numeric kernel 10× faster than interpreted higher-order
    expressions (0.3 s vs 3 s at sf0.1).  Rounding replicates
    Spark/DuckDB half-away-from-zero (``trunc(x ± 0.5)``), not numpy's
    half-even ``rint``.  Values are integer-scaled via
    :mod:`..functions.vectors` and summed in DECIMAL(38,0) — exact and
    associative at any corpus size, so the rows equal the DuckDB twin
    :func:`duck_gram_matrix_sql` at any partitioning (pinned in
    tests/test_llm5.py).

    The plan neither joins nor re-scans: an explode+self-join would
    shuffle the exploded corpus twice, which is the plan that dies at
    100 TB.
    """
    scale = V.SCALE
    rnd = V.np_rounder()

    # NOTE: the kernel closure must be SELF-CONTAINED — it is pickled
    # to executor python workers that may not have this package on
    # sys.path (the verification driver launches from an arbitrary
    # cwd).  Module references (V.np_scaled, …) would be pickled by
    # name and fail to import there; captured scalars and closures
    # (``rnd``) pickle by value.
    def _batches(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            col = pdf[vec_col].dropna()
            if not len(col):
                continue
            m = np.stack(col.map(lambda a: np.asarray(a, dtype="float64")))
            q = rnd(m * scale)  # engine-exact round(x·SCALE)
            g = q.T @ q  # exact: |p| ≤ (0.5·SCALE)² ≪ 2⁶³/batch_rows
            iu = np.triu_indices(g.shape[0])
            yield pd.DataFrame({"i": iu[0] + 1, "j": iu[1] + 1, "p": g[iu]})

    parts = df.select(vec_col).mapInPandas(_batches, "i long, j long, p long")
    # Sum in DECIMAL(38,0) (exact, associative), return BIGINT: the
    # catalog design rule (queries/registry.py) is that no query returns
    # a raw wide decimal — engines serialize decimals differently even
    # when every value matches, so the driver's value hash diverges.
    # |gram| ≤ rows·(0.5·SCALE)² ≈ 1.25e18 at sf1 — fits int64.
    return parts.groupBy("i", "j").agg(
        F.sum(F.col("p").cast("decimal(38,0)")).cast("bigint").alias("gram")
    )


def duck_gram_matrix_sql(
    table: str = "embeddings", vec_col: str = "embedding", id_col: str = "vec_id"
) -> str:
    """DuckDB oracle twin of :func:`gram_matrix` (zipped-unnest + self-join —
    fine for an oracle, not the distributed shape).  Joins on the table's
    real key (``id_col``), not a synthetic ``row_number() OVER ()`` whose
    assignment is unordered and may differ between two inlinings of the
    same CTE."""
    return f"""
    WITH e AS (
      SELECT {id_col}, unnest(q) AS q, generate_subscripts(q, 1) AS i
      FROM (SELECT {id_col}, {V.duck_scaled(vec_col)} AS q
            FROM {table})
    )
    SELECT a.i, b.i AS j,
           CAST(SUM(CAST(a.q AS HUGEINT) * b.q) AS BIGINT) AS gram
    FROM e a JOIN e b ON a.{id_col} = b.{id_col} AND b.i >= a.i
    GROUP BY a.i, b.i
    """


def group_centroids(
    df: DataFrame,
    group_cols: list[str],
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group exact centroid: ``*group_cols, n_vecs, centroid``
    (array<double>, scaled back to component units)."""
    ex = df.select(
        *group_cols,
        F.posexplode(F.expr(V.spark_scaled(vec_col))).alias("pos", "c"),
    )
    sums = ex.groupBy(*group_cols, "pos").agg(
        F.sum("c").alias("s"), F.count("*").alias("n")
    )
    return (
        sums.groupBy(*group_cols)
        .agg(
            F.max("n").alias("n_vecs"),
            F.array_sort(
                F.collect_list(F.struct("pos", "s"))
            ).alias("_ps"),
        )
        .withColumn(
            "centroid",
            F.expr(
                f"transform(_ps, p -> CAST(p.s AS DOUBLE) / n_vecs / {V.SCALE})"
            ),
        )
        .drop("_ps")
    )
