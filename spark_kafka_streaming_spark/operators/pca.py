"""Distributed PCA over ``array<float>`` embedding columns.

The classic two-phase shape for tall-skinny data (corpus rows × small
dimension d):

1. **Distributed reduce** — one pass computes the exact d×d Gram
   matrix (:func:`.vector_agg.gram_matrix`) and the component sums;
   both are integer-scaled, map-side-combinable aggregations whose
   shuffle is O(d²) per map task, independent of corpus size.
2. **Driver-side eigendecomposition** — the covariance matrix is d×d
   (a few KB); ``numpy.linalg.eigh`` on the driver is the right place
   for it.  Nothing corpus-sized ever reaches the driver.
3. **Distributed projection** — the (d×k) component matrix is inlined
   as a literal array expression and each row's projection is k dot
   products via built-in higher-order functions: map-only, no shuffle,
   no UDF, no broadcast variable round-trip.

Eigenvector sign is fixed (largest-|loading| coordinate positive) so
results are reproducible across numpy/LAPACK builds.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import vectors as V
from .vector_agg import gram_matrix


def covariance_stats(
    df: DataFrame, vec_col: str = "embedding"
) -> tuple[np.ndarray, np.ndarray, int]:
    """Exact covariance matrix, mean vector (component units), and row
    count.

    Two aggregation jobs over the same scan (Gram matrix, then
    per-dimension sums); each collects only O(d²) / O(d) rows.  All
    partial aggregates are exact integers on the
    :mod:`..functions.vectors` scale, so the result is independent of
    partitioning.
    """
    g_rows = gram_matrix(df, vec_col).collect()
    sums = (
        df.select(F.posexplode(F.expr(V.spark_scaled(vec_col))).alias("pos", "c"))
        .groupBy("pos")
        .agg(F.sum("c").alias("s"), F.count("*").alias("n"))
        .collect()
    )
    d = max(r.pos for r in sums) + 1
    counts = {r.n for r in sums}
    if len(counts) != 1:
        raise ValueError(
            f"ragged or null-bearing vectors: per-position counts {sorted(counts)}"
        )
    n = counts.pop()
    mean = np.zeros(d)
    for r in sums:
        mean[r.pos] = float(r.s) / n / V.SCALE
    gram = np.zeros((d, d))
    for r in g_rows:
        v = float(r.gram) / (V.SCALE * V.SCALE)
        gram[r.i - 1, r.j - 1] = v
        gram[r.j - 1, r.i - 1] = v
    cov = gram / n - np.outer(mean, mean)
    return cov, mean, n


def covariance_matrix(df: DataFrame, vec_col: str = "embedding") -> tuple[np.ndarray, int]:
    """Back-compat wrapper around :func:`covariance_stats`."""
    cov, _, n = covariance_stats(df, vec_col)
    return cov, n


def _top_components(
    cov: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The top-k eigenvectors ``(d, k)`` of ``cov``, each sign-fixed so
    its largest-magnitude entry is positive; all eigenvalues
    (ascending); and the top-k indices into them, largest first."""
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order]
    for c in range(comps.shape[1]):
        j = int(np.argmax(np.abs(comps[:, c])))
        if comps[j, c] < 0:
            comps[:, c] = -comps[:, c]
    return comps, evals, order


def pca_fit(
    df: DataFrame, k: int, vec_col: str = "embedding"
) -> tuple[np.ndarray, np.ndarray, np.ndarray, int]:
    """Full PCA fit: top-k components ``(d, k)`` (sign-fixed for
    reproducibility), their raw eigenvalues ``(k,)`` of the
    population-covariance (the per-component projection variances),
    the corpus mean vector ``(d,)``, and the row count."""
    cov, mean, n = covariance_stats(df, vec_col)
    comps, evals, order = _top_components(cov, k)
    return comps, evals[order], mean, n


def pca_components(
    df: DataFrame, k: int, vec_col: str = "embedding"
) -> tuple[np.ndarray, np.ndarray]:
    """Top-k principal components ``(d, k)`` and explained-variance
    ratios ``(k,)``, sign-fixed for reproducibility."""
    cov, _, _ = covariance_stats(df, vec_col)
    comps, evals, order = _top_components(cov, k)
    total = float(evals.sum()) if evals.sum() > 0 else 1.0
    return comps, evals[order] / total


def project(
    df: DataFrame,
    components: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "pca",
) -> DataFrame:
    """Project each vector onto ``components`` (d×k): adds ``out_col``
    as ``array<double>`` of length k.

    The component matrix is inlined as a literal nested-array
    expression — a few KB of plan, evaluated entirely in the JVM by
    ``zip_with``/``aggregate``; map-only at any corpus size.
    """
    d, k = components.shape
    comp_lit = (
        "array("
        + ", ".join(
            # float() first: numpy>=2 repr of a float64 scalar is
            # "np.float64(0.123)" — invalid SQL; plain-float repr is stable.
            "array(" + ", ".join(f"{float(components[i, c])!r}D" for i in range(d)) + ")"
            for c in range(k)
        )
        + ")"
    )
    proj = (
        f"transform({comp_lit}, c -> "
        f"aggregate(zip_with(c, {vec_col}, (w, x) -> w * CAST(x AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))"
    )
    return df.withColumn(out_col, F.expr(proj))
