"""Vector math over ``array<float>`` embedding columns.

Everything stays in built-in higher-order functions (JVM codegen);
no UDFs. For cross-engine-exact results the dot products run on
integer-scaled components: ``round(x * 1e7)`` per float is a
deterministic double→int mapping both Spark and DuckDB agree on, and
int64 sums are associative — so cosine values are bit-identical
regardless of partitioning or engine (plain float dot products differ
in low bits by summation order).
"""

from __future__ import annotations

SCALE = 10_000_000  # 7 decimal digits — well above float32 precision


def spark_scaled(col: str) -> str:
    """array<float> → array<bigint> of scaled components."""
    return f"transform({col}, x -> CAST(round(CAST(x AS DOUBLE) * {SCALE}) AS BIGINT))"


def spark_dot(a: str, b: str) -> str:
    """Exact int64 dot product of two scaled vectors."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (acc, v) -> acc + v)"


def spark_cosine(dot: str, n1: str, n2: str) -> str:
    """cosine from exact dot/norms; deterministic double arithmetic."""
    return (
        f"CAST({dot} AS DOUBLE) / (sqrt(CAST({n1} AS DOUBLE)) * "
        f"sqrt(CAST({n2} AS DOUBLE)))"
    )


def np_rounder():
    """The engines' ``round()`` for numpy: ``np_round(v)`` maps a float
    array to int64, half away from zero on the EXACT double — floor/ceil
    and the ``v − floor(v)`` subtraction are exact for |v| < 2⁵², so the
    ≥ 0.5 comparison sees the true fraction.  (``np.rint`` is half-even
    and ``trunc(v ± 0.5)`` can round v just below k+.5 up to k+1 — both
    silently diverge from the engines.)  Returned as a closure so Arrow
    kernels can capture it: cloudpickle ships a nested function by
    value, a module-level one by name, and executors need not be able
    to import this package."""

    def np_round(v):
        import numpy as np

        fv, cv = np.floor(v), np.ceil(v)
        return np.where(v >= 0, fv + (v - fv >= 0.5), cv - (cv - v >= 0.5)).astype(
            "int64"
        )

    return np_round


def np_scaled(m):
    """numpy twin of :func:`spark_scaled`: float matrix → int64 scaled
    components, bit-identical to Spark/DuckDB ``round()``."""
    import numpy as np

    return np_rounder()(np.asarray(m, dtype="float64") * SCALE)


def duck_scaled(col: str) -> str:
    return f"list_transform({col}, x -> CAST(round(CAST(x AS DOUBLE) * {SCALE}) AS BIGINT))"


def duck_dot(a: str, b: str) -> str:
    # list_inner_product computes in double; int64 products here are
    # ≤ ~1.4e14 ≪ 2^53 so every partial sum is exact → order-free.
    return f"list_inner_product(list_transform({a}, x -> CAST(x AS DOUBLE)), list_transform({b}, x -> CAST(x AS DOUBLE)))"


def duck_cosine(dot: str, n1: str, n2: str) -> str:
    return (
        f"CAST({dot} AS DOUBLE) / (sqrt(CAST({n1} AS DOUBLE)) * "
        f"sqrt(CAST({n2} AS DOUBLE)))"
    )
