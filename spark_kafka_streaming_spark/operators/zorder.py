"""Z-order (Morton) data layout: multi-dimensional clustering for
file-skipping.

Linear sorting a fact table bounds per-file min/max on ONE column;
range predicates on any other column scan every file.  Interleaving
the bits of two (or more) key columns into a Morton z-value and
range-partitioning on it bounds per-file spans on ALL interleaved
dimensions — the same idea behind Delta/Iceberg `OPTIMIZE ZORDER BY`,
built here from OSS Spark primitives: an exact integer bit-interleave
expression + ``repartitionByRange`` + ``sortWithinPartitions`` +
per-file parquet min/max statistics (which Spark's scan uses for row-
group skipping automatically).

The quantified comparison against a linear layout is the catalog query
``q_layout_zorder`` (queries/relational.py); this module is the
write-side operator plus the shared expression generator.  No analog
in the reference (it has no file layout at all — Kafka in, DStream
out).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: 27 bits per dimension: the interleaved value stays < 2^54 (exact in
#: int64 AND in the driver's double-based hashing), while covering key
#: domains up to 134M — key-shifted scale replicas reach ~99M custkeys
#: at factor 100. Bits ABOVE this are truncated by construction; raise
#: deliberately (or pre-hash the key down) for wider domains — a
#: too-small value silently destroys clustering on the wide dimension
#: (found at sf0.1 where 12 bits dropped custkey's high bits).
ZBITS_DEFAULT = 27


def z_expr_spark_n(cols: list[str], bits: int) -> str:
    """Spark SQL expression interleaving the low ``bits`` of k
    non-negative integer columns: column j owns bit positions
    ``i·k + j`` (round-robin scatter — the k-dimensional Morton code).
    ``k · bits`` must stay < 63 so the value fits a signed int64."""
    k = len(cols)
    if k * bits >= 63:
        raise ValueError(f"{k} dims × {bits} bits overflows int64")
    terms = [
        f"shiftleft(shiftright({c}, {i}) & 1, {i * k + j})"
        for j, c in enumerate(cols)
        for i in range(bits)
    ]
    return "(" + " + ".join(terms) + ")"


def z_expr_duck_n(cols: list[str], bits: int) -> str:
    """DuckDB twin of :func:`z_expr_spark_n` (same bit placement)."""
    k = len(cols)
    terms = [
        f"((({c} >> {i}) & 1) << {i * k + j})"
        for j, c in enumerate(cols)
        for i in range(bits)
    ]
    return "(" + " + ".join(terms) + ")"


def z_expr_spark(c: str, d: str, bits: int = ZBITS_DEFAULT) -> str:
    """2-D form: ``c`` → even bit positions, ``d`` → odd."""
    return z_expr_spark_n([c, d], bits)


def z_expr_duck(c: str, d: str, bits: int = ZBITS_DEFAULT) -> str:
    """DuckDB twin of :func:`z_expr_spark` (same bit placement)."""
    return z_expr_duck_n([c, d], bits)


def write_zordered_n(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    bits: int | None = None,
) -> None:
    """Write ``df`` as a k-dimensional z-ordered parquet layout:
    ``n_files`` range-partitions of the Morton value of ``cols``,
    sorted within each file so parquet row-group min/max stats are
    tight on EVERY interleaved column.

    All columns are min/max-normalized onto the same ``2^bits`` grid
    (exact integer arithmetic; bounds collected as one driver-side
    aggregate and inlined as literals) BEFORE interleaving —
    interleaving raw unequal-width domains hands every high z-bit to
    the widest column, so the others get no top-level clustering
    (measured: raw interleave left the narrow dimension's per-file
    span at its full domain).  ``bits`` defaults to the widest grid
    that keeps ``k·bits < 63`` (27 for 2 dims, 20 for 3, 15 for 4) —
    each added dimension halves per-dim resolution, the inherent
    multi-dim clustering trade.

    ``repartitionByRange`` samples the z distribution to pick range
    bounds — fully parallel (no global sort); the z column is dropped
    before writing, since the layout, not the value, is the product.
    At 100 TB this is the whole recipe: one tiny bounds job, a
    map-only interleave, the range exchange as the one shuffle, and
    every downstream range predicate on any interleaved column prunes
    files/row-groups via the footer statistics Spark already consults.
    """
    k = len(cols)
    if k < 2:
        raise ValueError("write_zordered_n: need at least 2 columns")
    if bits is None:
        bits = min(ZBITS_DEFAULT, 62 // k)
    agg = []
    for c in cols:
        agg += [F.min(c), F.max(c)]
    bounds = df.agg(*agg).collect()[0]
    los = [bounds[2 * j] for j in range(k)]
    his = [bounds[2 * j + 1] for j in range(k)]
    if any(lo is None for lo in los):
        raise ValueError(
            "write_zordered: empty input (or all-NULL key column) — "
            "no min/max bounds to normalize against"
        )
    cells = 1 << bits
    for name, lo, hi in zip(cols, los, his):
        # ((col-lo) * 2^bits) must stay in int64: domain width * cells
        # < 2^63, else the grid math silently overflows.
        if (int(hi) - int(lo) + 1) * cells >= 1 << 63:
            raise ValueError(
                f"write_zordered: domain of {name!r} "
                f"([{lo}, {hi}]) * 2^{bits} grid cells overflows int64 — "
                "pre-hash the key down or lower `bits`"
            )

    def cell(col: str, lo: int, hi: int) -> str:
        return f"((({col}) - {lo}) * {cells}) DIV ({hi} - {lo} + 1)"

    z = df
    grid = []
    for j, (c, lo, hi) in enumerate(zip(cols, los, his)):
        z = z.withColumn(f"_g{j}", F.expr(cell(c, lo, hi)))
        grid.append(f"_g{j}")
    z = z.withColumn("_z", F.expr(z_expr_spark_n(grid, bits))).drop(*grid)
    (
        z.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_zordered(
    df: DataFrame,
    path: str,
    c_col: str,
    d_col: str,
    n_files: int = 16,
    bits: int = ZBITS_DEFAULT,
) -> None:
    """2-D form of :func:`write_zordered_n` (kept as the common case)."""
    write_zordered_n(df, path, [c_col, d_col], n_files=n_files, bits=bits)
