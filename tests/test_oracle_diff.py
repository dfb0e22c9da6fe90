"""Differential gate: every oracle-checked query must match DuckDB
exactly (row count, column names, and values) — a local mirror of the
driver's order-insensitive value-hash comparison at sf 0.01.  Each
entry is built once; its output dtypes are checked against the
registry's design rules (no container, no raw decimal column) before
its rows are collected.
"""

from __future__ import annotations

import datetime as dt
import math

import duckdb
import pytest

from spark_kafka_streaming_spark.queries import REGISTRY
from spark_kafka_streaming_spark.sources.batch import TABLES

ORACLE_QUERIES = sorted(n for n, q in REGISTRY.items() if q.oracle)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


def _norm(v):
    """Normalize a cell the way a hash-compare would see it.

    Decimals are deliberately NOT coerced to float: the driver hashes
    a wide decimal's engine serialization, which can differ between
    Spark and DuckDB even when every value is equal (that exact drift
    made q_vector_gram_matrix the round-2 red row while this mirror —
    which then coerced Decimal→float, silently losing exactness above
    2^53 — stayed green).  A Decimal cell surfaces here as a raw
    Decimal and fails against an int/float twin, which is the point:
    no catalog query may return a raw decimal (see registry rule).
    """
    # NOTE: tz-aware vs naive timestamps are deliberately NOT normalized —
    # a DuckDB TIMESTAMPTZ vs Spark naive TIMESTAMP is an oracle bug the
    # driver's hash would see; keep the mismatch visible here.
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _driver_canonicalize(rows, cols):
    """Mirror of the verification driver's pandas canonicalization path.

    The driver builds a pandas frame from each engine's result, orders
    columns by name, and canonicalizes row order via a per-column
    factorize + whole-frame sort before value-hashing.  Both
    ``factorize`` and hashing require hashable cells, so any
    container-typed cell (list/dict/ndarray) raises ``TypeError:
    unhashable type`` *before* any comparison — exactly the round-3
    ``q_text_inverted_index`` failure this mirror previously masked by
    tuple-izing lists.  Run the same steps here so a representation the
    driver cannot digest fails the local suite too."""
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=cols)
    pdf = pdf[sorted(pdf.columns)]
    codes = {}
    for c in pdf.columns:
        # factorize is the driver's hashing primitive: raises on
        # unhashable (container) cells.
        codes[c] = pd.factorize(pdf[c], use_na_sentinel=True)[0]
    order = sorted(range(len(pdf)), key=lambda i: [codes[c][i] for c in pdf.columns])
    return pdf.iloc[order].reset_index(drop=True)


def _key(row):
    return tuple(
        (x is None, x if not isinstance(x, (int, float)) else float(x))
        if not isinstance(x, tuple)
        else (False, x)
        for x in (_norm(v) for v in row)
    )


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_matches_duckdb(name, spark, sf_dir, duck):
    q = REGISTRY[name]
    sdf = q.builder(spark, sf_dir)

    # Registry design rules, checked on the built frame before it runs:
    # * no container-typed (array/map/struct) column — the driver
    #   canonicalizes results via pandas (sort + per-column factorize),
    #   which raises ``TypeError: unhashable type`` on list/dict cells
    #   before any value comparison happens (the round-3 red row
    #   q_text_inverted_index).  Serialize containers to a scalar
    #   (concat_ws / string_agg) or explode to rows instead;
    # * no raw DECIMAL column — decimal accumulations cast to
    #   DOUBLE/BIGINT before returning, because the driver hashes the
    #   engine serialization of wide decimals, which differs between
    #   Spark and DuckDB even when every value matches.
    cont = [c for c, t in sdf.dtypes if t.startswith(("array", "map", "struct"))]
    assert not cont, f"{name}: container-typed columns {cont}"
    decs = [c for c, t in sdf.dtypes if t.startswith("decimal")]
    assert not decs, f"{name}: raw decimal columns {decs}"

    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(q.oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )

    # Type parity (the driver's schema check): DuckDB type names
    # normalized to Spark simple strings.
    def duck_norm(t):
        t = str(t).upper()
        m = {
            "VARCHAR": "string", "BIGINT": "bigint", "INTEGER": "int",
            "DOUBLE": "double", "TIMESTAMP": "timestamp",
            "TIMESTAMP_NS": "timestamp", "BOOLEAN": "boolean",
        }
        if t.endswith("[]"):
            return f"array<{duck_norm(t[:-2])}>"
        return t.lower() if t.startswith("DECIMAL") else m.get(t, t.lower())

    rel = duck.sql(q.oracle)
    duck_types = {c: duck_norm(t) for c, t in zip(rel.columns, rel.types)}
    spark_types = {
        c: ("timestamp" if t.startswith("timestamp") else t)
        for c, t in sdf.dtypes
    }
    type_diffs = {
        c: (spark_types.get(c), duck_types.get(c))
        for c in spark_types
        if spark_types.get(c) != duck_types.get(c)
    }
    assert not type_diffs, f"{name}: column type mismatches {type_diffs}"
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )

    # Driver canonicalization dry-run: raises TypeError on any cell the
    # driver's pandas factorize/hash path cannot digest (containers),
    # independent of whether the values would have matched.
    _driver_canonicalize(spark_rows, spark_cols)
    _driver_canonicalize(duck_rows, duck_cols)

    # Order-insensitive compare on name-sorted columns (driver semantics).
    s_order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    d_order = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
    s_set = sorted(
        (_key(tuple(r[i] for i in s_order)) for r in spark_rows), key=repr
    )
    d_set = sorted(
        (_key(tuple(r[i] for i in d_order)) for r in duck_rows), key=repr
    )
    mism = [
        (a, b) for a, b in zip(s_set, d_set) if a != b
    ]
    assert not mism, f"{name}: first value mismatches: {mism[:5]}"
