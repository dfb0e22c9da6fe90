"""Avro encode/decode (reference T3/T4, ``AvroDatumUtils.scala:15-37``).

The reference serializes ``Seq[GenericContainer]`` to Avro
*container-file* bytes (schema embedded — dynamic/self-describing) and
decodes bytes back to ``(Schema, Seq[GenericRecord])``. Spark's
``from_avro``/``to_avro`` instead use the *raw datum* encoding with an
explicit reader schema — the scalable form (schema once per plan, not
once per row batch). The dynamic-schema case is handled as SURVEY.md
§7 prescribes: extract the schema in a discovery pass, then run the
fixed-schema decode.

Two tiers:

* raw-datum ``encode_avro``/``decode_avro`` — Spark's native
  ``to_avro``/``from_avro`` (whole-stage JVM path, schema once per
  plan).  Requires the ``spark-avro`` connector jar (not bundled with
  pip pyspark); gated with a clear error.
* container-file ``encode_avro_container``/``decode_avro_container`` —
  the reference's actual semantics (schema embedded per blob,
  ``AvroDatumUtils.scala:15-37``), implemented on the pure-Python
  codec (:mod:`.avro_py`) inside Arrow-batched ``mapInPandas``.  Works
  without any jar; ``container_schema_of`` is the dynamic-schema
  discovery pass.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import avro_py

# The container codec runs inside mapInPandas workers, which must not
# depend on this package being importable from the worker's
# sys.path (the driver process may run from any cwd). avro_py is
# stdlib-only, so ship it by value inside the pickled closure.
try:  # pragma: no cover - vendored cloudpickle location
    from pyspark import cloudpickle as _cp
except ImportError:  # pragma: no cover
    from pyspark.serializers import cloudpickle as _cp  # type: ignore
_cp.register_pickle_by_value(avro_py)


class AvroNotAvailable(RuntimeError):
    """Raised when the spark-avro connector jar is absent."""


def is_avro_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.spark.sql.avro.AvroDataToCatalyst"
        )
        return True
    except Exception:
        return False


def require_avro(spark: SparkSession) -> None:
    if not is_avro_available(spark):
        raise AvroNotAvailable(
            "spark-avro connector not on classpath; add "
            "org.apache.spark:spark-avro_2.13:<spark-version>"
        )


def encode_avro(df: DataFrame, *cols: str, out: str = "avro_bytes") -> DataFrame:
    """struct(cols) → Avro datum bytes (T3: ``AvroDatumUtils.serialize``)."""
    require_avro(df.sparkSession)
    from pyspark.sql.avro.functions import to_avro

    return df.withColumn(out, to_avro(F.struct(*[F.col(c) for c in cols])))


def decode_avro(
    df: DataFrame, json_schema: str, column: str = "avro_bytes"
) -> DataFrame:
    """Avro bytes → typed struct columns (T4: ``avroRecords``)."""
    require_avro(df.sparkSession)
    from pyspark.sql.avro.functions import from_avro

    passthrough = [c for c in df.columns if c != column]
    return df.select(
        *passthrough, from_avro(F.col(column), json_schema).alias("_rec")
    ).select(*passthrough, "_rec.*")


def avro_schema_of(df: DataFrame, *cols: str) -> str:
    """Discovery pass for dynamic-schema data: derive the Avro JSON
    schema for selected columns from the DataFrame schema (the
    fixed-schema replacement for the reference's schema-in-data,
    ``AvroDatumUtils.scala:35``)."""
    import json

    def avro_type(dt):
        m = {
            "long": "long",
            "bigint": "long",
            "int": "int",
            "integer": "int",
            "double": "double",
            "float": "float",
            "string": "string",
            "boolean": "boolean",
            "binary": "bytes",
        }
        s = dt.simpleString()
        if s in m:
            return ["null", m[s]]
        if s.startswith("timestamp"):
            return ["null", {"type": "long", "logicalType": "timestamp-micros"}]
        raise ValueError(f"no avro mapping for {s}")

    fields = [
        {"name": f.name, "type": avro_type(f.dataType)}
        for f in df.schema.fields
        if f.name in cols
    ]
    return json.dumps(
        {"type": "record", "name": "rec", "fields": fields}
    )


# ----------------------------------------------- container-file (no jar)


def _strip_union(ftype):
    """['null', T] → (T, nullable)."""
    if isinstance(ftype, list):
        branches = [b for b in ftype if b != "null"]
        if len(branches) != 1:
            raise ValueError(f"only null-unions supported, got {ftype!r}")
        return branches[0], True
    return ftype, False


def _is_ts_micros(ftype) -> bool:
    ftype, _ = _strip_union(ftype)
    return (
        isinstance(ftype, dict)
        and ftype.get("logicalType") == "timestamp-micros"
    )


def _avro_to_spark_ddl(schema: dict) -> str:
    prim = {
        "long": "bigint",
        "int": "int",
        "double": "double",
        "float": "float",
        "string": "string",
        "bytes": "binary",
        "boolean": "boolean",
    }
    parts = []
    for f in schema["fields"]:
        ftype, _ = _strip_union(f["type"])
        if _is_ts_micros(f["type"]):
            parts.append(f"{f['name']} timestamp")
        elif isinstance(ftype, str) and ftype in prim:
            parts.append(f"{f['name']} {prim[ftype]}")
        else:
            raise ValueError(f"no spark mapping for avro type {ftype!r}")
    return ", ".join(parts)


def encode_avro_container(
    df: DataFrame, *cols: str, out: str = "avro_bytes"
) -> DataFrame:
    """Rows → self-describing Avro container blobs, one per Arrow batch
    (T3, ``AvroDatumUtils.serialize``: ``Seq[GenericContainer]`` →
    container bytes with the schema embedded).

    Pure-Python codec in ``mapInPandas`` — no connector jar; the
    Python cost is per-batch framing, Arrow moves the columns. Output:
    ``(out binary, n_records long)``.
    """
    import pandas as pd

    from . import avro_py

    schema = json.loads(avro_schema_of(df, *cols))
    ts_cols = [
        f["name"] for f in schema["fields"] if _is_ts_micros(f["type"])
    ]
    collist = list(cols)

    def _clean(v):
        if v is None or (isinstance(v, float) and v != v):
            return None
        return v

    def enc(batches):
        for pdf in batches:
            pdf = pdf[collist].copy()
            for c in ts_cols:
                # pandas datetime64 → integer microseconds
                pdf[c] = pdf[c].astype("int64") // 1000
            recs = [
                {k: _clean(v) for k, v in row.items()}
                for row in pdf.to_dict("records")
            ]
            yield pd.DataFrame(
                {
                    out: [avro_py.write_container(recs, schema)],
                    "n_records": [len(recs)],
                }
            )

    return df.mapInPandas(enc, schema=f"{out} binary, n_records bigint")


def container_schema_of(df: DataFrame, column: str = "avro_bytes") -> str:
    """Dynamic-schema discovery pass (T4, ``AvroDatumUtils.scala:35``;
    SURVEY.md §7): peek at ONE blob's header and return the embedded
    writer schema JSON.  A driver-side metadata read of a single row —
    the per-blob schema check stays distributed in
    :func:`decode_avro_container`."""
    from . import avro_py

    row = df.select(column).first()
    if row is None or row[0] is None:
        raise ValueError("no avro blobs to discover a schema from")
    return json.dumps(avro_py.read_schema(bytes(row[0])))


def decode_avro_container(
    df: DataFrame, column: str = "avro_bytes", json_schema: str | None = None
) -> DataFrame:
    """Container blobs → typed rows (T4, ``avroRecords``).

    With ``json_schema=None`` the writer schema is discovered from the
    data (one-blob header peek), then every blob's embedded schema is
    verified against it during the distributed decode — the honest
    version of schema-in-data at scale: discovery is O(1), per-blob
    drift is an error, not a silent coercion.
    """
    import pandas as pd

    from . import avro_py

    if json_schema is None:
        json_schema = container_schema_of(df, column)
    schema = json.loads(json_schema)
    names = [f["name"] for f in schema["fields"]]
    ts_cols = [
        f["name"] for f in schema["fields"] if _is_ts_micros(f["type"])
    ]
    ddl = _avro_to_spark_ddl(schema)

    def dec(batches):
        for pdf in batches:
            rows: list[dict] = []
            for blob in pdf[column]:
                s, recs = avro_py.read_container(bytes(blob))
                if s != schema:
                    raise ValueError(
                        "blob writer schema differs from reader schema: "
                        f"{s!r} vs {schema!r}"
                    )
                rows.extend(recs)
            out = pd.DataFrame(rows, columns=names)
            for c in ts_cols:
                out[c] = pd.to_datetime(out[c], unit="us")
            yield out

    return df.select(column).mapInPandas(dec, schema=ddl)
