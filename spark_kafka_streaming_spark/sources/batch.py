"""Batch file sources.

The reference has no batch file source at all (it only ever reads
Kafka; ``KafkaUtils.scala:163-240``): every relational capability in
this engine rests on Spark's columnar Parquet scan instead — predicate
pushdown, column pruning and partition pruning come free from Catalyst,
which is what makes the same queries viable at 100 TB.

Every parquet read of the catalog goes through :func:`read_parquet`,
which infers a file's schema once per process and plans later reads of
the unchanged file against the kept schema, so a query builder runs no
schema-inference job.
"""

from __future__ import annotations

import os
import stat
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

#: The driver-generated star schema + stream-shaped tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to broadcast at any scale factor the
#: engine targets (region/nation are bounded by geography; supplier and
#: part scale slowly relative to the fact tables).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


def ensure_session_confs(spark: SparkSession) -> None:
    """Make any externally-created session (e.g. the driver's) safe for
    the catalog: nanosecond parquet handling and a fixed UTC event-time
    zone. Both are runtime SQL confs, so this works on sessions the
    engine did not build."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


#: Session confs that change the schema Spark infers from the same
#: parquet files; their values are part of the schema-cache key.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

#: (file identity, inference confs) → the StructType Spark inferred;
#: emptied when it reaches ``_MAX_SCHEMAS`` entries.
_SCHEMAS: dict[tuple, StructType] = {}
_MAX_SCHEMAS = 4096


def _file_identity(path: str) -> tuple | None:
    """Absolute path + (size, mtime_ns) of a file; for a directory the
    sorted (relative name, size, mtime_ns) of its data files (Spark's
    hidden ``_``/``.`` names skipped).  ``None`` for a non-local or
    missing path, which is then inferred on every read."""
    if "://" in path:
        return None
    path = os.path.abspath(path)
    try:
        st = os.stat(path)
    except FileNotFoundError:
        return None
    if not stat.S_ISDIR(st.st_mode):
        return path, st.st_size, st.st_mtime_ns
    files = []
    for d, dirs, names in os.walk(path):
        dirs[:] = [n for n in dirs if not n.startswith(("_", "."))]
        for n in names:
            if not n.startswith(("_", ".")):
                f = os.path.join(d, n)
                st = os.stat(f)
                files.append((os.path.relpath(f, path), st.st_size, st.st_mtime_ns))
    return path, tuple(sorted(files))


def _read_parquet(spark: SparkSession, path: str) -> tuple[DataFrame, StructType]:
    """(frame, its schema); see :func:`read_parquet`."""
    ident = _file_identity(path)
    if ident is not None:
        key = (ident, tuple(spark.conf.get(c) for c in _INFERENCE_CONFS))
        schema = _SCHEMAS.get(key)
        if schema is not None:
            return spark.read.schema(schema).parquet(path), schema
    df = spark.read.parquet(path)
    schema = df.schema
    if ident is not None:
        if len(_SCHEMAS) >= _MAX_SCHEMAS:
            _SCHEMAS.clear()
        _SCHEMAS[key] = schema
    return df, schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that runs a schema-inference job only
    on the first read of a file identity in this process.

    The first read infers as Spark always does and keeps Spark's own
    ``StructType``; later reads of the same identity pass it to
    ``spark.read.schema(…)``, which plans without a job.  The identity
    is the file's absolute path + (size, mtime_ns), or for a directory
    the sorted (name, size, mtime_ns) of its data files, together with
    the session's :data:`_INFERENCE_CONFS` — so a rewritten file or a
    flipped inference conf is inferred again, and the kept schema is by
    construction the one inference gives.  The cache is process state:
    a process's first read of each file still pays the job (a warm pass
    fills it).  Store directories that change every trigger belong
    outside it (``streaming/`` reads them directly).
    """
    return _read_parquet(spark, path)[0]


def footer_row_bound(df: DataFrame) -> int | None:
    """An upper bound of ``df``'s row count from parquet footers, read
    on the driver without a Spark job, or ``None`` when ``df`` is not
    row-bounded by one parquet scan.

    Bounded means the analyzed plan is projections and filters over a
    single parquet relation: then ``df`` has at most the summed footer
    ``num_rows`` of its ``inputFiles()``.  Anything else (joins,
    explodes, unions, repartitions, non-parquet or non-local scans)
    returns ``None`` and the caller counts through Spark.
    """
    import pyarrow.parquet as pq

    node = df._jdf.queryExecution().analyzed()
    while node.nodeName() in ("Project", "Filter", "SubqueryAlias"):
        node = node.child()
    if node.nodeName() != "LogicalRelation":
        return None
    rel = node.relation()
    if (
        rel.getClass().getSimpleName() != "HadoopFsRelation"
        or rel.fileFormat().toString() != "Parquet"
    ):
        return None
    uris = [urlparse(f) for f in df.inputFiles()]
    if any(u.scheme not in ("", "file") for u in uris):
        return None
    return sum(pq.ParquetFile(unquote(u.path)).metadata.num_rows for u in uris)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one table; Catalyst prunes columns/predicates.

    Reads through :func:`read_parquet`, so only the first read of a
    table file in a process runs a schema-inference job.

    ``events.ts`` is TIMESTAMP(NANOS) in parquet; with
    ``spark.sql.legacy.parquet.nanosAsLong`` it surfaces as a long that
    we floor-divide to microseconds — the same truncation DuckDB applies
    when reading nanosecond timestamps into its µs TIMESTAMP.  Its type
    comes from the read's schema (kept or just inferred), not from a
    second round trip to the frame.
    """
    ensure_session_confs(spark)
    df, schema = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name != "events" or "ts" not in schema.names:
        return df
    ts_type = schema["ts"].dataType.simpleString()
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif ts_type == "timestamp_ntz":
        # Writers that emit NTZ timestamps (e.g. DuckDB-produced scale
        # replicas): under the fixed UTC session the cast is the
        # identity instant mapping.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def table_row_count(sf_dir: str, name: str) -> int:
    """Exact row count of one table from parquet FOOTER metadata — the
    statistics read every warehouse engine does instead of scanning.

    Several builders derive plan GEOMETRY (IVF/IMI cell counts, k-means
    k, LSH plane counts) from the corpus row count; a ``df.count()``
    there costs one full Spark job per query build.  The footer count
    is the same exact integer (these are unfiltered single-table
    scans), read in O(row groups) driver-side metadata — no job, no
    scan.  Only valid for the RAW table; any filtered/derived frame
    must keep counting through Spark.
    """
    import pyarrow.parquet as pq

    path = f"{sf_dir}/{name}.parquet"
    if os.path.isdir(path):
        ds = pq.ParquetDataset(path)
        return sum(
            frag.metadata.num_rows if frag.metadata is not None
            else frag.count_rows()
            for frag in ds.fragments
        )
    return pq.ParquetFile(path).metadata.num_rows


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> None:
    """Register every table as a temp view for the SQL API."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_fact_partitioned_by_month(
    df: DataFrame, ts_col: str, out_path: str, mode: str = "overwrite"
) -> None:
    """Write a fact table Hive-partitioned by month of ``ts_col`` — the
    storage layout SCALE.md prescribes for date-ranged scans at 100 TB.

    Readers that also filter on the derived ``ship_month``-style column
    (or just on ``ts_col`` if the query adds the month predicate) prune
    whole directories: measured 2.1× on a 12-of-83-month range at sf0.1
    locally; at cluster scale the win approaches the date selectivity
    of the query because unneeded files are never opened.
    """
    month_col = f"{ts_col}_month"
    (
        df.withColumn(month_col, F.date_format(ts_col, "yyyy-MM"))
        .write.mode(mode)
        .partitionBy(month_col)
        .parquet(out_path)
    )
