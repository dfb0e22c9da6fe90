"""Decode layer — the declarative replacement of the reference's
flat-mapper.

The reference's only schema hook is a user closure
``Array[Byte] => Seq[String]`` applied per message inside the receiver
(``PartitionedSimpleConsumerKafkaInputDStream.scala:50,310``), with the
key UTF-8-decoded (`:305-309`); refactoring it is an acknowledged TODO
(``README.md:16``). Here decoding is column expressions, so it runs in
whole-stage codegen, fans out with ``explode`` (one message → N rows),
and Catalyst can prune/push around it — a Python closure would force
row-at-a-time serde on every message at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def decode_string(df: DataFrame) -> DataFrame:
    """(key,value) bytes → UTF-8 strings: the reference's default
    flat-mapper (``SparkUtils.scala:18``, single-string decode)."""
    cols = [
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
    ]
    passthrough = [c for c in df.columns if c not in ("key", "value")]
    return df.select(*cols, *passthrough)


def decode_json(df: DataFrame, schema: T.StructType | str, column: str = "value") -> DataFrame:
    """value bytes → typed struct columns via ``from_json``.

    Generalizes the flat-mapper to real schemas: bad records yield
    nulls (permissive), keeping the stream alive exactly like the
    reference's drop-on-decode-error behavior.
    """
    parsed = F.from_json(F.col(column).cast("string"), schema)
    passthrough = [c for c in df.columns if c != column]
    return df.select(*passthrough, parsed.alias("_rec")).select(
        *passthrough, "_rec.*"
    )


def decode_json_with_dlq(
    df: DataFrame, schema: T.StructType | str, column: str = "value"
) -> DataFrame:
    """``from_json`` decode that *tags* undecodable records instead of
    silently nulling them: output carries the typed columns plus
    ``_raw`` (original payload) and ``_corrupt`` (true when the payload
    was not parseable JSON).

    At 100 TB a poison message must neither kill the query nor vanish —
    split the result with :func:`valid_records` / :func:`dead_letters`
    and route the dead letters to their own sink for replay. All column
    expressions (no UDF), so the tagging rides whole-stage codegen.

    Detection detail: permissive ``from_json`` yields an all-null struct
    (not a null) for malformed input, so ``isNull`` can't see corruption;
    the reliable signal is the ``columnNameOfCorruptRecord`` field, which
    is non-null exactly for unparseable payloads.
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    cr = "_cr"
    schema_with_cr = T.StructType(
        list(schema.fields) + [T.StructField(cr, T.StringType())]
    )
    raw = F.col(column).cast("string")
    parsed = F.from_json(
        raw, schema_with_cr, {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": cr}
    )
    passthrough = [c for c in df.columns if c != column]
    return (
        df.select(
            *passthrough,
            raw.alias("_raw"),
            parsed.alias("_rec"),
        )
        .select(
            *passthrough,
            "_raw",
            F.col(f"_rec.{cr}").isNotNull().alias("_corrupt"),
            "_rec.*",
        )
        .drop(cr)
    )


def valid_records(decoded: DataFrame) -> DataFrame:
    """The good half of :func:`decode_json_with_dlq` (typed columns only)."""
    return decoded.filter(~F.col("_corrupt")).drop("_raw", "_corrupt")


def dead_letters(decoded: DataFrame) -> DataFrame:
    """The dead-letter half: original payloads that failed to decode."""
    return decoded.filter(F.col("_corrupt")).select("_raw")


def explode_tokens(df: DataFrame, column: str = "value", sep: str = " ") -> DataFrame:
    """One message → N elements (the fan-out the flat-mapper allowed,
    ``...InputDStream.scala:310``; word-split case
    ``KafkaWordCount.scala:70``)."""
    passthrough = [c for c in df.columns if c != column]
    return df.select(
        *passthrough,
        F.explode(F.split(F.col(column).cast("string"), sep)).alias("token"),
    ).filter(F.col("token") != "")


def decode_keyed_records(
    df: DataFrame, value_schema: T.StructType | str
) -> DataFrame:
    """Kafka frame → (key string, typed value struct, event timestamp):
    the full projection of the reference's ``(String, String)`` pair
    model onto typed columns."""
    return decode_json(decode_string(df), value_schema)


def token_counts_windowed(
    df: DataFrame,
    window: str = "10 minutes",
    slide: str | None = "2 seconds",
    watermark: str = "10 minutes",
    ts_col: str = "timestamp",
) -> DataFrame:
    """The flagship streaming query: sliding-window word count — the
    event-time, watermarked successor of
    ``reduceByKeyAndWindow(_+_, _-_, Minutes(10), Seconds(2), 2)``
    (``KafkaWordCount.scala:70-73``). Incrementality comes from the
    state store (no inverse function needed); late rows beyond the
    watermark are dropped instead of silently mis-bucketed.
    """
    tokens = explode_tokens(df)
    win = (
        F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    )
    return (
        tokens.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), F.col("token").alias("word"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), F.col("w.end").alias("we"), "word", "n")
    )
