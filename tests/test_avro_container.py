"""Avro container-file codec (reference T3/T4, AvroDatumUtils.scala:15-37):
pure-Python encode/decode with embedded (self-describing) schema,
running ungated — no spark-avro jar required."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from spark_kafka_streaming_spark.functions import avro_py
from spark_kafka_streaming_spark.functions.avro import (
    avro_schema_of,
    container_schema_of,
    decode_avro_container,
    encode_avro_container,
)
from spark_kafka_streaming_spark.sources.batch import load_table

REC = {
    "type": "record",
    "name": "rec",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": ["null", "string"]},
        {"name": "score", "type": "double"},
        {"name": "flag", "type": "boolean"},
        {"name": "blob", "type": "bytes"},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "props", "type": {"type": "map", "values": "long"}},
    ],
}

ROWS = [
    {
        "id": 1, "name": "alpha", "score": 1.5, "flag": True,
        "blob": b"\x00\x01", "tags": ["a", "b"], "props": {"x": 9},
    },
    {
        "id": -7, "name": None, "score": -0.25, "flag": False,
        "blob": b"", "tags": [], "props": {},
    },
]


def test_roundtrip_records_and_schema():
    blob = avro_py.write_container(ROWS, REC)
    schema, recs = avro_py.read_container(blob)
    assert schema == REC
    assert recs == ROWS
    assert avro_py.read_schema(blob) == REC


def test_zigzag_varint_edge_values():
    for n in (0, 1, -1, 63, 64, -64, -65, 2**31 - 1, -(2**31),
              2**62, -(2**62)):
        buf = bytearray()
        avro_py.write_long(buf, n)
        import io

        assert avro_py.read_long(io.BytesIO(bytes(buf))) == n


def test_corrupt_container_raises():
    blob = avro_py.write_container(ROWS, REC)
    with pytest.raises(ValueError, match="magic"):
        avro_py.read_container(b"NOPE" + blob[4:])
    with pytest.raises(ValueError, match="sync"):
        avro_py.read_container(blob[:-1] + b"\x00")


def test_spark_container_roundtrip_with_discovery(spark, sf_dir):
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "n_chars")
        .filter(F.col("doc_id") < 100)
    )
    encoded = encode_avro_container(docs, "doc_id", "lang", "n_chars")
    # blobs are self-describing: schema recovered from the data alone
    discovered = json.loads(container_schema_of(encoded))
    assert discovered == json.loads(avro_schema_of(docs, "doc_id", "lang", "n_chars"))
    decoded = decode_avro_container(encoded)
    assert decoded.schema.simpleString() == (
        "struct<doc_id:bigint,lang:string,n_chars:bigint>"
    )
    orig = sorted(map(tuple, docs.collect()))
    back = sorted(map(tuple, decoded.collect()))
    assert back == orig


def test_spark_container_roundtrip_timestamps(spark, sf_dir):
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "value")
        .filter(F.col("event_id") < 50)
    )
    encoded = encode_avro_container(ev, "event_id", "ts", "value")
    decoded = decode_avro_container(encoded)
    assert dict(decoded.dtypes)["ts"] == "timestamp"
    orig = sorted(map(tuple, ev.collect()))
    back = sorted(map(tuple, decoded.collect()))
    assert back == orig


def test_decode_rejects_schema_drift(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    enc = encode_avro_container(docs, "doc_id", "lang")
    other = json.dumps(
        {"type": "record", "name": "rec",
         "fields": [{"name": "doc_id", "type": ["null", "long"]}]}
    )
    with pytest.raises(Exception, match="differs"):
        decode_avro_container(enc, json_schema=other).collect()

def test_interop_with_fastavro_if_present():
    """If a real Avro implementation is importable, our bytes must be
    readable by it (and vice versa). Skipped in this sandbox."""
    fastavro = pytest.importorskip("fastavro")
    import io

    blob = avro_py.write_container(ROWS, REC)
    got = list(fastavro.reader(io.BytesIO(blob)))
    assert [dict(r) for r in got] == ROWS
