from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # lighter for tests

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from spark_kafka_streaming_spark.session import get_spark

    spark = get_spark(app_name="tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def emb(spark, sf_dir):
    """The ``embeddings`` table, cached for the session."""
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df.persist().count()
    yield df
    df.unpersist()


@pytest.fixture(scope="session")
def docs(spark, sf_dir):
    """The ``documents`` table."""
    from spark_kafka_streaming_spark.sources.batch import load_table

    return load_table(spark, sf_dir, "documents")


@pytest.fixture(scope="session")
def events(spark, sf_dir):
    """The ``events`` table."""
    from spark_kafka_streaming_spark.sources.batch import load_table

    return load_table(spark, sf_dir, "events")
