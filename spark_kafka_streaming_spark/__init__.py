"""spark_kafka_streaming_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of
the reference ``wgnet/spark-kafka-streaming`` (a Spark-1.x Kafka
receiver + streaming word-count example), re-expressed Spark-first:

* the reference's hand-built Kafka receiver (S1-S13 in SURVEY.md §2a,
  ``PartitionedSimpleConsumerKafkaInputDStream.scala:48-487``) becomes
  ``spark.readStream.format("kafka")`` behind :mod:`.sources.kafka`;
* the byte→string flat-mapper (T1,
  ``PartitionedSimpleConsumerKafkaInputDStream.scala:50``) becomes the
  declarative decode layer in :mod:`.streaming.decode`;
* the windowed word-count query (Q1-Q7,
  ``examples/.../KafkaWordCount.scala:53-73``) becomes watermarked
  event-time windows in :func:`.streaming.decode.token_counts_windowed`;
* HBase offset bookkeeping + JMX metrics (S6-S9, M1-M3) become
  Structured Streaming checkpoints + :mod:`.streaming.monitor`.

On top of reference parity, the engine ships the relational operator
surface (:mod:`.queries`) and LLM-data-pipeline operators
(:mod:`.operators.dedup`, :mod:`.operators.similarity`,
:mod:`.operators.text`, :mod:`.operators.multimodal`) designed for
100 TB scale: broadcast-able dims, map-side-combinable aggregations,
LSH bucketing instead of cross joins, Arrow-batched UDFs only where
built-ins cannot express the semantics.
"""

__version__ = "0.1.0"

from .session import get_spark  # noqa: F401
