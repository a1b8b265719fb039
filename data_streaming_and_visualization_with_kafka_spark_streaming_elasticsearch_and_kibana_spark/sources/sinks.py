"""Sinks — Kafka, Elasticsearch, partitioned Parquet.

Replaces the reference's two throughput ceilings (SURVEY §4): the
row-at-a-time `producer.send → flush → sleep` (dataframe_to_kafka.py:94-102)
and the per-row HTTP `es.index` (kafka_to_es.py:60) with batched
connector/bulk writes.

The ES connector jar and a live cluster aren't in the test container, so
ES sinks are config-builders + a `foreachBatch` bulk bridge gated behind
an import-try; the Spark-side plumbing (options, modes, per-query
checkpoints) is real and unit-tested.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# -------------------------------------------------------------------- kafka
def write_kafka_batch(
    df: DataFrame, bootstrap: str, topic: str
) -> None:
    """S7, batched: df must already have (key BINARY, value BINARY) —
    see functions.codecs.encode_for_kafka. Executors each hold one
    producer per partition; no per-row flush."""
    (
        df.write.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic)
        .save()
    )


def kafka_stream_writer(df: DataFrame, bootstrap: str, topic: str, checkpoint: str):
    """Streaming replay to Kafka — the engine's version of the reference
    producer loop; throttling belongs on the source (maxOffsetsPerTrigger
    / maxFilesPerTrigger), not a sleep."""
    return (
        df.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
    )


# ----------------------------------------------------------- elasticsearch
def es_writer_options(
    index: str,
    mapping_id: str | None = None,
    nodes: str = "localhost",
    port: int = 9200,
) -> dict[str, str]:
    """S8/S9 connector options (spark_streaming_kafka.py:37-44).

    `mapping_id` gives keyed-upsert (doc id = column → last-write-wins
    per key); `index` may contain a `{field}` pattern for dynamic
    per-row routing (kafka_to_es.py:55-62's per-room indices, done by
    the connector instead of per-row Python HTTP calls).
    """
    opts = {
        "es.nodes": nodes,
        "es.port": str(port),
        "es.resource": index,
    }
    if mapping_id:
        opts["es.mapping.id"] = mapping_id
    return opts


def write_es_stream(df: DataFrame, checkpoint: str, **opts_kwargs):
    """writeStream via the elasticsearch-spark connector (jar required)."""
    w = df.writeStream.format("org.elasticsearch.spark.sql").outputMode("append")
    for k, v in es_writer_options(**opts_kwargs).items():
        w = w.option(k, v)
    # per-query checkpoint dir — the reference shared one dir across
    # queries (spark_streaming_kafka.py:8 + kafka_to_es.py:21), a bug.
    return w.option("checkpointLocation", checkpoint)


def es_bulk_foreach_batch(
    index_for_row: Callable[[dict], str],
    nodes: str = "localhost:9200",
    id_field: str | None = None,
) -> Callable[[DataFrame, int], None]:
    """S10 bridge: foreachBatch callback doing BULK writes via
    elasticsearch-py (gated import), replacing kafka_to_es.py:55-62's
    one-HTTP-request-per-row loop. Collect happens per partition on
    executors (mapInPandas-free; uses toLocalIterator-free bulk per
    partition)."""

    def _write(batch_df: DataFrame, epoch_id: int) -> None:
        def _partition_writer(rows):
            try:
                from elasticsearch import Elasticsearch, helpers
            except ImportError as e:  # pragma: no cover - container has no ES
                raise NotImplementedError(
                    "elasticsearch-py not installed; ES sink requires it"
                ) from e
            es = Elasticsearch(nodes)
            actions = []
            for row in rows:
                d = row.asDict()
                action = {"_index": index_for_row(d), "_source": d}
                if id_field:
                    action["_id"] = d[id_field]
                actions.append(action)
            helpers.bulk(es, actions)

        batch_df.foreachPartition(_partition_writer)

    return _write


# ------------------------------------------------------------------ parquet
def write_partitioned_parquet(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Engine-canonical persisted layout (S5 upgraded): partitioned
    Parquet → static + dynamic partition pruning downstream. Partition by
    low-cardinality time/dim cols (dt, room), never high-cardinality ids."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)
