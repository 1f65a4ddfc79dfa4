"""Sinks: console, CSV, parquet, ORC, Kafka (K1–K5).

Fixes the reference's sink-chain bug: ``temReadFromTopic.py:98-102``
chains ``.mode("overwrite")`` AFTER ``.csv(...)`` — ``csv()`` returns
``None``, so the write runs in default (errorifexists) mode and the
script then crashes on ``NoneType.mode``. Here mode is set before the
terminal format call, always.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .sources.kafka import _security_options


def console_sink(df: DataFrame) -> None:
    """K3: batch console sink, 50 rows untruncated
    (temReadFromTopic.py:86-91 used ``write.format("console")``;
    ``show`` is the idiomatic equivalent)."""
    df.show(50, truncate=False)


def csv_sink(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
) -> None:
    """K5: CSV sink — pipe-delimited with header, like the reference's
    s3a://…/spark_output/tem_calculated write (temReadFromTopic.py:98-101),
    with the mode chained correctly."""
    df.write.mode(mode).option("header", True).option("sep", "|").csv(path)


def parquet_sink(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Columnar sink (engine default; the reference had none)."""
    df.write.mode(mode).parquet(path)


def orc_sink(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """ORC sink (built-in columnar alternative; Hive-ecosystem
    interop). Same partition-pruning story as parquet_sink — at scale
    the choice between the two is ecosystem, not plan shape. (Avro
    needs the external spark-avro package, absent here by design —
    gate any future avro_sink behind an import/classpath probe the way
    the media codecs are gated.)"""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def kafka_sink_options(
    bootstrap_servers: str,
    topic: str,
    security: dict[str, str] | None = None,
) -> dict[str, str]:
    """The exact writer option set for the Kafka sinks (K1), as a pure
    dict so tests can pin it against the reference's ``options_write``
    (temDataRead.py:60-75) without a broker. Bare security keys get the
    ``kafka.`` prefix the DataFrame writer requires."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "topic": topic,
        **_security_options(security),
    }


def kafka_stream_sink(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str,
    security: dict[str, str] | None = None,
    query_name: str = "kafka_stream_sink",
    _format: str = "kafka",
):
    """Streaming Kafka produce — the sink the reference's per-row loop
    (K2) should have been. Envelope-form input. Delivery is
    at-least-once: Spark's Kafka sink has no transactional writes, so
    a batch replayed from the checkpoint after a failure can produce
    its records a second time (ROADMAP item 3).

    ``_format`` is a test seam: the sandbox has neither a broker nor
    the spark-sql-kafka package, so the checkpoint/restart behavior of
    THIS builder (options, checkpointLocation, queryName, trigger) is
    exercised end-to-end with ``_format="noop"`` (the one sink that
    tolerates the kafka option set AND supports checkpoint recovery —
    the memory sink refuses both) — everything but the terminal format
    string is the production path
    (tests/test_sinks_sources.py::test_kafka_stream_sink_checkpoint_resume).
    """
    return (
        df.writeStream.format(_format)
        .options(**kafka_sink_options(bootstrap_servers, topic, security))
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .start()
    )
