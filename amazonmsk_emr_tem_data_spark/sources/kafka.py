"""Kafka source options (S2 batch, S3 streaming).

Re-expresses the reference's bounded and unbounded Kafka reads
(``/root/reference/pyspark_scripts/temReadFromTopic.py:36-59`` and
``03_temStreamEveryMin.py:41-64``) as option-builder functions: a read
is ``spark.read.format("kafka").options(**kafka_batch_options(...))``
(``spark.readStream`` with ``kafka_stream_options`` for the stream).
The reference hard-wires SASL_SSL + AWS_MSK_IAM auth inline; here
security options are an opaque dict passed through, so the same options
run against a plaintext local broker, MSK-IAM, or any SASL mechanism.

The builders are pure dicts, parity-tested against the reference's
option sets. Reading needs a broker and the spark-sql-kafka package;
the envelope codec (functions/codec.py) carries the read's semantics
and is tested broker-free via round-trips.

Scale notes:
- ``minPartitions`` lets a 1000-executor cluster split topic partitions
  into more Spark input splits than Kafka partitions.
- ``maxOffsetsPerTrigger`` bounds micro-batch size so a replay from
  ``earliest`` over years of history doesn't produce one giant batch.
"""

from __future__ import annotations


def msk_iam_security(
    truststore: str = "/tmp/kafka.client.truststore.jks",
) -> dict[str, str]:
    """The reference's MSK IAM auth bundle (temReadFromTopic.py:44-54),
    expressed as a plain security dict for the option builders."""
    return {
        "kafka.ssl.truststore.location": truststore,
        "kafka.security.protocol": "SASL_SSL",
        "kafka.sasl.mechanism": "AWS_MSK_IAM",
        "kafka.sasl.jaas.config":
            "software.amazon.msk.auth.iam.IAMLoginModule required;",
        "kafka.sasl.client.callback.handler.class":
            "software.amazon.msk.auth.iam.IAMClientCallbackHandler",
    }


def _security_options(security: dict[str, str] | None) -> dict[str, str]:
    # e.g. kafka.security.protocol=SASL_SSL, kafka.sasl.mechanism=AWS_MSK_IAM;
    # bare keys get the kafka. client-config prefix.
    return {
        (k if k.startswith("kafka.") else f"kafka.{k}"): v
        for k, v in (security or {}).items()
    }


def kafka_batch_options(
    bootstrap_servers: str,
    topic: str,
    security: dict[str, str] | None = None,
) -> dict[str, str]:
    """The bounded-read option set (temReadFromTopic.py:36-54's
    ``options_read`` dict, with auth as passthrough). Pure builder so
    tests can assert parity with the reference broker-free."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": "earliest",
        "endingOffsets": "latest",
        **_security_options(security),
    }


def kafka_stream_options(
    bootstrap_servers: str,
    topic: str,
    security: dict[str, str] | None = None,
    max_offsets_per_trigger: int | None = None,
    min_partitions: int | None = None,
) -> dict[str, str]:
    """The unbounded-read option set (03_temStreamEveryMin.py:41-57's
    ``options_read``: same as batch minus endingOffsets)."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": "earliest",
        **_security_options(security),
    }
    if max_offsets_per_trigger:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    if min_partitions:
        opts["minPartitions"] = str(min_partitions)
    return opts
