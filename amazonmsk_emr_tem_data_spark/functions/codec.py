"""Kafka JSON envelope codec (F1/F2/P2–P5).

The reference's wire format (built at
``/root/reference/pyspark_scripts/temDataRead.py:78-79``, decoded at
``temReadFromTopic.py:81-83``):

- ``key``   = ``CAST(<key_col> AS STRING)``
- ``value`` = ``to_json(struct(*))`` — the whole row as one JSON object

Decode = ``CAST(value AS STRING)`` → ``from_json(value, schema)`` →
``select("data.*")``. ``from_json`` runs in PERMISSIVE mode: a malformed
``value`` yields an all-NULL struct — that null behavior is part of the
reference semantics (SURVEY.md §2.4 F2) and is covered by tests.

Timestamps: the engine's schemas use real TimestampType (the reference
kept strings). JSON serialization defaults to millisecond precision,
which would silently truncate microsecond event times on a round-trip —
so both directions pin a microsecond-precision format.

Everything here is built-in column expressions — JVM-side, codegen'd,
zero Python in the hot path — so the codec adds no per-row Python cost
at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Round-trip-safe JSON timestamp format (microsecond precision, UTC).
JSON_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

_JSON_OPTS = {"timestampFormat": JSON_TS_FORMAT}


def to_kafka_envelope(df: DataFrame, key_col: str = "id") -> DataFrame:
    """F1 + P2: project a DataFrame into Kafka (key, value) envelope form.

    Equivalent of ``selectExpr("CAST(id AS STRING) AS key",
    "to_json(struct(*)) AS value")`` (temDataRead.py:78-79). The struct
    captures every column of ``df`` in order, key column included (the
    reference also serializes the key inside the payload).
    """
    return df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in df.columns]), _JSON_OPTS).alias("value"),
    )


def from_kafka_envelope(df: DataFrame, schema: T.StructType) -> DataFrame:
    """F2 + P3/P4/P5: decode Kafka records back into typed rows.

    ``CAST(value AS STRING)`` → ``from_json(..., schema).alias("data")``
    → ``select("data.*")`` (temReadFromTopic.py:81-83). PERMISSIVE mode:
    malformed JSON → all-NULL struct, preserved intentionally.
    """
    return (
        df.select(F.col("value").cast("string").alias("value"))
        .select(F.from_json(F.col("value"), schema, _JSON_OPTS).alias("data"))
        .select("data.*")
    )
