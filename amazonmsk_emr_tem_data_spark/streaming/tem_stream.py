"""EP3 parity: the reference's streaming consumer, rebuilt.

Reference flow (``/root/reference/pyspark_scripts/03_temStreamEveryMin.py``):
Kafka stream → CAST(value AS STRING) → from_json(25-col schema) →
select(data.*) → horizontal Tem(Avg) → coalesce(1) → console sink,
1-minute processing-time trigger, append mode, named query, NO
watermark, NO checkpoint.

This module keeps the decode→derive semantics identical (via
functions/codec + functions/tem) but takes ANY envelope stream (Kafka
source in production, file source in tests), adds the missing
checkpointing, and drops the forced ``coalesce(1)`` (a single output
partition is a sink-side choice, not pipeline semantics — at 100 TB it
would serialize the whole stream through one task).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..functions.codec import from_kafka_envelope
from ..functions.tem import with_tem_avg
from ..schemas import tem_schema


def decode_tem_stream(envelope_stream: DataFrame) -> DataFrame:
    """value-cast → from_json → flatten → `Tem(Avg)` (P3/F2/P4/F3),
    identical semantics for batch and streaming inputs."""
    decoded = from_kafka_envelope(envelope_stream, tem_schema())
    return with_tem_avg(decoded)


def start_tem_console_query(
    envelope_stream: DataFrame,
    checkpoint_dir: str,
    trigger_interval: str = "1 minute",
) -> StreamingQuery:
    """The reference's sink config (T1–T4: 1-min processing-time
    trigger, append mode, named query, console with numRows=25,
    truncate off — 03_temStreamEveryMin.py:95-102) plus the checkpoint
    it lacked."""
    result = decode_tem_stream(envelope_stream)
    return (
        result.writeStream.outputMode("append")
        .format("console")
        .queryName("streaming_to_console")
        .option("numRows", "25")
        .option("truncate", "false")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=trigger_interval)
        .start()
    )
