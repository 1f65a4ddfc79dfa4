"""Broker-free evidence for the Kafka boundary (S2/S3/K1) and the CSV
sink (K5).

The sandbox has no Kafka broker, so the reader/writer OPTION SETS are
asserted to match the reference's literal option dicts
(/root/reference/pyspark_scripts/temReadFromTopic.py:36-54 and
03_temStreamEveryMin.py:41-57); the envelope codec that carries the
actual value semantics is oracle-checked elsewhere. The CSV sink — the
one sink the reference crashed on (temReadFromTopic.py:98-102 chained
.mode() after .csv()) — is round-tripped on disk.
"""

import os

from pyspark.sql import functions as F

from amazonmsk_emr_tem_data_spark.sinks import csv_sink
from amazonmsk_emr_tem_data_spark.sources.files import load_table
from amazonmsk_emr_tem_data_spark.sources.kafka import (
    kafka_batch_options,
    kafka_stream_options,
    msk_iam_security,
)

# temReadFromTopic.py:36-54, verbatim (params resolved).
_REFERENCE_BATCH_OPTIONS = {
    "kafka.bootstrap.servers": "b-1.msk:9098,b-2.msk:9098",
    "subscribe": "exp.tem1.spark.streaming",
    "startingOffsets": "earliest",
    "endingOffsets": "latest",
    "kafka.ssl.truststore.location": "/tmp/kafka.client.truststore.jks",
    "kafka.security.protocol": "SASL_SSL",
    "kafka.sasl.mechanism": "AWS_MSK_IAM",
    "kafka.sasl.jaas.config":
        "software.amazon.msk.auth.iam.IAMLoginModule required;",
    "kafka.sasl.client.callback.handler.class":
        "software.amazon.msk.auth.iam.IAMClientCallbackHandler",
}


def test_kafka_batch_options_match_reference():
    opts = kafka_batch_options(
        "b-1.msk:9098,b-2.msk:9098",
        "exp.tem1.spark.streaming",
        security=msk_iam_security(),
    )
    assert opts == _REFERENCE_BATCH_OPTIONS


def test_kafka_stream_options_match_reference():
    # 03_temStreamEveryMin.py:41-57: identical minus endingOffsets.
    expected = {
        k: v for k, v in _REFERENCE_BATCH_OPTIONS.items() if k != "endingOffsets"
    }
    opts = kafka_stream_options(
        "b-1.msk:9098,b-2.msk:9098",
        "exp.tem1.spark.streaming",
        security=msk_iam_security(),
    )
    assert opts == expected


def test_console_sink_prints_decoded_tem_untruncated(spark, capsys):
    """K3 (temReadFromTopic.py:86-91): the console sink prints decoded
    tem rows with the derived ``Tem(Avg)`` column, and neither the
    22-char header TbottomTestTankLoadCir nor the 26-char microsecond
    timestamps are cut at show()'s default 20 chars."""
    import json

    from amazonmsk_emr_tem_data_spark.schemas import TEM_MEASURE_COLS
    from amazonmsk_emr_tem_data_spark.sinks import console_sink
    from amazonmsk_emr_tem_data_spark.streaming.tem_stream import (
        decode_tem_stream,
    )

    def envelope(i: int, t: float) -> tuple[str, str]:
        body = {
            "id": i,
            "dateTime": f"2021-06-07T10:31:0{i % 10}.123456Z",
            **{c: t for c in TEM_MEASURE_COLS},
        }
        return str(i), json.dumps(body)

    env = spark.createDataFrame(
        [envelope(2799, 20.5), envelope(2800, 21.25)],
        "key string, value string",
    )
    console_sink(decode_tem_stream(env))
    lines = capsys.readouterr().out.splitlines()
    header = next(line for line in lines if "Tem(Avg)" in line)
    assert "TbottomTestTankLoadCir" in header
    rows = [line for line in lines if line.startswith(("|2799", "|2800"))]
    assert len(rows) == 2
    for row, (i, t) in zip(rows, [(2799, "20.5"), (2800, "21.25")]):
        cells = [c.strip() for c in row.strip("|").split("|")]
        assert cells[1] == f"2021-06-07 10:31:0{i % 10}.123456"
        assert cells[-1] == t  # Tem(Avg) of ten equal channels


def test_kafka_options_prefix_bare_security_keys():
    opts = kafka_batch_options(
        "localhost:9092", "t", security={"security.protocol": "PLAINTEXT"}
    )
    assert opts["kafka.security.protocol"] == "PLAINTEXT"


def test_kafka_stream_throttles_and_splits():
    opts = kafka_stream_options(
        "localhost:9092", "t", max_offsets_per_trigger=10_000, min_partitions=64
    )
    assert opts["maxOffsetsPerTrigger"] == "10000"
    assert opts["minPartitions"] == "64"


def test_csv_sink_roundtrip(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "nation").orderBy("n_nationkey")
    out = str(tmp_path / "nation_csv")
    csv_sink(src, out)
    # pipe-delimited with header, like the reference's intended write
    part = next(p for p in os.listdir(out) if p.startswith("part-"))
    with open(os.path.join(out, part)) as fh:
        first = fh.readline()
    assert "|" in first and "n_nationkey" in first

    back = (
        spark.read.option("header", True)
        .option("sep", "|")
        .schema(src.schema)
        .csv(out)
    )
    assert sorted(back.collect()) == sorted(src.collect())
    # overwrite mode: a second write must not raise (the reference's
    # chained-mode bug made this path crash with errorifexists)
    csv_sink(src.limit(5), out)
    assert spark.read.option("header", True).option("sep", "|").csv(out).count() == 5


def test_csv_sink_respects_explicit_mode(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "region")
    out = str(tmp_path / "region_csv")
    csv_sink(src, out, mode="append")
    csv_sink(src, out, mode="append")
    n = spark.read.option("header", True).option("sep", "|").csv(out).count()
    assert n == 2 * src.count()


# --- K1: writer wire format, broker-free (temDataRead.py:60-83) ---

# temDataRead.py:60-75, verbatim (params resolved; topic_output at :12).
_REFERENCE_WRITER_OPTIONS = {
    "kafka.bootstrap.servers": "b-1.msk:9098,b-2.msk:9098",
    "topic": "exp.tem1.spark.streaming",
    "kafka.ssl.truststore.location": "/tmp/kafka.client.truststore.jks",
    "kafka.security.protocol": "SASL_SSL",
    "kafka.sasl.mechanism": "AWS_MSK_IAM",
    "kafka.sasl.jaas.config":
        "software.amazon.msk.auth.iam.IAMLoginModule required;",
    "kafka.sasl.client.callback.handler.class":
        "software.amazon.msk.auth.iam.IAMClientCallbackHandler",
}


def test_kafka_sink_options_match_reference():
    from amazonmsk_emr_tem_data_spark.sinks import kafka_sink_options

    opts = kafka_sink_options(
        "b-1.msk:9098,b-2.msk:9098",
        "exp.tem1.spark.streaming",
        security=msk_iam_security(),
    )
    assert opts == _REFERENCE_WRITER_OPTIONS


def test_envelope_bytes_match_reference_projection(spark):
    """The bytes K1 would hand the Kafka producer: to_kafka_envelope
    must be bit-identical to the reference's own projection
    (``selectExpr("CAST(id AS STRING) AS key", "to_json(struct(*)) AS
    value")``, temDataRead.py:78-79) over the reference's fixture CSV.
    Fails if our envelope (column order, JSON field order, number
    formatting) ever drifts from the wire format the reference ships."""
    from amazonmsk_emr_tem_data_spark.functions.codec import to_kafka_envelope
    from amazonmsk_emr_tem_data_spark.sources.files import read_tem_csv

    df = read_tem_csv(spark, "/root/reference/data/csv2.csv", compat=True)
    ours = to_kafka_envelope(df, key_col="id").collect()
    ref = df.selectExpr(
        "CAST(id AS STRING) AS key", "to_json(struct(*)) AS value"
    ).collect()
    assert [tuple(r) for r in ours] == [tuple(r) for r in ref]
    # golden pin: catches drift in BOTH paths (e.g. a Spark to_json
    # formatting change would silently alter the produced bytes)
    first = ours[0]
    assert first["key"] == first["value"][len('{"id":'):].split(",", 1)[0]
    assert first["value"].startswith('{"id":')

def test_nanos_probe_ignores_int96_but_catches_int64_nanos(
    spark, sf_dir, tmp_path
):
    """Spark's default parquet timestamp encoding is INT96, which
    pyarrow ALSO surfaces as timestamp[ns] — an arrow-level probe
    would flag it and mis-apply the DIV-1000 nanos restoration to an
    already-correct column (analysis error on every Spark-written
    events shard re-read through load_table / the streaming source).
    The probe must read the parquet PHYSICAL type: INT96 → leave
    alone; INT64 + TIMESTAMP(NANOS) → legacy nanosAsLong path."""
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    from amazonmsk_emr_tem_data_spark.sources.files import (
        _nanos_timestamp_cols,
        load_table,
    )

    # Spark-written INT96 roundtrip: probe empty, reload bit-identical
    ev = load_table(spark, sf_dir, "events")
    ev.repartition(2).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    assert _nanos_timestamp_cols(str(tmp_path / "events.parquet")) == []
    back = load_table(spark, str(tmp_path), "events")
    assert back.schema["ts"].dataType.typeName() == "timestamp"
    assert (
        back.selectExpr("min(ts)", "max(ts)", "count(*)").first()
        == ev.selectExpr("min(ts)", "max(ts)", "count(*)").first()
    )

    # genuine INT64-nanos file: probe fires, loader restores to the
    # micros-truncated TIMESTAMP
    ns_val = 1_500_000_000_123_456_789
    pq.write_table(
        pa.table({"ts": pa.array([ns_val], pa.timestamp("ns"))}),
        str(tmp_path / "t.parquet"),
        store_schema=False,
    )
    assert _nanos_timestamp_cols(str(tmp_path / "t.parquet")) == ["ts"]
    got = load_table(spark, str(tmp_path), "t")
    assert got.schema["ts"].dataType.typeName() == "timestamp"
    want = datetime.fromtimestamp(
        (ns_val // 1000) / 1_000_000, tz=timezone.utc
    ).replace(tzinfo=None)
    assert got.first()["ts"] == want


def test_kafka_stream_sink_checkpoint_resume(spark, tmp_path):
    """kafka_stream_sink's checkpoint wiring, end-to-end minus the
    socket (r7 VERDICT ask #8 — no broker and no spark-sql-kafka jar
    in the sandbox): the builder runs with the noop format while
    keeping its production option assembly, checkpointLocation,
    queryName, and trigger path. A restart against the SAME checkpoint
    after new source files arrive must process ONLY the new rows —
    the offset-commit behavior that keeps a clean restart from
    re-producing committed records."""
    from amazonmsk_emr_tem_data_spark.sinks import kafka_stream_sink

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(str(i), f"v{i}") for i in range(5)], "key string, value string"
    ).write.parquet(src)
    schema = spark.read.parquet(src).schema

    def run(name: str) -> int:
        stream = spark.readStream.schema(schema).parquet(src)
        q = kafka_stream_sink(
            stream,
            "b-1.msk:9098",
            "exp.tem1.spark.streaming",
            ckpt,
            security={"security.protocol": "PLAINTEXT"},
            query_name=name,
            _format="noop",
        )
        q.processAllAvailable()
        total = sum(p["numInputRows"] for p in q.recentProgress)
        q.stop()
        return total

    assert run("kafka_shim_run1") == 5
    spark.createDataFrame(
        [(str(i), f"v{i}") for i in range(5, 8)], "key string, value string"
    ).write.mode("append").parquet(src)
    # same checkpoint dir: resumes from committed offsets, never
    # re-produces batch 0's records
    assert run("kafka_shim_run2") == 3
