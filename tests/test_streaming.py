"""Streaming pipeline tests: EP3 parity on reference data + gap
operators (watermark/window/dedup/session) via deterministic
availableNow drains — no broker needed (SURVEY.md §7.3)."""

import tempfile

import pytest
from pyspark.sql import functions as F

from amazonmsk_emr_tem_data_spark.functions.codec import to_kafka_envelope
from amazonmsk_emr_tem_data_spark.functions.text import fingerprint
from amazonmsk_emr_tem_data_spark.functions.tem import with_tem_avg
from amazonmsk_emr_tem_data_spark.schemas import TEM_AVG_COL, tem_schema
from amazonmsk_emr_tem_data_spark.sources.files import read_tem_csv
from amazonmsk_emr_tem_data_spark.streaming.pipelines import (
    events_stream,
    run_to_memory,
)
from amazonmsk_emr_tem_data_spark.streaming.tem_stream import (
    decode_tem_stream,
    start_tem_console_query,
)

CSV2 = "/root/reference/data/csv2.csv"


def test_ep3_stream_decode_equals_batch(spark):
    """The full EP3 chain (envelope → decode → Tem(Avg)) run through
    MicroBatchExecution gives exactly the batch answer."""
    batch = read_tem_csv(spark, CSV2)
    env_dir = tempfile.mkdtemp(prefix="tem_env_")
    to_kafka_envelope(batch, key_col="id").write.mode("overwrite").parquet(env_dir)

    env_stream = (
        spark.readStream.schema("key string, value string").parquet(env_dir)
    )
    assert env_stream.isStreaming
    result = run_to_memory(decode_tem_stream(env_stream), output_mode="append")

    expected = with_tem_avg(batch)
    assert result.count() == 1510
    got = sorted(map(tuple, result.collect()))
    want = sorted(map(tuple, expected.collect()))
    assert got == want


def test_ep3_console_query_drains_envelopes_and_checkpoints(spark, tmp_path):
    """EP3's sink config (03_temStreamEveryMin.py): the named console
    query decodes every landed envelope once and commits its first
    micro-batch to the checkpoint."""
    import os
    from datetime import datetime

    from amazonmsk_emr_tem_data_spark.schemas import TEM_MEASURE_COLS

    measures = len(TEM_MEASURE_COLS)
    rows = [
        (2799 + i, datetime(2021, 6, 7, 10, 31, i), *[20.0 + i] * measures)
        for i in range(5)
    ]
    env_dir = str(tmp_path / "env")
    to_kafka_envelope(
        spark.createDataFrame(rows, tem_schema()), key_col="id"
    ).write.parquet(env_dir)
    env_stream = (
        spark.readStream.schema("key string, value string").parquet(env_dir)
    )
    checkpoint = str(tmp_path / "checkpoint")
    query = start_tem_console_query(
        env_stream, checkpoint, trigger_interval="1 second"
    )
    try:
        query.processAllAvailable()
        assert query.name == "streaming_to_console"
        assert sum(p["numInputRows"] for p in query.recentProgress) == len(rows)
        assert os.path.exists(os.path.join(checkpoint, "commits", "0"))
    finally:
        query.stop()


def test_events_stream_is_streaming_and_typed(spark, sf_dir):
    s = events_stream(spark, sf_dir)
    assert s.isStreaming
    assert dict((f.name, f.dataType.simpleString()) for f in s.schema.fields)[
        "ts"
    ] == "timestamp"


def test_drain_that_does_not_finish_stops_and_raises(
    spark, sf_dir, monkeypatch
):
    """A bounded drain that outlives DRAIN_TIMEOUT_S stops its query
    and raises TimeoutError instead of returning a partial result, on
    both drain paths: the memory sink of run_to_memory and the
    foreachBatch drain. PySpark rejects a zero wait, so the limit is
    set to one millisecond, far below a micro-batch's start-up."""
    from amazonmsk_emr_tem_data_spark.streaming import pipelines

    monkeypatch.setattr(pipelines, "DRAIN_TIMEOUT_S", 0.001)
    before = {q.id for q in spark.streams.active}
    with pytest.raises(TimeoutError, match="did not drain"):
        run_to_memory(events_stream(spark, sf_dir), output_mode="append")
    with pytest.raises(TimeoutError, match="fanout_foreach_batch"):
        pipelines.fanout_foreach_batch(
            spark, sf_dir, tempfile.mkdtemp(prefix="fanout_timeout_")
        )
    assert {q.id for q in spark.streams.active} <= before


def test_append_mode_withholds_unclosed_windows(spark, sf_dir):
    """Documented semantic: bounded append+watermark run emits only
    windows the final watermark passed — a strict subset of complete."""
    from amazonmsk_emr_tem_data_spark.streaming.pipelines import stream_tumbling_agg

    complete = stream_tumbling_agg(spark, sf_dir, output_mode="complete")
    append = stream_tumbling_agg(spark, sf_dir, output_mode="append")
    n_complete, n_append = complete.count(), append.count()
    assert n_append <= n_complete
    assert n_complete - n_append <= 10  # only the tail windows differ


def test_foreach_batch_fanout_idempotent_and_pruned(spark, sf_dir):
    """foreachBatch fan-out: both sinks written from one cached batch
    (EP2's double-scan fixed), checkpoint replay writes nothing, and
    the partitioned raw sink gives downstream partition pruning."""
    from amazonmsk_emr_tem_data_spark.streaming.pipelines import (
        fanout_foreach_batch,
    )

    out = tempfile.mkdtemp(prefix="fanout_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_fanout_t_")
    fanout_foreach_batch(spark, sf_dir, out, checkpoint_dir=ckpt)

    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    raw = spark.read.parquet(f"{out}/raw")
    agg = spark.read.parquet(f"{out}/agg")
    assert raw.count() == n_events
    # agg totals reconcile with raw
    assert (
        agg.groupBy().sum("n_events").collect()[0][0] == n_events
    )

    # idempotent restart: same checkpoint, no new data -> no new rows
    fanout_foreach_batch(spark, sf_dir, out, checkpoint_dir=ckpt)
    assert spark.read.parquet(f"{out}/raw").count() == n_events

    # partition pruning: event_type filter resolves at planning time
    plan = (
        raw.filter(F.col("event_type") == "click")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "event_type" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]


def test_stream_stream_join_state_is_bounded(spark, sf_dir):
    """The stream-stream join's physical plan carries watermarks on
    both sides (the state-eviction contract)."""
    from amazonmsk_emr_tem_data_spark.streaming.pipelines import (
        stream_stream_click_purchase,
    )

    result = stream_stream_click_purchase(spark, sf_dir)
    # every match respects the horizon
    bad = result.filter(
        (F.col("purchase_ts") <= F.col("click_ts"))
        | (F.col("purchase_ts") > F.col("click_ts") + F.expr("INTERVAL 1 HOUR"))
    ).count()
    assert bad == 0 and result.count() > 0


def test_checkpoint_resume_is_idempotent(spark, sf_dir):
    """Restarting a drained availableNow query from its checkpoint
    reprocesses nothing (the recovery semantics the reference lacked —
    it re-read from `earliest` on every restart, SURVEY §2.6)."""
    ckpt = tempfile.mkdtemp(prefix="ckpt_resume_")
    out_dir = tempfile.mkdtemp(prefix="out_resume_")

    def run_once():
        ev = events_stream(spark, sf_dir)
        q = (
            ev.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    n1 = spark.read.parquet(out_dir).count()
    run_once()  # resume: no new files → no new rows
    n2 = spark.read.parquet(out_dir).count()
    assert n1 > 0 and n1 == n2


def test_incremental_ingest_dedup_across_runs(spark, sf_dir):
    """Cross-run content dedup: run 1 ingests the corpus (one survivor
    per distinct normalized content); run 2 with a FRESH checkpoint
    reprocesses every document and must add nothing — the store's
    fingerprint anti-join, not the checkpoint, is what blocks
    re-ingestion. A restart with the SAME checkpoint is also a no-op
    (batch ids committed)."""
    import tempfile

    from amazonmsk_emr_tem_data_spark.sources.files import load_table
    from amazonmsk_emr_tem_data_spark.streaming.pipelines import (
        incremental_ingest_dedup,
    )

    store = tempfile.mkdtemp(prefix="ingest_store_") + "/corpus"
    docs = load_table(spark, sf_dir, "documents")
    n_distinct = docs.select(fingerprint("text").alias("fp")).distinct().count()

    ckpt1 = tempfile.mkdtemp(prefix="ckpt_ingest1_")
    incremental_ingest_dedup(spark, sf_dir, store, checkpoint_dir=ckpt1)
    got = spark.read.parquet(store)
    assert got.count() == n_distinct
    assert got.select("fp").distinct().count() == n_distinct

    # fresh checkpoint: full reprocess, store must not grow
    ckpt2 = tempfile.mkdtemp(prefix="ckpt_ingest2_")
    incremental_ingest_dedup(spark, sf_dir, store, checkpoint_dir=ckpt2)
    assert spark.read.parquet(store).count() == n_distinct

    # same checkpoint: committed batch ids, nothing re-invoked
    incremental_ingest_dedup(spark, sf_dir, store, checkpoint_dir=ckpt1)
    assert spark.read.parquet(store).count() == n_distinct


def test_state_store_reader_audits_checkpointed_aggregate(spark, sf_dir):
    """Spark 4 State Data Source: after draining a grouped aggregate
    with a checkpoint, the state store read back as a batch DataFrame
    must equal the same aggregate computed in batch — the restart-audit
    pattern (inspect state without replaying the stream)."""
    import tempfile

    from pyspark.sql import functions as F

    from amazonmsk_emr_tem_data_spark.sources.files import load_table
    from amazonmsk_emr_tem_data_spark.streaming.observe import (
        grouped_agg_state,
        state_metadata,
        state_size_by_partition,
    )
    from amazonmsk_emr_tem_data_spark.streaming.pipelines import events_stream

    ck = tempfile.mkdtemp(prefix="ckpt_observe_")
    stream = events_stream(spark, sf_dir)
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")
    )
    name = "observe_agg"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    meta = state_metadata(spark, ck)
    assert meta.count() >= 1
    ops = {r["operatorName"] for r in meta.collect()}
    assert "stateStoreSave" in ops

    got = {
        r["event_type"]: (r["count"], r["sum"])
        for r in grouped_agg_state(spark, ck).collect()
    }
    exp = {
        r["event_type"]: (r["n"], r["total"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert set(got) == set(exp)
    for k, (n, total) in exp.items():
        gn, gtotal = got[k]
        assert gn == n and abs(gtotal - total) < 1e-6, k

    sizes = state_size_by_partition(spark, ck)
    assert sizes.agg(F.sum("n_keys")).first()[0] == len(exp)


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_stream_clock_matches_batch_for_any_timestamp_unit(spark, tmp_path, unit):
    """Round-3 regression guard: the driver regenerated events.parquet
    with TIMESTAMP(MICROS) where earlier rounds shipped TIMESTAMP(NANOS),
    and the streaming source's hardcoded nanos schema silently read
    event time 1000x off — tumbling windows, sessions, and the
    stream-stream join all diverged while every batch query (footer-
    probing loader) stayed green. The stream source now derives its
    schema from the same probe; this test writes the SAME rows in both
    physical units and asserts the streamed tumbling aggregation is
    identical to the batch aggregation for each."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from amazonmsk_emr_tem_data_spark.sources.files import load_table
    from amazonmsk_emr_tem_data_spark.streaming.pipelines import stream_tumbling_agg

    ts = pd.to_datetime(
        ["2024-01-01 00:10:00", "2024-01-01 00:50:00", "2024-01-01 03:10:00"]
    )
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(ts, pa.timestamp(unit)),
            "user_id": pa.array([7, 7, 8], pa.int64()),
            "event_type": pa.array(["click"] * 3),
            "value": pa.array([1.0, 2.0, 4.0], pa.float64()),
            "props": pa.array(["{}"] * 3),
        }
    )
    d = str(tmp_path / unit)
    import os

    os.makedirs(d)
    pq.write_table(tbl, f"{d}/events.parquet")

    streamed = stream_tumbling_agg(spark, d)
    got = sorted(
        (r["bucket_ts"].isoformat(), r["event_type"], r["n_events"])
        for r in streamed.collect()
    )
    batch = load_table(spark, d, "events")
    expected = sorted(
        (r["b"].isoformat(), r["event_type"], r["n"])
        for r in batch.groupBy(
            F.date_trunc("hour", "ts").alias("b"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert got == expected
    # the 1000x failure mode collapses everything into one bucket —
    # assert the two distinct hours actually survived
    assert len({g[0] for g in got}) == 2


def test_foreach_batch_replay_after_midstream_crash(spark, sf_dir, tmp_path):
    """The exactly-once SINK half (the pyds restart test covers the
    source half): foreachBatch delivery is at-least-once — a batch
    whose parquet write completed but whose checkpoint commit didn't
    is RE-INVOKED on restart. Inject exactly that crash (raise after
    the side effect of batch 0, before Spark commits it); the restart
    with the same checkpoint re-delivers batch 0, and the idempotent
    dedup-on-write sink must find its own earlier output and add
    nothing — no duplicates, no losses."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from amazonmsk_emr_tem_data_spark.sources.files import load_table
    from amazonmsk_emr_tem_data_spark.streaming.pipelines import (
        ingest_batch_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    n_distinct = docs.select(fingerprint("text").alias("fp")).distinct().count()
    # two source files + maxFilesPerTrigger=1 => two micro-batches
    src = str(tmp_path / "docs_src")
    docs.repartition(2).write.mode("overwrite").parquet(src)
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(src).schema

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    crashed = {"done": False}

    def crashing_handle(batch_df, batch_id):
        ingest_batch_dedup(batch_df, store)  # side effect lands
        if not crashed["done"]:
            crashed["done"] = True
            raise RuntimeError("injected crash after write, before commit")

    q = (
        stream()
        .writeStream.foreachBatch(crashing_handle)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="injected crash"):
        q.awaitTermination(300)
    n_after_crash = spark.read.parquet(store).count()
    assert n_after_crash > 0, "the crash must land AFTER the side effect"

    def clean_handle(batch_df, batch_id):
        ingest_batch_dedup(batch_df, store)

    q2 = (
        stream()
        .writeStream.foreachBatch(clean_handle)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(300), "restarted stream did not drain"
    got = spark.read.parquet(store)
    assert got.count() == n_distinct, "replayed batch must dedup, not double"
    assert got.select("fp").distinct().count() == n_distinct


def test_read_store_propagates_non_missing_errors(spark, sf_dir, tmp_path):
    """Only a MISSING store may disable the ingest dedup filter; a
    corrupt/unreadable store must raise so the micro-batch retries
    instead of silently appending unfiltered duplicates (r7 ADVICE).
    A missing path returns None; a directory with a garbage .parquet
    file raises instead of being treated as first-batch."""
    from amazonmsk_emr_tem_data_spark.streaming.pipelines import _read_store

    assert _read_store(spark, str(tmp_path / "nope")) is None

    bad = tmp_path / "bad_store"
    bad.mkdir()
    (bad / "part-0000.parquet").write_bytes(b"not a parquet footer")
    with pytest.raises(Exception) as ei:
        df = _read_store(spark, str(bad))
        assert df is not None
        df.collect()
    assert "PATH_NOT_FOUND" not in str(ei.value)


def test_incremental_near_dedup_ingest_matches_batch_composition(
    spark, sf_dir, tmp_path
):
    """Streaming NEAR-dedup ingest == the same operators composed in
    batch, batch by batch: file 1's canonicals land first; file 2 keeps
    only canonicals that are not near-dups (jaccard >= 0.6) of the
    store. A re-run with a fresh checkpoint must add NOTHING — every
    replayed canonical matches its own store copy at jaccard 1.0."""
    import time as _time

    from amazonmsk_emr_tem_data_spark.operators.dedup import (
        cross_corpus_near_dup,
        dedup_clusters,
    )
    from amazonmsk_emr_tem_data_spark.sources.files import load_table
    from amazonmsk_emr_tem_data_spark.streaming.pipelines import (
        incremental_ingest_near_dedup,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "src")
    # two files with controlled content, written in mtime order so the
    # one-file-per-trigger drain processes them deterministically
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    _time.sleep(1.1)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    store = str(tmp_path / "store")
    incremental_ingest_near_dedup(spark, src, store, str(tmp_path / "ck1"))
    got = {r["doc_id"] for r in spark.read.parquet(store).select("doc_id").collect()}

    # batch-composed expectation, in the same two steps
    def canonicals(df):
        return df.join(
            dedup_clusters(df).filter("is_canonical").select("doc_id"),
            "doc_id",
            "left_semi",
        )

    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)
    c1 = canonicals(b1)
    c2 = canonicals(b2)
    dup2 = cross_corpus_near_dup(c2, c1).select("doc_id")
    want = {
        r["doc_id"]
        for r in c1.select("doc_id")
        .unionByName(c2.join(dup2, "doc_id", "left_anti").select("doc_id"))
        .collect()
    }
    assert got == want
    assert len(got) > 0

    # replay with a fresh checkpoint: full reprocess, store must not grow
    incremental_ingest_near_dedup(spark, src, store, str(tmp_path / "ck2"))
    assert spark.read.parquet(store).count() == len(got)


def test_stream_cms_sketch_merges_across_microbatches(spark, sf_dir, tmp_path):
    """The streaming count-min sketch must equal the batch-computed
    sketch REGARDLESS of micro-batching: splitting the corpus into 4
    shard files and draining with maxFilesPerTrigger=1 forces >= 4
    state-store merges of partial cell counts, and the drained
    complete-mode state must still match the single-pass batch cells
    exactly (algebraic aggregate ⇒ merge order cannot matter)."""
    from amazonmsk_emr_tem_data_spark.functions.text import (
        cms_probe_cells,
        tokens,
    )
    from amazonmsk_emr_tem_data_spark.sources.files import load_table
    from amazonmsk_emr_tem_data_spark.streaming.pipelines import (
        stream_token_heavy_hitters,
    )

    docs = load_table(spark, sf_dir, "documents")
    shard_dir = str(tmp_path / "sharded")
    docs.repartition(4).write.mode("overwrite").parquet(
        f"{shard_dir}/documents.parquet"
    )

    got = {
        (r["r"], r["b"]): r["cnt"]
        for r in stream_token_heavy_hitters(
            spark, shard_dir, max_files_per_trigger=1
        ).collect()
    }
    want = {
        (r["r"], r["b"]): r["cnt"]
        for r in docs.select(F.explode(tokens("text")).alias("tok"))
        .select(F.explode(cms_probe_cells(F.col("tok"))).alias("cell"))
        .groupBy(F.col("cell.r").alias("r"), F.col("cell.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got == want
    assert len(got) > 0


def test_stream_register_sketch_merges_across_microbatches(
    spark, sf_dir, tmp_path
):
    """The streaming FM/HLL register state must equal the batch
    registers REGARDLESS of micro-batching: 4 shard files drained with
    maxFilesPerTrigger=1 force repeated state-store MAX-merges of
    partial registers, and the drained complete-mode state must match
    the single-pass batch registers exactly (max is commutative,
    associative, idempotent — merge order and even replayed overlap
    cannot change it)."""
    from amazonmsk_emr_tem_data_spark.functions.sketch import fm_register
    from amazonmsk_emr_tem_data_spark.sources.files import load_table
    from amazonmsk_emr_tem_data_spark.streaming.pipelines import (
        stream_user_distinct_sketch,
    )

    ev = load_table(spark, sf_dir, "events")
    shard_dir = str(tmp_path / "sharded")
    ev.repartition(4).write.mode("overwrite").parquet(
        f"{shard_dir}/events.parquet"
    )

    got = {
        (r["event_type"], r["j"]): r["rho"]
        for r in stream_user_distinct_sketch(
            spark, shard_dir, max_files_per_trigger=1
        ).collect()
    }
    want = {
        (r["event_type"], r["j"]): r["rho"]
        for r in ev.filter(
            F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
        )
        .select("event_type", fm_register(F.col("user_id")).alias("c"))
        .groupBy("event_type", F.col("c.j").alias("j"))
        .agg(F.max("c.rho").alias("rho"))
        .collect()
    }
    assert got == want
    assert len(got) > 0


def test_stream_seasonal_baseline_merges_across_microbatches(
    spark, sf_dir, tmp_path
):
    """The streaming seasonal-moment table must equal the batch moments
    REGARDLESS of micro-batching: 4 shard files drained one per
    trigger force repeated state merges of (n, s, ss) partials, and
    the drained complete-mode state must match the single-pass batch
    aggregation exactly (three long sums — algebraic, merge-order
    blind)."""
    from amazonmsk_emr_tem_data_spark.sources.files import load_table
    from amazonmsk_emr_tem_data_spark.streaming.pipelines import (
        stream_seasonal_baseline,
    )

    ev = load_table(spark, sf_dir, "events")
    shard_dir = str(tmp_path / "sharded")
    ev.repartition(4).write.mode("overwrite").parquet(
        f"{shard_dir}/events.parquet"
    )

    got = {
        (r["event_type"], r["hod"]): (r["n"], r["s"], r["ss"])
        for r in stream_seasonal_baseline(
            spark, shard_dir, max_files_per_trigger=1
        ).collect()
    }
    cents = F.round(F.col("value") * 100).cast("long")
    want = {
        (r["event_type"], r["hod"]): (r["n"], r["s"], r["ss"])
        for r in (
            ev.filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
            .select(
                "event_type",
                F.hour("ts").cast("long").alias("hod"),
                cents.alias("v"),
            )
            .groupBy("event_type", "hod")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("v").alias("s"),
                F.sum(F.col("v") * F.col("v")).alias("ss"),
            )
            .collect()
        )
    }
    assert got == want


def _one_sided_events(tmp_path, event_type: str) -> str:
    import pandas as pd

    rows = [
        (i, f"2024-01-01 0{i}:00:00", 1, event_type, 1.0, None)
        for i in range(5)
    ]
    ev = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    ev["ts"] = pd.to_datetime(ev["ts"])
    tmp_path.mkdir(parents=True, exist_ok=True)
    d = str(tmp_path)
    ev.to_parquet(f"{d}/events.parquet", index=False)
    return d


def _assert_withholds_all(spark, d: str, query_name: str) -> None:
    import duckdb

    from amazonmsk_emr_tem_data_spark.queries import REGISTRY

    fn, sql = REGISTRY[query_name]
    assert fn(spark, d).count() == 0
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet')"
    )
    assert con.execute(f"SELECT COUNT(*) FROM ({sql})").fetchone()[0] == 0
    con.close()


def test_right_outer_join_purchases_only_corpus_withholds_all(
    spark, tmp_path
):
    """Purchases but NO clicks: the click input never advances its
    watermark, so every unmatched purchase is withheld — and the
    oracle's NULL-propagating min must agree on the EMPTY result
    (the purchases-only mirror of the r8 clicks-only finding)."""
    d = _one_sided_events(tmp_path, "purchase")
    _assert_withholds_all(spark, d, "stream_click_purchase_right_join")


def test_full_outer_join_one_sided_corpora_withhold_both_arms(
    spark, tmp_path
):
    """FULL OUTER under a one-sided corpus: whichever side is empty,
    the global watermark stays at epoch and NEITHER outer arm emits —
    both directions, Spark and oracle agreeing on empty."""
    d_clicks = _one_sided_events(tmp_path / "c", "click")
    _assert_withholds_all(spark, d_clicks, "stream_click_purchase_full_join")
    d_purch = _one_sided_events(tmp_path / "p", "purchase")
    _assert_withholds_all(spark, d_purch, "stream_click_purchase_full_join")


def test_anti_join_one_sided_corpora(spark, tmp_path):
    """LEFT ANTI under one-sided corpora (r9 VERDICT ask #6's edge
    gate): clicks-only — the purchase watermark never advances, so
    every unconverted click is WITHHELD (both engines empty);
    purchases-only — there are no left rows at all, trivially empty."""
    d_clicks = _one_sided_events(tmp_path / "c", "click")
    _assert_withholds_all(spark, d_clicks, "stream_click_purchase_anti_join")
    d_purch = _one_sided_events(tmp_path / "p", "purchase")
    _assert_withholds_all(spark, d_purch, "stream_click_purchase_anti_join")


def test_anti_join_equals_left_outer_unmatched_arm(spark, sf_dir):
    """LEFT ANTI = exactly the NULL-padded rows of the LEFT OUTER
    drain, minus the purchase columns — the cross-mode contract that
    pins the rewrite (leftOuter + IS NULL filter) to emit-on-expiry
    semantics; disjointness from SEMI completes the partition of
    clicks into converted/abandoned/withheld."""
    from amazonmsk_emr_tem_data_spark.queries import REGISTRY

    anti = {
        (r["user_id"], r["click_id"], r["click_ts"])
        for r in REGISTRY["stream_click_purchase_anti_join"][0](
            spark, sf_dir
        ).collect()
    }
    left_unmatched = {
        (r["user_id"], r["click_id"], r["click_ts"])
        for r in REGISTRY["stream_click_purchase_left_join"][0](
            spark, sf_dir
        ).collect()
        if r["purchase_id"] is None
    }
    assert anti == left_unmatched
    assert len(anti) > 0
    semi = {
        (r["user_id"], r["click_id"], r["click_ts"])
        for r in REGISTRY["stream_click_purchase_semi_join"][0](
            spark, sf_dir
        ).collect()
    }
    assert not (anti & semi)


def test_semi_join_equals_matched_left_clicks(spark, sf_dir):
    """LEFT SEMI = the distinct matched clicks of the LEFT OUTER
    drain — the cross-mode contract that pins semi's emit-once
    semantics against the outer twin's row-per-match fan-out."""
    from amazonmsk_emr_tem_data_spark.queries import REGISTRY

    semi = {
        (r["user_id"], r["click_id"], r["click_ts"])
        for r in REGISTRY["stream_click_purchase_semi_join"][0](
            spark, sf_dir
        ).collect()
    }
    left_matched = {
        (r["user_id"], r["click_id"], r["click_ts"])
        for r in REGISTRY["stream_click_purchase_left_join"][0](
            spark, sf_dir
        ).collect()
        if r["purchase_id"] is not None
    }
    assert semi == left_matched
    assert len(semi) > 0


def test_full_outer_join_equals_left_plus_right_arms(spark, sf_dir):
    """The full-outer drain must equal inner ∪ left-arm ∪ right-arm
    computed from its two outer twins on the same fixture — the
    cross-mode consistency contract."""
    from amazonmsk_emr_tem_data_spark.queries import REGISTRY

    def rows(name):
        return {
            tuple(r)
            for r in REGISTRY[name][0](spark, sf_dir).collect()
        }

    left = rows("stream_click_purchase_left_join")
    right = rows("stream_click_purchase_right_join")
    full = rows("stream_click_purchase_full_join")
    assert full == left | right
    # and the arms genuinely differ (both outer directions present)
    assert any(r[3] is None for r in full)
    assert any(r[1] is None for r in full)


def test_left_outer_join_clicks_only_corpus_withholds_all(spark, tmp_path):
    """A corpus with clicks but NO purchases: the purchase input never
    advances its watermark, so Spark withholds every unmatched click —
    and the oracle's NULL-propagating watermark must agree on the
    EMPTY result (plain LEAST would skip the NULL max and wrongly emit
    — r8 review finding)."""
    import duckdb

    from amazonmsk_emr_tem_data_spark.queries import REGISTRY

    rows = [
        (i, f"2024-01-01 0{i}:00:00", 1, "click", 1.0, None)
        for i in range(5)
    ]
    import pandas as pd

    ev = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    ev["ts"] = pd.to_datetime(ev["ts"])
    d = str(tmp_path)
    ev.to_parquet(f"{d}/events.parquet", index=False)

    fn, sql = REGISTRY["stream_click_purchase_left_join"]
    assert fn(spark, d).count() == 0
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet')"
    )
    assert con.execute(f"SELECT COUNT(*) FROM ({sql})").fetchone()[0] == 0
    con.close()
