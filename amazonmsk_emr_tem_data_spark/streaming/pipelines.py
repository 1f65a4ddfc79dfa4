"""Structured Streaming pipelines (SURVEY.md §2.6, §7.1 M3).

Re-expresses the reference's streaming consumer
(``/root/reference/pyspark_scripts/03_temStreamEveryMin.py``) and fills
every gap its SURVEY audit found: the reference has a processing-time
trigger but **no watermarks, no event-time windows, no stateful ops, no
checkpointing** (§2.6). All four are first-class here.

Determinism without a broker: a parquet **file source** over the driver
fixtures plays the role of the Kafka topic (same micro-batch execution
path), and ``trigger(availableNow=True)`` drains it to completion
synchronously — so streaming results can be compared 1:1 against the
batch DuckDB oracle.

Output-mode semantics worth knowing (encoded in the helpers):

- ``append`` + watermark is the production pattern (state is evicted,
  late data beyond the watermark dropped) — but in a single-drain
  bounded run the windows newer than ``max(ts) − watermark`` are
  *withheld* (the watermark only advances between micro-batches), so a
  bounded append run is a strict subset of the batch answer.
- ``complete`` emits every window on the final batch — bit-equal to the
  batch aggregation, which is what the oracle-parity queries use.

Scale: the same pipeline definitions run unbounded on a Kafka source
(``spark.readStream`` with sources/kafka.kafka_stream_options) with
``maxOffsetsPerTrigger`` bounding batch size and a durable
``checkpointLocation`` giving exactly-once state recovery — the two
knobs the reference left unset.
"""

from __future__ import annotations

from ..sources.files import checkpoint_stage

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

def _stream_parquet_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming file-source read of one fixture table, schema-robust.

    A streaming source needs an explicit schema, but the fixture writer's
    timestamp physical type is not under our control (rounds have shipped
    both TIMESTAMP(NANOS) and TIMESTAMP(MICROS)). Hardcoding one unit
    silently mis-scales event time by 1000× when the other arrives — so
    the schema is derived from the batch reader against the same file
    (driver-side footer read, O(1)), and the same restorations the batch
    loader applies (nanos-as-long → micros, NTZ → session timestamp) are
    applied here. Streaming and batch therefore can never disagree on
    the clock.

    Layout-robust: ``{name}.parquet`` may be a single FILE (the fixture
    writer's shape — stream roots at sf_dir with a name glob) or a
    DIRECTORY of shard part-files (the production shape: new corpus
    shards land as files; the stream roots at the directory itself, so
    every arriving shard is a micro-batch candidate). The layout probe
    is os.path.isdir — local-filesystem only; an object-store
    deployment (s3:// paths) should root the stream at the shard
    directory explicitly rather than rely on this probe."""
    from ..sources.files import _nanos_timestamp_cols, _restore_timestamps

    path = f"{sf_dir}/{name}.parquet"
    ns_cols = _nanos_timestamp_cols(path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(schema)
    if not os.path.isdir(path):
        reader = reader.option("pathGlobFilter", f"{name}.parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return _restore_timestamps(
        reader.parquet(path if os.path.isdir(path) else sf_dir), ns_cols
    )


def events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Unbounded view of the events table via the parquet file source —
    the broker-free stand-in for the reference's Kafka topic (S3)."""
    return _stream_parquet_table(spark, sf_dir, "events", max_files_per_trigger)


def embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded view of the embeddings table via the parquet file
    source — the streaming stand-in for an embedding feed landing in
    object storage (each new shard of freshly-embedded documents is a
    micro-batch candidate)."""
    return _stream_parquet_table(spark, sf_dir, "embeddings")


def documents_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Unbounded view of the documents corpus via the parquet file
    source — the streaming-ingest stand-in for a crawl feed landing in
    object storage. At 100 TB this IS the production shape: new corpus
    shards arrive as files; ``maxFilesPerTrigger`` bounds micro-batch
    size the way maxOffsetsPerTrigger does for Kafka."""
    return _stream_parquet_table(spark, sf_dir, "documents", max_files_per_trigger)


def stream_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus-ingest quality gate: language-ID + quality
    scoring applied per micro-batch as documents arrive — the
    'filter at ingest, never re-scan' pattern of a training-data
    pipeline. Stateless map-only streaming (no watermark/state), so a
    bounded drain equals the batch computation row-for-row."""
    from ..functions import text as tx

    docs = documents_stream(spark, sf_dir)
    res = docs.select(
        "doc_id",
        "lang",
        tx.predicted_lang("text").alias("pred_lang"),
        tx.quality_score("text").alias("quality"),
    )
    return run_to_memory(res, output_mode="append")


def stream_token_heavy_hitters(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming count-min sketch over the document ingest: the 4×1024
    bucket-sum state IS the query output — the kilobytes-of-state
    answer to "what dominates this feed?" maintained incrementally as
    corpus shards arrive. Complete-mode streaming aggregation: the
    state store merges each micro-batch's partial cell counts
    (algebraic, map-side combinable), so the drained sketch is
    IDENTICAL to the batch-computed sketch regardless of how ingest
    was micro-batched — which is exactly what the batch oracle (and
    the multi-batch merge test) checks. Heavy-hitter estimates are a
    20-row lookup against this state (token_heavy_hitters_cms)."""
    from ..functions.text import cms_probe_cells, tokens

    docs = documents_stream(spark, sf_dir, max_files_per_trigger)
    cell = (
        docs.select(F.explode(tokens("text")).alias("tok"))
        .select(F.explode(cms_probe_cells(F.col("tok"))).alias("cell"))
        .groupBy(F.col("cell.r").alias("r"), F.col("cell.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return run_to_memory(cell, output_mode="complete")


def stream_user_distinct_sketch(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming FM/HLL register sketch over the event feed: per
    (event_type, register) the max rho observed so far — 64 bytes of
    state per event type answering "how many distinct users?" on an
    unbounded stream. Complete-mode MAX aggregation: register maxima
    merge algebraically across micro-batches, so the drained state is
    IDENTICAL to the batch-computed registers however ingest was
    chopped (the batch oracle + the merge test in
    tests/test_streaming.py pin exactly that invariance)."""
    from ..functions.sketch import fm_register

    ev = events_stream(spark, sf_dir, max_files_per_trigger).filter(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    regs = (
        ev.select("event_type", fm_register(F.col("user_id")).alias("c"))
        .groupBy("event_type", F.col("c.j").alias("j"))
        .agg(F.max("c.rho").alias("rho"))
    )
    return run_to_memory(regs, output_mode="complete")


#: Seconds a bounded (availableNow) drain may run before it is stopped.
DRAIN_TIMEOUT_S = 300


def _await_drain(q) -> None:
    """Wait for an availableNow query to finish. One that has not
    finished within DRAIN_TIMEOUT_S is stopped and raises TimeoutError:
    a partially drained sink would silently truncate every downstream
    result."""
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name!r} did not drain within "
            f"{DRAIN_TIMEOUT_S}s"
        )


def _drain_foreach_batch(
    stream: DataFrame,
    handle,
    name: str,
    checkpoint_dir: str | None = None,
) -> None:
    """Drain ``stream`` to completion (availableNow) through
    ``foreachBatch(handle)`` as the query ``name``, checkpointed under
    ``checkpoint_dir`` (a fresh temp dir when None)."""
    q = (
        stream.writeStream.foreachBatch(handle)
        .option(
            "checkpointLocation",
            checkpoint_dir or tempfile.mkdtemp(prefix=f"ckpt_{name}_"),
        )
        .trigger(availableNow=True)
        .queryName(name)
        .start()
    )
    _await_drain(q)


def run_to_memory(
    result: DataFrame, output_mode: str = "complete"
) -> DataFrame:
    """Drain a streaming DataFrame to completion (availableNow) into a
    memory sink and return the materialized result.

    Adds the two lifecycle pieces the reference omitted: a named query
    (it had T3) AND a checkpoint location (it had none → full replay on
    every restart, SURVEY §2.6).
    """
    name = f"mem_{uuid.uuid4().hex[:12]}"
    q = (
        result.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix=f"ckpt_{name}_"))
        .start()
    )
    _await_drain(q)
    return result.sparkSession.table(name)


#: Window and watermark of the hourly streaming aggregates.
_HOURLY_WINDOW = "1 hour"
_HOURLY_WATERMARK = "1 hour"


def stream_tumbling_agg(
    spark: SparkSession,
    sf_dir: str,
    output_mode: str = "complete",
) -> DataFrame:
    """Event-time tumbling-window aggregation — the operator the
    reference's 1-minute *processing-time* trigger only imitated
    (SURVEY §2.6: 'Absent — event-time windows')."""
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", _HOURLY_WATERMARK)
        .groupBy(F.window("ts", _HOURLY_WINDOW).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.round(F.col("value") * 100).cast("long")).cast("double") / 100.0).alias(
                "sum_value"
            ),
        )
    )
    return run_to_memory(agg, output_mode=output_mode).select(
        F.col("w.start").alias("bucket_ts"), "event_type", "n_events", "sum_value"
    )


def stream_hourly_ohlc_agg(
    spark: SparkSession,
    sf_dir: str,
) -> DataFrame:
    """Hourly OHLC candles maintained incrementally (round 8): the
    streaming twin of queries.event_value_ohlc. min_by/max_by are
    declarative aggregates, so per-window state is one (key, value)
    tuple per extreme — the live-candle pattern of every metrics
    store. The order key is the same zero-padded (epoch_us, event_id)
    string as the batch query, so out-of-order arrival within the
    watermark cannot change open/close."""
    ev = events_stream(spark, sf_dir).filter(
        F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    key = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    agg = (
        ev.withWatermark("ts", _HOURLY_WATERMARK)
        .groupBy(F.window("ts", _HOURLY_WINDOW).alias("w"), "event_type")
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )
    return run_to_memory(agg).select(
        F.col("w.start").alias("bucket_ts"),
        "event_type",
        "open",
        "high",
        "low",
        "close",
        "n_events",
    )


#: Window length and slide of stream_sliding_counts.
_SLIDING_WINDOW = "2 hours"
_SLIDING_SLIDE = "1 hour"


def stream_sliding_counts(
    spark: SparkSession,
    sf_dir: str,
) -> DataFrame:
    """Sliding event-time windows (each event lands in window/slide
    overlapping buckets)."""
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", _SLIDING_WINDOW, _SLIDING_SLIDE).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return run_to_memory(agg).select(
        F.col("w.start").alias("window_start"), "event_type", "n_events"
    )


def stream_distinct_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup: ``dropDuplicates`` over the key columns — the
    stateful distinct the reference needed for its 755-duplicate-id
    fixture but never built (SURVEY §2.5). Bounded drain ⇒ exactly the
    batch DISTINCT."""
    ev = events_stream(spark, sf_dir)
    distinct = ev.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return run_to_memory(distinct, output_mode="append")


#: How long after a click a purchase still joins it.
_CLICK_PURCHASE_HORIZON = "1 hour"


def stream_stream_click_purchase(
    spark: SparkSession,
    sf_dir: str,
    how: str = "inner",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream join of clicks to same-user purchases
    within ``horizon`` after the click — the conversion-attribution
    operator the reference's single-topic design couldn't express at
    all (SURVEY §2.5: joins absent). Both sides carry ``watermark``,
    which bounds the join state: a row is held only until the global
    watermark (min across both inputs) passes the last time it could
    still match, so state tracks the horizon, not the stream length.

    ``how`` is a Spark stream-stream join type (inner, leftOuter,
    rightOuter, fullOuter, leftSemi) or ``anti``. The outer joins
    coalesce the user id of whichever side matched; leftSemi and anti
    return only the click columns.

    Emit rules, and the cutoffs an availableNow drain leaves for the
    oracles to mirror: the final watermark freezes at
    min(max(click_ts), max(purchase_ts)) − ``watermark``, and if either
    input saw no data it never advances, so no outer or anti row emits.

    - inner: a match emits on arrival, so a drain emits every match.
    - leftOuter: an unmatched click emits NULL-padded iff
      click_ts + horizon < final watermark; later ones are withheld
      (they could still match in a live stream).
    - rightOuter: an unmatched purchase emits iff
      purchase_ts < final watermark (strict).
    - fullOuter: both outer arms, each under its own cutoff.
    - leftSemi: a click emits once, on its first match, and never on
      expiry, so a drain is exactly the batch EXISTS.
    - anti: Spark rejects a native stream-stream ``left_anti``
      ("LeftAnti joins with a streaming DataFrame/Dataset on the right
      are not supported", probed on 4.1), so this is the rewrite
      leftOuter + ``purchase_id IS NULL``. It is exact: the outer
      join's NULL-padded row is produced precisely at watermark expiry
      of an unmatched click, which is the anti join's emit rule, and
      matched rows are dropped before they reach the sink."""
    ev = events_stream(spark, sf_dir)
    clicks = (
        ev.filter("event_type = 'click'")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        ev.filter("event_type = 'purchase'")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    joined = clicks.join(
        purchases,
        (clicks["user_id"] == purchases["p_user"])
        & (purchases["purchase_ts"] > clicks["click_ts"])
        & (
            purchases["purchase_ts"]
            <= clicks["click_ts"] + F.expr(f"INTERVAL {_CLICK_PURCHASE_HORIZON}")
        ),
        "leftOuter" if how == "anti" else how,
    )
    if how == "anti":
        joined = joined.filter(F.col("purchase_id").isNull())
    if how in ("leftSemi", "anti"):
        cols = ["user_id", "click_id", "click_ts"]
    else:
        cols = [
            F.coalesce("user_id", "p_user").alias("user_id"),
            "click_id",
            "click_ts",
            "purchase_id",
            "purchase_ts",
        ]
    return run_to_memory(joined.select(*cols), output_mode="append")


def stream_static_segment_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join + aggregation: the purchase stream
    joined to the static ``customer`` dimension, rolled up to per-
    market-segment spend. THE canonical streaming-ETL enrichment shape
    (facts stream in, dimensions sit in the lakehouse) — and the one
    join the reference's single-topic design had no dimension table for
    (SURVEY §2.5: joins absent).

    Semantics: a stream-static inner join is stateless — each micro-
    batch joins against the (re-read) static side, no watermark or join
    state needed; the ``complete``-mode aggregation then emits every
    segment on the final batch, which makes a bounded drain bit-equal
    to the batch join+groupBy the oracle runs.

    Scale: the dimension side is explicitly ``broadcast()`` — at
    production size the fact stream never shuffles for the join (map-
    side hash join per micro-batch); only the 5-segment rollup
    exchanges rows. The cent-grid sum keeps the spend total partition-
    and batch-order-invariant (the engine's one rounding rule)."""
    from ..sources.files import load_table

    purchases = events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = purchases.join(
        F.broadcast(cust), purchases["user_id"] == cust["c_custkey"]
    )
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        (
            F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
            / 100.0
        ).alias("sum_value"),
    )
    return run_to_memory(agg, output_mode="complete")


def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with bounded state:
    ``dropDuplicatesWithinWatermark`` evicts seen-key state once the
    watermark passes it, so memory tracks the watermark horizon instead
    of growing with every distinct key forever (the failure mode of
    plain ``dropDuplicates`` on an unbounded stream). The watermark here
    exceeds the fixture's span, so the bounded drain equals batch
    DISTINCT exactly."""
    ev = events_stream(spark, sf_dir)
    deduped = (
        ev.withWatermark("ts", "31 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_to_memory(deduped, output_mode="append")


def _read_store(sess: SparkSession, store_dir: str) -> DataFrame | None:
    """Read the persistent ingest store; None IFF it does not exist yet.

    Only the missing-path case (the very first batch) may disable the
    dedup filter. Any other read failure — transient IO error, corrupt
    footer, permissions — must PROPAGATE so the micro-batch fails and
    Structured Streaming retries it; swallowing it would silently
    append unfiltered duplicates and break the idempotent-sink
    contract (r7 ADVICE)."""
    from pyspark.errors import AnalysisException

    try:
        return sess.read.parquet(store_dir)
    except AnalysisException as e:
        cond = None
        for attr in ("getCondition", "getErrorClass"):
            getter = getattr(e, attr, None)
            if getter is not None:
                cond = getter()
                break
        if cond == "PATH_NOT_FOUND" or "PATH_NOT_FOUND" in str(e):
            return None
        raise


def ingest_batch_dedup(batch_df: DataFrame, store_dir: str) -> None:
    """The IDEMPOTENT dedup-on-write sink used by
    `incremental_ingest_dedup`'s foreachBatch (factored out so the
    crash-replay test can wrap it with fault injection): within-batch
    deterministic keep-first per content fingerprint, anti-join against
    the persistent store's fingerprints, append survivors.

    Idempotency is the exactly-once SINK contract: foreachBatch
    delivery is at-least-once (a batch whose side effect completed but
    whose checkpoint commit didn't is re-invoked on restart), so a
    replayed batch must find its own earlier output in the store and
    write nothing."""
    from ..functions.text import fingerprint

    w = Window.partitionBy("fp").orderBy(F.col("doc_id").asc())
    batch = (
        batch_df.withColumn("fp", fingerprint("text"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    sess = batch_df.sparkSession
    store = _read_store(sess, store_dir)
    seen = None if store is None else store.select("fp")
    fresh = batch if seen is None else batch.join(seen, "fp", "left_anti")
    fresh.write.mode("append").parquet(store_dir)


def incremental_ingest_dedup(
    spark: SparkSession,
    sf_dir: str,
    store_dir: str,
    checkpoint_dir: str | None = None,
) -> None:
    """Incremental corpus ingest with CROSS-RUN dedup: each micro-batch
    of arriving documents is first deduplicated within the batch
    (deterministic keep-first per content fingerprint), then anti-joined
    against the persistent fingerprint store so a document whose content
    was accepted by ANY earlier batch/run is dropped; survivors append
    to the store (corpus + fingerprints together).

    This is the production "never re-ingest what the corpus already
    has" loop — re-crawls and retries arrive constantly at 100 TB.
    Mechanics that make it correct and scale:
    - the store keeps (fingerprint, doc) sorted-on-write by fingerprint;
      the per-batch anti-join reads ONLY the fingerprint column (column
      pruning) and joins on the 128-bit key, never text;
    - the checkpoint commits batch ids, so a crashed-and-restarted run
      re-invokes nothing (idempotent restart — the reference's missing
      piece, SURVEY §2.6);
    - within-batch dedup uses the same deterministic min-id survivor as
      the batch operator (operators/dedup.exact_dedup_first), so replays
      pick identical survivors.
    """
    docs = documents_stream(spark, sf_dir)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch_dedup(batch_df, store_dir)

    _drain_foreach_batch(docs, handle, "incremental_ingest_dedup", checkpoint_dir)


def _reservoir_read(
    sess: SparkSession, store_dir: str
) -> tuple[DataFrame | None, int]:
    """Read the last COMMITTED generation of a generation-structured
    reservoir store; returns (df_or_None, committed_gen).

    Layout: ``store_dir/gen-%06d/`` parquet generations plus a
    ``MANIFEST`` file naming the committed one. The manifest swap
    (tmp + os.replace) is the commit point, so a crash anywhere in
    a write leaves the PRIOR generation readable — the r12 advice
    fix for the old in-place overwrite, whose delete-then-write
    window could vanish the store and silently reset the reservoir
    on replay. Semantics preserved from _read_store: a missing path
    is the first batch; an existing dir with neither manifest nor
    generations is a corrupt/mis-pointed store and raises; a
    generation dir without a manifest is an uncommitted first write
    (crash before commit) and reads as first-batch — its replay
    rebuilds it."""
    if not os.path.isdir(store_dir):
        return None, 0
    manifest = os.path.join(store_dir, "MANIFEST")
    if os.path.exists(manifest):
        with open(manifest) as f:
            gen = int(f.read().strip())
        return (
            sess.read.parquet(os.path.join(store_dir, f"gen-{gen:06d}")),
            gen,
        )
    partial = [
        d
        for d in os.listdir(store_dir)
        if d.startswith("gen-") and d[4:].isdigit()
    ]
    if partial:
        return None, max(int(d[4:]) for d in partial)
    raise ValueError(
        f"reservoir store {store_dir!r} exists but has no MANIFEST and "
        "no generations — refusing to treat a mis-pointed path as an "
        "empty reservoir"
    )


def _reservoir_commit(
    sess: SparkSession, top: DataFrame, store_dir: str, prior_gen: int
) -> None:
    """Atomically publish one reservoir generation: materialize the
    (n-row, driver-sized) result, write it to a FRESH gen dir, fsync
    + os.replace the manifest at it, then GC the superseded
    generation. A crash before the replace leaves the prior
    generation committed; a crash after it leaves at worst one
    orphan dir (swept by the next commit's rmtree)."""
    rows = top.collect()  # reservoir state is n rows by definition
    new_gen = prior_gen + 1
    os.makedirs(store_dir, exist_ok=True)
    gen_dir = os.path.join(store_dir, f"gen-{new_gen:06d}")
    if os.path.isdir(gen_dir):
        shutil.rmtree(gen_dir)  # uncommitted partial from a crash
    sess.createDataFrame(rows, top.schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(gen_dir)
    tmp = os.path.join(store_dir, "MANIFEST.tmp")
    with open(tmp, "w") as f:
        f.write(str(new_gen))
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(store_dir, "MANIFEST"))
    old = os.path.join(store_dir, f"gen-{prior_gen:06d}")
    if prior_gen and os.path.isdir(old):
        shutil.rmtree(old)


def read_priority_store(sess: SparkSession, store_dir: str) -> DataFrame:
    """Public reader for the committed streaming-reservoir state."""
    df, _ = _reservoir_read(sess, store_dir)
    if df is None:
        raise ValueError(f"no committed reservoir at {store_dir!r}")
    return df


def priority_sample_batch(
    batch_df: DataFrame, store_dir: str, n: int = 100
) -> None:
    """One micro-batch of the streaming A-ES reservoir (factored out
    for the multi-batch merge + crash-replay tests): key the arriving
    documents with the shared deterministic A-ES rank key, merge with
    the persisted reservoir, keep the global top-n, overwrite the
    store.

    Why this is exactly-once safe under at-least-once foreachBatch:
    the key is a pure function of the row (md5 grid — no RNG, no
    clock), top-n-by-key is an idempotent, commutative, associative
    merge (a bottom-k sketch in disguise), and doc_id dedup before the
    cut makes a replayed batch a no-op — the reservoir after any
    replay schedule equals the batch top-n over everything ingested.
    State is n rows by definition (a reservoir IS driver-sized), so
    the collect + single-file generation write is bounded, not a
    scale leak. Persistence goes through the generation store
    (_reservoir_commit): logical replay was always idempotent, and
    the manifest swap now makes the physical write crash-atomic too
    (r12 advice — the old in-place overwrite had a delete-then-write
    window that read back as "first batch")."""
    from ..queries._registry import _aes_key_cols  # call-time: no cycle

    sess = batch_df.sparkSession
    keyed = _aes_key_cols(batch_df).select(
        "doc_id", "n_chars", "w_log2", "aes_key"
    )
    store, gen = _reservoir_read(sess, store_dir)
    merged = keyed if store is None else keyed.unionByName(store)
    top = (
        merged.dropDuplicates(["doc_id"])
        .orderBy(F.col("aes_key").desc(), F.col("doc_id").asc())
        .limit(n)
    )
    _reservoir_commit(sess, top, store_dir, gen)


#: Reservoir size of stream_priority_sample (the batch twin's sample
#: size).
_PRIORITY_SAMPLE_N = 100


def stream_priority_sample(
    spark: SparkSession,
    sf_dir: str,
    store_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Streaming A-ES weighted reservoir over the document ingest
    feed: every micro-batch folds into a persisted top-n-by-key state
    via priority_sample_batch. Because the rank key is deterministic
    and top-n merge is order-insensitive, the drained reservoir is
    BIT-IDENTICAL to the batch weighted_priority_sample over the same
    corpus — the registry checks this stream against the SAME DuckDB
    oracle (_aes_sql), turning the mergeability claim into a standing
    hash proof. This is the production "maintain a weighted sample of
    the crawl as it lands" loop; at 100 TB the per-batch work is one
    map pass + a top-n against n persisted rows."""
    docs = documents_stream(spark, sf_dir)
    # a not-yet-existing path: _reservoir_read treats ONLY a missing
    # store as "first batch" (an empty-but-existing dir is a corrupt
    # store)
    store = store_dir or os.path.join(
        tempfile.mkdtemp(prefix="store_prio_sample_"), "store"
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        priority_sample_batch(batch_df, store, _PRIORITY_SAMPLE_N)

    _drain_foreach_batch(docs, handle, "stream_priority_sample", checkpoint_dir)
    return read_priority_store(spark, store)


#: Shingle-Jaccard at or above which near-dedup ingest drops a document.
_NEAR_DUP_THRESHOLD = 0.6


def near_ingest_batch(batch_df: DataFrame, store_dir: str) -> None:
    """Idempotent NEAR-dedup-on-write sink — the full production ingest
    filter (exact tier included, since exact dups are jaccard-1.0 near
    dups): within-batch near-dup clustering keeps one canonical doc per
    cluster (min id, `dedup_clusters`), then canonicals that match
    anything ALREADY ACCEPTED at shingle-Jaccard >= threshold are
    dropped (`cross_corpus_near_dup` best-match filter); survivors
    append to the store.

    Replay safety is inherited rather than bolted on: a re-delivered
    batch's canonicals match their own earlier store rows at jaccard
    1.0 and drop — so the at-least-once foreachBatch contract holds
    with NO separate bookkeeping. At 100 TB the store side of the
    filter runs off precomputed band signatures (see
    cross_corpus_near_dup's scale notes), not raw text."""
    from ..operators.dedup import cross_corpus_near_dup, dedup_clusters

    sess = batch_df.sparkSession
    canon = batch_df.join(
        dedup_clusters(batch_df, threshold=_NEAR_DUP_THRESHOLD)
        .filter("is_canonical")
        .select("doc_id"),
        "doc_id",
        "left_semi",
    )
    store = _read_store(sess, store_dir)
    if store is not None:
        dup = cross_corpus_near_dup(canon, store, threshold=_NEAR_DUP_THRESHOLD).select(
            "doc_id"
        )
        canon = canon.join(dup, "doc_id", "left_anti")
    canon.write.mode("append").parquet(store_dir)


def incremental_ingest_near_dedup(
    spark: SparkSession,
    src_dir: str,
    store_dir: str,
    checkpoint_dir: str | None = None,
) -> None:
    """Streaming corpus ingest with cross-run NEAR-dedup: the
    near-duplicate upgrade of `incremental_ingest_dedup`. ``src_dir``
    is a parquet directory of arriving documents, drained one file per
    micro-batch so multi-file drops replay deterministically."""
    schema = spark.read.parquet(src_dir).schema
    docs = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        near_ingest_batch(batch_df, store_dir)

    _drain_foreach_batch(
        docs, handle, "incremental_ingest_near_dedup", checkpoint_dir
    )


def _ann_cell_matrices(rows) -> dict:
    """Pack collected arrival rows (vec_id, ivf_cell, embedding) into
    per-(cell, dim) numpy matrices for the ANN-ingest matrix kernel:
    ``{(cell, dim): (ids int64[n], X float64[n, dim], na float64[n])}``
    where ``na`` is each arrival's norm computed in the shared fold
    scorer's exact op order (per-dim single-rounded accumulation, then
    one sqrt). NULL embeddings are excluded — they score NULL against
    everything in the pair formulation and can neither flag nor demote."""
    import numpy as np

    groups: dict = {}
    for r in rows:
        v = r[2]
        if v is None:
            continue
        groups.setdefault((r[1], len(v)), []).append((r[0], v))
    out = {}
    for key, items in groups.items():
        ids = np.array([i for i, _ in items], dtype=np.int64)
        X = np.array([list(v) for _, v in items], dtype=np.float64)
        d = key[1]
        nn = np.zeros(len(items))
        for i in range(d):
            nn = nn + X[:, i] * X[:, i]
        out[key] = (ids, X, np.sqrt(nn))
    return out


def _ann_flags_vs_arrivals(
    df: DataFrame,
    bc_arrivals,
    threshold: float,
    emit_flagged_arrivals: bool = False,
) -> DataFrame:
    """Arrow matrix kernel behind ann_ingest_batch (r13): score each
    input vector against the broadcast per-cell arrival matrices and
    emit only the dup-rule FINDINGS instead of scored candidate pairs.

    Cosines replay operators/similarity.score_pairs_cosine's numeric
    contract exactly — per-dim single-rounded IEEE steps in fold order
    (``AB = AB + outer(Xr[:,i], Xa[:,i])`` is elementwise the same
    chain as the pair kernel's ``ab = ab + A[:,i]*B[:,i]``), den =
    sqrt(rr)·na then one divide, zero denominator or length mismatch →
    NULL (NaN here — fails every ``>=``), so every flag is
    bit-identical to the former pair-join formulation.

    Emits (vec_id, dup):
    - always: ``(row_id, true)`` for input rows with some same-cell
      same-dim arrival of SMALLER id scoring ``>= threshold`` (the
      within-batch dup / retro-demotion finding);
    - with ``emit_flagged_arrivals``: additionally
      ``(arrival_id, false)`` for arrivals flagged by some input row
      of SMALLER id (the store-flags-arrival dup direction). Emitted
      per Arrow chunk, so downstream consumers must dedup."""
    import numpy as np
    import pandas as pd

    def kernel(batches):
        arrivals = bc_arrivals.value
        for pdf in batches:
            if not len(pdf):
                continue
            vals = pdf["embedding"].to_numpy()
            cells = pdf["ivf_cell"].to_numpy()
            ids = pdf["vec_id"].to_numpy()
            out_ids: list = []
            out_dup: list = []
            grp: dict = {}
            for j, v in enumerate(vals):
                if v is None:
                    continue
                grp.setdefault((cells[j], len(v)), []).append(j)
            for key, idx in grp.items():
                hit = arrivals.get(key)
                if hit is None:
                    continue
                ids_a, Xa, na = hit
                d = key[1]
                ids_r = np.array(
                    [ids[j] for j in idx], dtype=np.int64
                )
                Xr = np.array(
                    [list(vals[j]) for j in idx], dtype=np.float64
                )
                m, n = len(idx), len(ids_a)
                AB = np.zeros((m, n))
                rr = np.zeros(m)
                for i in range(d):
                    AB = AB + np.multiply.outer(Xr[:, i], Xa[:, i])
                    rr = rr + Xr[:, i] * Xr[:, i]
                den = np.multiply.outer(np.sqrt(rr), na)
                cos = np.divide(
                    AB,
                    den,
                    out=np.full((m, n), np.nan),
                    where=den != 0,
                )
                ge = cos >= threshold  # NaN fails, like NULL
                dup_rows = (
                    ge & (ids_a[None, :] < ids_r[:, None])
                ).any(axis=1)
                out_ids.extend(ids_r[dup_rows].tolist())
                out_dup.extend([True] * int(dup_rows.sum()))
                if emit_flagged_arrivals:
                    fl = (
                        ge & (ids_r[:, None] < ids_a[None, :])
                    ).any(axis=0)
                    out_ids.extend(ids_a[fl].tolist())
                    out_dup.extend([False] * int(fl.sum()))
            yield pd.DataFrame(
                {
                    "vec_id": pd.Series(out_ids, dtype="int64"),
                    "dup": pd.Series(out_dup, dtype="bool"),
                }
            )

    return df.select("vec_id", "ivf_cell", "embedding").mapInPandas(
        kernel, "vec_id long, dup boolean"
    )


def ann_ingest_batch(
    batch_df: DataFrame,
    store_dir: str,
    centroids: list[list[float]],
    threshold: float = 0.45,
) -> None:
    """One micro-batch of streaming ANN ingest (r12 VERDICT ask #6):
    arriving embeddings are assigned to their IVF cell via the
    PERSISTED coarse quantizer (broadcast model state — the serve half
    of the fit-once lifecycle), then near-dup-flagged against the
    persisted vector store restricted to the SAME cell (the ANN
    approximation that makes ingest dedup affordable: per batch, cost
    is |batch| × same-cell store rows, never |batch| × |store|).

    The dup rule is ORDER-INSENSITIVE so the drained state is
    bit-identical to the batch twin no matter how ingest was
    micro-batched, including out-of-order and replayed batches:
    a vector is a duplicate iff ANY smaller-vec_id same-cell vector
    anywhere in the corpus scores cosine >= threshold against it
    (non-recursive — duplicates of duplicates still count, which is
    what keeps the rule SQL-expressible and merge-commutative).
    Three cases per pair (u < v):
    - u and v in the same batch  -> the within-batch self-join flags v;
    - u arrived before v         -> the store-vs-arrivals join flags v
                                    at v's arrival;
    - u arrives AFTER v          -> the same join RETRO-DEMOTES v by
                                    appending v's id to the demoted
                                    set (an append-only membership set
                                    — duplicates from replays are
                                    harmless).
    Replay safety: arrivals already in the store are anti-joined away
    before the vector append (a full replay appends nothing), and the
    demotion set is recomputed from the FULL batch — so the
    vectors-then-demotions append order closes the crash window (a
    crash between the two appends replays into "no new vectors, same
    demotions re-derived").

    Plan contract: the store's VECTORS never shuffle — the arrivals
    travel as one compact per-cell MATRIX broadcast (r13, guide §8:
    decide with small rows, move big rows once) scored against the
    store scan inside an Arrow pass; the model is a driver literal
    inside the Arrow assignment pass. The replay-guard anti-join reads
    ONLY the store's 8-byte id column (column pruning — the
    incremental_ingest_dedup convention); at 100 TB that id exchange
    is the piece you'd swap for a bloom-filter guard.

    r13 rework (guide §8 / §2.3, measured): the former broadcast pair
    JOINS materialized |batch|²/cells (and |batch|×|same-cell store|)
    candidate ROWS, each carrying TWO full embedding payloads into the
    Arrow scorer — the dup rule only needs per-row BOOLEANS ("exists a
    smaller-id neighbor ≥ t"), so each vector now crosses the Python
    boundary ONCE and the pairwise cosines fall out of a per-cell
    matrix kernel (_ann_flags_vs_arrivals) that replays the shared
    fold scorer's exact per-dim single-rounded IEEE op order —
    bit-identical flags, pinned by the batch-twin oracle and the
    order-insensitivity tests."""
    from ..operators.similarity import with_ivf_cell

    sess = batch_df.sparkSession
    vec_dir = os.path.join(store_dir, "vectors")
    dem_dir = os.path.join(store_dir, "demoted")
    arr = (
        with_ivf_cell(batch_df, centroids)
        .select("vec_id", "ivf_cell", "embedding")
        .transform(checkpoint_stage)  # several consumers below
    )
    store = _read_store(sess, vec_dir)
    # The arrivals are micro-batch-sized by contract (the same bound
    # the former F.broadcast(b_side) pulled through the driver to
    # build its hash relation); as per-cell float64 matrices they ship
    # once per executor instead of once per candidate pair.
    bc_arr = sess.sparkContext.broadcast(
        _ann_cell_matrices(arr.collect())
    )
    # within-batch: smaller-id same-cell neighbor among the arrivals
    dup_ids = (
        _ann_flags_vs_arrivals(arr, bc_arr, threshold)
        .filter(F.col("dup"))
        .select("vec_id")
    )
    demoted = None
    if store is not None:
        # store-vs-arrivals, both directions from ONE store scan:
        # dup=false rows carry arrival ids flagged by a smaller-id
        # store vector; dup=true rows are store ids retro-demoted by
        # a smaller-id arrival.
        j = _ann_flags_vs_arrivals(
            store.select("vec_id", "ivf_cell", "embedding"),
            bc_arr,
            threshold,
            emit_flagged_arrivals=True,
        ).transform(checkpoint_stage)  # two consumers, bounded
        dup_ids = dup_ids.unionByName(
            j.filter(~F.col("dup")).select("vec_id")
        )
        demoted = (
            j.filter(F.col("dup")).select("vec_id").distinct()
        )
    flagged = arr.join(
        dup_ids.distinct().withColumn("__dup", F.lit(True)),
        "vec_id",
        "left",
    ).select(
        "vec_id",
        "ivf_cell",
        "embedding",
        F.coalesce(F.col("__dup"), F.lit(False)).alias("dup_at_arrival"),
    )
    if store is not None:
        flagged = flagged.join(
            store.select("vec_id"), "vec_id", "left_anti"
        )
    flagged.write.mode("append").parquet(vec_dir)
    if demoted is not None:
        _ann_append_demotions(demoted, dem_dir)


def _ann_append_demotions(demoted: DataFrame, dem_dir: str) -> None:
    """Second of the two per-batch appends — a module-level seam so the
    crash test can tear exactly the vectors-committed/demotions-missing
    window (the replay closes it: demotions re-derive from the full
    batch, vectors anti-join to a no-op)."""
    demoted.coalesce(1).write.mode("append").parquet(dem_dir)


def read_ann_ingest_store(sess: SparkSession, store_dir: str) -> DataFrame:
    """Resolve the drained ANN-ingest state: every ingested vector with
    its cell and final canonicity (arrival flag minus retro-demotions).
    The demoted set is micro-batch-sized per append and read distinct;
    the vector store scan never shuffles (broadcast semi-structure)."""
    vec = sess.read.parquet(os.path.join(store_dir, "vectors"))
    dem = _read_store(sess, os.path.join(store_dir, "demoted"))
    out = vec.select("vec_id", "ivf_cell", "dup_at_arrival")
    if dem is not None:
        out = out.join(
            F.broadcast(
                dem.select("vec_id").distinct().withColumn(
                    "__dem", F.lit(True)
                )
            ),
            "vec_id",
            "left",
        )
    else:
        out = out.withColumn("__dem", F.lit(None).cast("boolean"))
    return out.select(
        "vec_id",
        "ivf_cell",
        (~F.col("dup_at_arrival") & F.col("__dem").isNull()).alias(
            "is_canonical"
        ),
    )


def stream_ann_ingest(
    spark: SparkSession,
    sf_dir: str,
    centroids: list[list[float]],
    threshold: float = 0.45,
    store_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Streaming ANN ingest near-dedup: embeddings arrive as a stream,
    each micro-batch is cell-assigned via the persisted coarse
    quantizer and near-dup-filtered against the persisted vector store
    (ann_ingest_batch). Because the dup rule is order-insensitive, the
    drained state is BIT-IDENTICAL to the batch computation over the
    same corpus — the registry checks this stream against a batch-twin
    DuckDB oracle (the stream_priority_sample pattern), so the
    mergeability claim is a standing hash proof."""
    emb = embeddings_stream(spark, sf_dir)
    store = store_dir or os.path.join(
        tempfile.mkdtemp(prefix="store_ann_ingest_"), "store"
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        ann_ingest_batch(batch_df, store, centroids, threshold)

    _drain_foreach_batch(emb, handle, "stream_ann_ingest", checkpoint_dir)
    return read_ann_ingest_store(spark, store)


def fanout_foreach_batch(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str | None = None,
) -> None:
    """Multi-sink fan-out via ``foreachBatch``: one stream feeding both
    a raw partitioned-parquet sink and a per-type aggregate sink.

    Fixes EP2's cost bug the set-based way: the reference ran two
    actions on the same uncached lineage and scanned Kafka twice
    (SURVEY §3 EP2); here each micro-batch is persisted once and both
    sinks write from the cached batch. Delivery is at-least-once:
    ``foreachBatch`` replays an uncommitted batch after a restart, so a
    crash between the raw append and the agg append, or before the
    offset commit, appends that batch's rows a second time (ROADMAP
    item 3). The raw sink partitions by ``event_type`` so downstream
    readers get partition pruning for free."""
    ev = events_stream(spark, sf_dir)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            (
                batch_df.withColumn("batch_id", F.lit(batch_id))
                .write.mode("append")
                .partitionBy("event_type")
                .parquet(f"{out_dir}/raw")
            )
            (
                batch_df.groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    F.sum("value").alias("sum_value"),
                )
                .withColumn("batch_id", F.lit(batch_id))
                .write.mode("append")
                .parquet(f"{out_dir}/agg")
            )
        finally:
            batch_df.unpersist()

    _drain_foreach_batch(ev, handle, "fanout_foreach_batch", checkpoint_dir)


#: Idle gap that closes a session window.
_SESSION_GAP = "30 minutes"


def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows: per-user activity sessions closed by a 30-min
    idle gap (``F.session_window`` — dynamic, data-driven windows)."""
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", _SESSION_GAP).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return run_to_memory(agg).select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
    )


def stream_seasonal_baseline(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Streaming (event_type, hour-of-day) moment table — the serving
    state behind the seasonal z-score monitor (queries.
    event_seasonal_anomaly): count, integer-cent sum, and integer-cent
    sum-of-squares per cell, maintained by a complete-mode aggregation.
    All three moments are plain long sums — algebraic, so micro-batch
    partials merge into EXACTLY the batch-computed table no matter how
    ingest was chopped (the batch SQL twin doubles as the
    micro-batching-invariance proof, and the merge test in
    tests/test_streaming.py re-chops the feed to pin it). At 100 TB
    the state is <= |types| x 24 rows of three longs — the monitor's
    baseline refreshes continuously for the price of one map-side
    combine per micro-batch."""
    ev = events_stream(spark, sf_dir, max_files_per_trigger).filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    cents = F.round(F.col("value") * 100).cast("long")
    cells = ev.select(
        "event_type",
        F.hour("ts").cast("long").alias("hod"),
        cents.alias("v_cents"),
    )
    base = cells.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v_cents").alias("s"),
        F.sum(F.col("v_cents") * F.col("v_cents")).alias("ss"),
    )
    return run_to_memory(base, output_mode="complete")
