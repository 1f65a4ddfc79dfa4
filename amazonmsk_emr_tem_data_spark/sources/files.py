"""File sources: parquet-first table loaders + the reference's CSV scan.

The reference's only file source is a schema-first CSV scan (S1,
``/root/reference/pyspark_scripts/temDataRead.py:50-52``). This engine is
parquet-first (columnar at rest → column pruning + predicate pushdown hit
the scan), with CSV retained for ingest parity.

Scale note: loaders take any Hadoop-FS URI. At 100 TB the same
``spark.read.parquet`` call reads a partitioned S3 prefix; partition
pruning and pushdown come from Catalyst, not from code here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import TESTDATA_TABLES, tem_schema


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet INT64 TIMESTAMP(NANOS) — Spark 4
    rejects that logical type outright ([PARQUET_TYPE_ILLEGAL]), so
    reads go through the ``nanosAsLong`` legacy mode and these columns
    are restored to TimestampType below. Footer-only metadata read:
    O(1), driver-side. A directory of shard part-files is probed via
    its first part file (all shards of one write share a schema).

    The probe checks the parquet PHYSICAL type, not the arrow-level
    schema: Spark's own default timestamp encoding is INT96, which
    pyarrow also surfaces as ``timestamp[ns]`` — but Spark reads INT96
    natively, and flagging it here would mis-apply the DIV-1000
    restoration to an already-correct TimestampType column (the bug
    class: any Spark-written events shard re-read through this loader).
    Only INT64 + a nanoseconds TIMESTAMP annotation needs the legacy
    path."""
    try:
        import glob
        import os

        import pyarrow.parquet as pq

        if os.path.isdir(path):
            parts = sorted(
                p
                for p in glob.glob(os.path.join(path, "*.parquet"))
                if not os.path.basename(p).startswith((".", "_"))
            )
            if not parts:
                return []
            path = parts[0]
        schema = pq.ParquetFile(path).schema
        out = []
        for i in range(len(schema)):
            col = schema.column(i)
            if col.physical_type == "INT64" and "nanos" in str(
                col.logical_type
            ).lower().replace(" ", ""):
                out.append(col.name)
        return out
    except Exception:
        return []


def _path_stamp(path: str):
    """Cheap content stamp for the table-handle cache: (mtime_ns, size)
    of the file, or of the directory entry for sharded writes (Spark's
    commit protocol renames into the dir, bumping its mtime)."""
    import os

    try:
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver fixture table from ``{sf_dir}/{name}.parquet``.

    Transparently restores TIMESTAMP(NANOS) columns (pandas/pyarrow
    default) to Spark TimestampType: read as long nanos, then integer-
    divide to micros (`DIV` — a double division would lose precision at
    ~1.7e18 ns epoch values).

    The resolved DataFrame HANDLE (an unexecuted plan — never data) is
    memoized per session, keyed by (path, mtime, size): re-resolving
    the same path costs ~110 ms of footer probe + schema inference +
    py4j per call, which a catalog would pay once — this is the
    metastore behavior, implemented at the loader (r13 optimization,
    guide §5: the driver should do almost no data work). Every
    execution of the returned plan still scans parquet from scratch;
    a rewritten file (new mtime/size) gets a fresh plan.
    """
    path = f"{sf_dir}/{name}.parquet"
    cache = spark.__dict__.setdefault("_graft_table_handles", {})
    key = (path, _path_stamp(path))
    if key[1] is not None and key in cache:
        return cache[key]
    df = _load_table_uncached(spark, path)
    if key[1] is not None:
        cache[key] = df
    return df


def _load_table_uncached(spark: SparkSession, path: str) -> DataFrame:
    ns_cols = _nanos_timestamp_cols(path)
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return _restore_timestamps(spark.read.parquet(path), ns_cols)


def _restore_timestamps(df: DataFrame, ns_cols: list[str]) -> DataFrame:
    """The one timestamp restoration of the batch loader and the
    streaming file source: ``ns_cols`` (read as long nanos under
    ``nanosAsLong``) integer-divide to micros, and every TIMESTAMP_NTZ
    column casts to session-time TIMESTAMP. Micros-precision parquet
    written without tz metadata surfaces as TIMESTAMP_NTZ, which Spark
    refuses to cast to numeric (epoch math, window range frames), so
    every operator sees one timestamp type regardless of who wrote the
    file."""
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
    for f in df.schema.fields:
        if f.dataType.typeName() == "timestamp_ntz":
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


def checkpoint_stage(df: DataFrame) -> DataFrame:
    """Eagerly materialize a staging table (used as
    ``df.transform(checkpoint_stage)`` at every multi-consumer staging
    and per-round lineage-truncation site).

    Default: ``localCheckpoint(eager=True)`` — blocks on executor
    local storage, no lineage. That is the right call on local[N]
    (and it is what fixes the concurrent-broadcast-build recompute
    race, r13), but it is a durability bet on a real cluster: one
    lost executor fails the job mid-query because there is no lineage
    to recover from (r13 VERDICT "What's wrong" #2).

    ``SPARK_GRAFT_RELIABLE_CHECKPOINT=<dir>`` switches every site to a
    RELIABLE checkpoint under ``<dir>`` (HDFS/S3 path on a cluster):
    same eager materialization and plan truncation, but blocks are
    re-readable after executor loss. The env var carries the
    checkpoint directory because a reliable checkpoint is meaningless
    without one; ``setCheckpointDir`` is applied once per session.
    Production would set e.g. ``hdfs:///tmp/graft-ckpt`` and a TTL
    cleaner on the directory.

    Either mode truncates the logical plan at this boundary, so
    pushdown/pruning cannot cross it — every call site therefore
    stages an explicitly projected, pre-filtered relation (the PLANS.md
    "checkpoint staging" fact; scans UPSTREAM of the boundary keep
    their pruned ReadSchema, pinned by test)."""
    import os

    ckdir = os.environ.get("SPARK_GRAFT_RELIABLE_CHECKPOINT", "")
    if not ckdir:
        return df.localCheckpoint(eager=True)
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir(ckdir)
    return df.checkpoint(eager=True)


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Raise a compute-bound stage's partition count to cluster
    parallelism when the upstream scan under-splits (few files / one
    parquet row group — the local-fixture case).

    No-op whenever the scan already yields >= target splits, so at
    100 TB (thousands of row groups) this never inserts a shuffle; on a
    single-file fixture it buys every core for the CPU-heavy map that
    follows (shingling, regex features, vector math). Uses an explicit
    numPartitions so AQE's size-based coalescing (64 MB target — huge
    vs. byte-light but CPU-dense rows like shingle arrays) cannot fold
    the stage back to one task.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    memo = df.__dict__.setdefault("_graft_ep_memo", {})
    if target in memo:
        return memo[target]
    # Partition probe, two-level (r13 driver-overhead fix, guide §5):
    # `df.rdd.getNumPartitions()` builds a PythonRDD + serializer chain
    # and physically plans the subtree on EVERY call (~110-380 ms per
    # fresh plan construction). Instead: (1) the probe goes through the
    # DataFrame's own lazily-cached queryExecution (`toRdd()` — same
    # physical-partition answer, no Python wrapper); (2) its result is
    # memoized per session keyed by the ANALYZED plan's semanticHash
    # (~16 ms to compute on a fresh plan), so re-constructing the same
    # query re-uses the count instead of re-planning. The cache holds
    # an int per distinct plan shape — never data — and a stale hit
    # after an in-place rewrite of the underlying file can only change
    # the parallelism decision, not any query result.
    n_parts = plan_partitions(df)
    out = df if n_parts >= target else df.repartition(target)
    memo[target] = out
    return out


def plan_partitions(df: DataFrame) -> int:
    """Physical partition count of ``df``'s plan, memoized per session
    on the analyzed plan's semanticHash — the ensure_parallelism probe
    (r13, see above), exposed (r14) so operators can make
    scale-adaptive reduce decisions (e.g. the Lloyd fit collects tiny
    partial sets but aggregates wide ones) without re-planning."""
    spark = df.sparkSession
    qe = df._jdf.queryExecution()
    pcache = spark.__dict__.setdefault("_graft_ep_counts", {})
    key = (qe.analyzed().semanticHash(), tuple(df.columns))
    n_parts = pcache.get(key)
    if n_parts is None:
        n_parts = qe.toRdd().getNumPartitions()
        pcache[key] = n_parts
    return n_parts


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every driver fixture table (see /root/repo/TESTDATA.md)."""
    return {name: load_table(spark, sf_dir, name) for name in TESTDATA_TABLES}


def read_tem_csv(
    spark: SparkSession, path: str, compat: bool = False
) -> DataFrame:
    """S1: schema-first CSV scan of telemetry readings.

    Mirrors the reference scan (explicit schema + header=True + sep=",",
    temDataRead.py:50-52) and the index-column drop (P1, temDataRead.py:52).
    With ``compat=False`` (default) the engine schema applies the §7.4
    fixes (doubles, timestamp dateTime, float TbottomTestTankHpCir).
    """
    schema = tem_schema(include_index=True, compat=compat)
    df = (
        spark.read.schema(schema)
        .option("header", True)
        .option("sep", ",")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .csv(path)
    )
    return df.drop("Unnamed: 0")
