"""Bucketed + partitioned storage: pre-shuffled layouts for co-located
joins and partition pruning.

At 100 TB the single biggest shuffle in most pipelines is the fact-fact
join (lineitem ⋈ orders class). Bucketing removes it structurally: both
tables are written pre-hashed on the join key into the same number of
buckets, so the join plans as a SortMergeJoin over matched bucket files
with **zero Exchange** — the shuffle was paid once at write time and
amortizes over every subsequent join/agg on that key.

The reference stores everything as flat CSV on S3 (SURVEY.md §1.1) and
pays the shuffle on every read. Our layout contract:

- fact tables: ``bucketBy(N, join_key)`` + ``sortBy(join_key)`` —
  N sized so a bucket ≈ one task's comfortable input (128–512 MB);
- time-series tables: additionally ``partitionBy(date_col)`` for
  partition pruning on time predicates;
- dimension tables: plain parquet (they broadcast anyway).

Bucketed tables go through the session catalog (``saveAsTable`` — the
bucket metadata lives there), with an explicit ``path`` so data stays
in the caller's directory, not the default warehouse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int,
) -> None:
    """Write ``df`` as a parquet table bucketed and sorted on
    ``bucket_cols``, registered as ``table`` in the session catalog."""
    (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .saveAsTable(table)
    )


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: list[str]
) -> DataFrame:
    """Join two same-bucketed catalog tables on their bucket key. With
    matching bucket counts Spark plans this with no Exchange on either
    side (verified by tests/test_storage.py)."""
    return spark.table(left_table).join(spark.table(right_table), on)


def dir_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(total_bytes, file_count) for a storage prefix via the Hadoop
    FileSystem API — works identically on local paths and s3a:// URIs,
    and costs a listing, not a read."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    s = fs.getContentSummary(p)
    return int(s.getLength()), int(s.getFileCount())


#: Output file size the compactions aim for.
TARGET_FILE_BYTES = 256 * 1024 * 1024


def compact_small_files(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    sort_cols: list[str] | None = None,
) -> tuple[int, int]:
    """Small-files compaction: rewrite a parquet prefix into ~target-
    sized files; returns (files_before, files_after).

    Incremental ingest (one file per micro-batch × partition — see
    streaming/pipelines.incremental_ingest_dedup) accretes thousands of
    tiny files; at 100 TB the scan cost becomes LIST calls and per-file
    opens, not bytes. The rewrite sizes the output file count from the
    measured input bytes:

    - with ``sort_cols``: ``repartitionByRange`` + within-partition
      sort, so every output file owns a disjoint key range and carries
      tight parquet min/max stats — downstream predicates on the sort
      key prune whole files at plan time (poor man's clustering index);
    - without: round-robin ``repartition`` — pure size normalization.

    Writes to ``dst`` (never in place): the caller swaps prefixes after
    validation, keeping the operation atomic-by-rename and retryable.
    """
    from pyspark.sql import functions as F  # noqa: F401 (parity with callers)

    total_bytes, files_before = dir_stats(spark, src)
    n_out = max(1, -(-total_bytes // target_file_bytes))
    df = spark.read.parquet(src)
    if sort_cols:
        out = df.repartitionByRange(n_out, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    else:
        out = df.repartition(n_out)
    out.write.mode("overwrite").parquet(dst)
    _, files_after = dir_stats(spark, dst)
    return files_before, files_after


def zorder_compact(
    spark: SparkSession,
    src: str,
    dst: str,
    zorder_cols: tuple[str, str],
    n_files: int | None = None,
) -> int:
    """Z-order compaction: rewrite a parquet prefix clustered on the
    Morton interleave of TWO keys (Delta/Iceberg ``ZORDER BY``), so
    every output file carries tight min/max statistics on BOTH columns
    and a selective range predicate on EITHER prunes most files.
    Returns the output file count.

    This is the write path of queries.zorder_layout_stats (which
    audits the same layout as a query): ``repartitionByRange`` on the
    32-bit Morton code gives each file a disjoint code range — a
    single-key sort instead leaves the second column spanning its full
    domain in every file (zero pruning on it; contrast pinned by
    tests/test_storage.py::test_zorder_compact_prunes_both_columns).
    The code column is projected away after the range partitioning —
    the Project preserves the partitioning, so no extra shuffle and
    nothing extra on disk.
    """
    from .operators.layout import morton16

    return _curve_compact(spark, src, dst, zorder_cols, morton16, n_files)


def hilbert_compact(
    spark: SparkSession,
    src: str,
    dst: str,
    cluster_cols: tuple[str, str],
    n_files: int | None = None,
) -> int:
    """Hilbert-curve compaction: `zorder_compact` with the Morton
    interleave swapped for the Hilbert index (operators/hilbert.py).
    The curve walks adjacent cells only — no Morton seam-jumps — so
    per-file bounding boxes on the two keys are at least as tight at
    the same file count (Delta's "liquid clustering" switch, measured
    by tests/test_storage.py against the Z-order layout)."""
    from .operators.hilbert import hilbert16

    return _curve_compact(
        spark, src, dst, cluster_cols, hilbert16, n_files
    )


def _curve_compact(spark, src, dst, cols, code_fn, n_files) -> int:
    """Shared space-filling-curve rewrite: scale both keys onto the
    16-bit domain, compute the curve code, range-shard + sort on it,
    drop the code column (the Project preserves the partitioning — no
    extra shuffle, nothing extra on disk)."""
    from pyspark.sql import functions as F

    from .operators.layout import scale_to_16bit

    a, b = cols
    df = spark.read.parquet(src)
    if n_files is None:
        total_bytes, _ = dir_stats(spark, src)
        n_files = max(1, -(-total_bytes // TARGET_FILE_BYTES))
    # Bounded driver traffic: the key extrema (one row). Minima matter
    # for signed key domains (scale_to_16bit shifts by them — negative
    # scaled values would otherwise mask to the TOP of the 16-bit
    # domain and destroy the layout's locality).
    mx = df.agg(
        F.max(a).alias("ma"),
        F.max(b).alias("mb"),
        F.min(a).alias("na"),
        F.min(b).alias("nb"),
    ).collect()[0]
    if mx["ma"] is None or mx["mb"] is None:
        # zero-row source: nothing to cluster — write the empty frame
        # through unchanged (the sibling compact_small_files behavior)
        df.repartition(1).write.mode("overwrite").parquet(dst)
        _, files_after = dir_stats(spark, dst)
        return files_after
    code = code_fn(
        scale_to_16bit(F.col(a), mx["ma"], mx["na"]),
        scale_to_16bit(F.col(b), mx["mb"], mx["nb"]),
    )
    out = (
        df.withColumn("__curve", code)
        .repartitionByRange(n_files, "__curve")
        .sortWithinPartitions("__curve")
        .drop("__curve")
    )
    out.write.mode("overwrite").parquet(dst)
    _, files_after = dir_stats(spark, dst)
    return files_after
