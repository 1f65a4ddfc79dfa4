"""SparkSession factory.

The reference creates its sessions ad hoc in each driver script
(e.g. ``/root/reference/pyspark_scripts/temDataRead.py:23-28``) with no
tuning beyond an S3 upload buffer. Here a single factory applies the
settings every query in this engine relies on:

- **AQE on** — runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic broadcast decisions. At 100 TB this is what
  keeps a 32-partitions-per-stage plan from being wrong at both ends.
- **Arrow on** — vectorized pandas-UDF / toPandas interchange for the
  similarity and multimodal operators.
- **UTC session timezone** — parquet timestamps compare bit-identically
  against the DuckDB oracle.
- **shuffle.partitions ~ cores** — local mode; a cluster deployment
  overrides via ``extra_conf`` (AQE coalescing makes the initial number
  far less critical).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "amazonmsk_emr_tem_data_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this engine.

    On a real cluster, pass ``master=None`` semantics by overriding via
    ``extra_conf`` / spark-submit; everything here is safe defaults, not
    cluster policy.
    """
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # r13: skip per-Column-op Python call-site capture (PySpark 4
        # wraps every DataFrame API call to record error context; the
        # capture is pure driver overhead on EVERY expression build —
        # cProfile showed it inside the hottest query constructors).
        # Driver-side cost at any cluster scale, not a local[32] knob.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
