"""Rate-limited replay source.

Replaces the reference's incremental producer loop (K2/M3,
``/root/reference/pyspark_scripts/04_temincrementaltem.py:83-98``): the
reference `collect()`s the WHOLE DataFrame once per row (O(n²) rows to
the driver) and submits one single-record Kafka job per row with a
``time.sleep(0.5)`` — ~2 Spark jobs per message.

The semantics to preserve are *ordered, throttled replay* (2 rows/s by
default). The Spark-native expression is a streaming ``rate`` source
(one monotonically increasing ``value`` per tick) joined to the static
dataset on a precomputed row number — fully distributed, one micro-batch
per trigger instead of one job per row, and naturally backpressured.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def with_replay_index(df: DataFrame, order_cols: list[str]) -> DataFrame:
    """Assign a deterministic, dense 0-based replay index.

    A single un-partitioned window is driver-bottleneck territory at
    100 TB — but a replay feed is by definition a throttled, small-volume
    stream (2 rows/s), so a global ordering is inherent to the operator,
    not an accident of implementation.
    """
    w = Window.orderBy(*[F.col(c) for c in order_cols])
    return df.withColumn("_replay_idx", F.row_number().over(w) - F.lit(1))


#: Rows per second a replay emits.
REPLAY_ROWS_PER_SECOND = 2


def replay_stream(
    spark: SparkSession,
    static_df: DataFrame,
    order_cols: list[str],
) -> DataFrame:
    """Unbounded stream that emits ``static_df`` rows in ``order_cols``
    order at REPLAY_ROWS_PER_SECOND (the reference's 2/s,
    04_temincrementaltem.py:19).

    Implementation: ``rate`` source ticks at the target rate; each tick's
    ``value`` equi-joins one static row by replay index (a stream-static
    join, which Structured Streaming executes per micro-batch with the
    static side broadcast when small).
    """
    indexed = with_replay_index(static_df, order_cols)
    ticks = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(REPLAY_ROWS_PER_SECOND))
        .load()
        .withColumnRenamed("timestamp", "_emit_ts")
    )
    return ticks.join(
        F.broadcast(indexed), ticks["value"] == indexed["_replay_idx"], "inner"
    ).drop("value", "_replay_idx")
