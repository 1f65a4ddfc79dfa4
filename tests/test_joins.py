"""As-of / range join semantics + sketch accuracy."""

from datetime import datetime

from pyspark.sql import functions as F

from amazonmsk_emr_tem_data_spark.operators.joins import asof_join, range_join
from amazonmsk_emr_tem_data_spark.queries._timeseries import approx_sketches
from amazonmsk_emr_tem_data_spark.sources.files import load_table


def ts(s):
    return datetime.fromisoformat(s)


def test_asof_join_semantics(spark):
    left = spark.createDataFrame(
        [
            (1, 10, ts("2024-01-01 09:00:00")),   # before any right row
            (2, 10, ts("2024-01-01 10:00:00")),   # exactly at right ts (inclusive)
            (3, 10, ts("2024-01-01 11:30:00")),   # between rights
            (4, 10, ts("2024-01-02 00:00:00")),   # after all rights
            (5, 20, ts("2024-01-01 12:00:00")),   # key with no rights
        ],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (10, ts("2024-01-01 10:00:00"), 100, 1.0),
            (10, ts("2024-01-01 10:00:00"), 101, 2.0),  # tie: higher key wins
            (10, ts("2024-01-01 11:00:00"), 102, 3.0),
        ],
        "user_id long, rts timestamp, rk long, rv double",
    )
    out = {
        r["event_id"]: (r["rk"], r["rv"])
        for r in asof_join(
            left, right, on="user_id", left_ts="ts", right_ts="rts",
            right_cols=["rk", "rv"], tie_break="rk",
        ).collect()
    }
    assert out[1] == (None, None)
    assert out[2] == (101, 2.0)   # inclusive + deterministic tie-break
    assert out[3] == (102, 3.0)
    assert out[4] == (102, 3.0)
    assert out[5] == (None, None)
    assert len(out) == 5          # exactly one output row per left row


def test_range_join_interval_bounds(spark):
    left = spark.createDataFrame(
        [
            (1, 10, ts("2024-01-01 00:00:00")),  # == start: included
            (2, 10, ts("2024-01-01 23:59:59")),  # inside (crosses bucket)
            (3, 10, ts("2024-01-02 00:00:00")),  # == end: excluded
            (4, 11, ts("2024-01-01 12:00:00")),  # wrong key
        ],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(10, 500, ts("2024-01-01 00:00:00"))],
        "user_id long, rk long, start timestamp",
    )
    out = range_join(
        left, right, on="user_id", left_ts="ts",
        right_start=F.col("start"),
        right_end=F.col("start") + F.expr("INTERVAL 1 DAY"),
    )
    assert sorted(r["event_id"] for r in out.collect()) == [1, 2]


def test_range_join_honors_bucket_width(spark):
    # Sub-hour intervals with an "1 hour" bucket: results must be
    # identical to the default day bucket, and the finer stride must
    # actually appear in the plan (3600-second step, not 86400).
    left = spark.createDataFrame(
        [
            (1, 10, ts("2024-01-01 00:10:00")),  # inside
            (2, 10, ts("2024-01-01 00:40:00")),  # == end: excluded
            (3, 10, ts("2024-01-01 02:00:00")),  # after
        ],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(10, 500, ts("2024-01-01 00:05:00"))],
        "user_id long, rk long, start timestamp",
    )

    def run(bucket):
        return range_join(
            left, right, on="user_id", left_ts="ts",
            right_start=F.col("start"),
            right_end=F.col("start") + F.expr("INTERVAL 35 MINUTES"),
            bucket=bucket,
        )

    for bucket in ["1 hour", "15 minutes", "1 day"]:
        assert [r["event_id"] for r in run(bucket).collect()] == [1], bucket
    hourly_plan = run("1 hour")._jdf.queryExecution().optimizedPlan().toString()
    assert "3600" in hourly_plan and "86400" not in hourly_plan

    import pytest

    with pytest.raises(ValueError):
        run("fortnight")
    with pytest.raises(ValueError):
        run("0 hours")


def test_approx_sketches_accuracy(spark, sf_dir):
    """The r6 oracle-checkable shape: the query itself emits the exact
    stats plus tolerance booleans; every boolean must be TRUE (a
    sketch outside its published error bound flips one) and the exact
    side must match an independent recomputation."""
    ev = load_table(spark, sf_dir, "events")
    exact = {
        r["event_type"]: r
        for r in ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("nd"),
            F.count("value").alias("n"),
        )
        .collect()
    }
    out = {r["event_type"]: r for r in approx_sketches(spark, sf_dir).collect()}
    assert set(out) == set(exact)
    for k, a in out.items():
        assert a["exact_users"] == exact[k]["nd"]
        assert a["n_rows"] == exact[k]["n"]
        assert a["users_within_tol"] is True
        assert a["p50_ok"] is True and a["p90_ok"] is True and a["p99_ok"] is True
