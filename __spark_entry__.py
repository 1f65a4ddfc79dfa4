"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over the engine's query registry
(``amazonmsk_emr_tem_data_spark/queries/``, one ``QUERIES`` table per module;
the registry lives in ``_registry.py``). The driver's verify runs
``entry(spark)`` as a smoke check, runs each ``queries()[name]`` at
sf=0.01 and compares it against the matching ``oracle_sql()[name]`` via
DuckDB (row-count + schema + order-insensitive value-hash).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from amazonmsk_emr_tem_data_spark import queries as registry  # noqa: E402
from amazonmsk_emr_tem_data_spark.queries import _core as q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The idiomatic, grouped+time-bucketed version of the reference's
    ``calculate_average_tem`` (see SURVEY.md §2.4 F3 / §7.1 M1).
    """
    return q.tem_hourly_avg(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return registry.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each SQL-expressible query."""
    return registry.oracle_sql()
