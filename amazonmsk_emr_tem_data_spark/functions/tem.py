"""Telemetry math: the horizontal sensor mean `Tem(Avg)` (F3).

The reference's only analytic (built at
``/root/reference/pyspark_scripts/temReadFromTopic.py:78-79`` and
``03_temStreamEveryMin.py:85-86``): a PER-ROW horizontal mean of the ten
sensor channels T0..T9, ``(T0+…+T9)/10``, attached as a column literally
named ``Tem(Avg)`` (parens included — quote as `` `Tem(Avg)` `` in SQL).

Defining semantic preserved exactly (SURVEY.md §7.4): because it is a
SUM of columns divided by a constant — not a vertical ``avg()`` — if ANY
channel is NULL the whole result is NULL (NULL-propagating, unlike
aggregate avg which skips nulls).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import T_SENSOR_COLS, TEM_AVG_COL


def horizontal_mean(cols: list[str]) -> Column:
    """NULL-propagating horizontal mean: (c1 + c2 + … + cn) / n."""
    total = reduce(lambda a, b: a + b, [F.col(c) for c in cols])
    return total / F.lit(len(cols))


def with_tem_avg(df: DataFrame) -> DataFrame:
    """Attach `Tem(Avg)` (temReadFromTopic.py:84 equivalent)."""
    return df.withColumn(TEM_AVG_COL, horizontal_mean(T_SENSOR_COLS))
