"""Exact order statistics without a global sort: running sums and lower
quantiles, computed in two phases.

A running sum or a rank along one global order is a window with no
partition key, and Spark runs such a window in ONE task. Both functions
here get the same numbers from order-aligned buckets instead:

1. **Histogram.** One map-side-combinable aggregate gives each
   ``(by, bucket)`` its weight: one row per bucket, not per input row.
2. **Offsets.** A window over that small table, partitioned by ``by``
   and ordered by bucket, gives each bucket the weight of the buckets
   before it (``running_sum``), or locates the bucket a quantile falls
   in (``lower_quantiles``).
3. **Within-bucket window.** The offsets come back by BROADCAST
   equi-join on ``(by, bucket)``, and the row-level window is
   partitioned by ``(by, bucket)``: no task sorts more than one bucket,
   and ``lower_quantiles`` sorts only the rows of the located buckets.

The result equals the one-window version under this contract:

- ``bucket`` never decreases along ``order`` inside a ``by`` group, so
  each bucket is a contiguous slice of the order. A floor or truncating
  ``div`` of the leading order key qualifies (negate it for a
  descending order); several bucket columns compare lexicographically.
- ``by`` and ``bucket`` values are never NULL: the equi-join drops NULL
  keys, so coalesce or filter them first.
- Weights are non-negative integers (counts, cents, tokens): sums are
  exact whatever the evaluation order, and every quantile compare is
  integer arithmetic.
- ``order`` breaks every tie, so the running value of each row is
  deterministic.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _weight(weight: str | None) -> Column:
    return F.lit(1) if weight is None else F.col(weight)


def running_sum(
    df: DataFrame,
    *,
    by: Sequence[str],
    bucket: Sequence[str],
    order: Sequence[str | Column],
    name: str,
    weight: str | None = None,
) -> DataFrame:
    """``df`` plus ``name``: the inclusive running sum of ``weight``
    along ``order`` inside each ``by`` group, or the row number when
    ``weight`` is None. ``by`` and ``bucket`` are column names of
    ``df``; ``order`` takes names or sort expressions (``.desc()``)."""
    keys = [*by, *bucket]
    w = _weight(weight)
    hist = df.groupBy(*keys).agg(F.sum(w).alias("__bw"))
    earlier = (
        Window.partitionBy(*by)
        .orderBy(*bucket)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = hist.select(
        *keys,
        F.coalesce(F.sum("__bw").over(earlier), F.lit(0)).alias("__before"),
    )
    within = Window.partitionBy(*keys).orderBy(*order)
    if weight is None:
        run = F.row_number().over(within)
    else:
        run = F.sum(w).over(
            within.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    return df.join(F.broadcast(offsets), keys).select(
        *df.columns, (F.col("__before") + run).alias(name)
    )


def lower_quantiles(
    df: DataFrame,
    *,
    by: Sequence[str],
    bucket: Sequence[str],
    order: Sequence[str | Column],
    value: str,
    cuts: Mapping[str, tuple[int, int]],
    weight: str | None = None,
) -> DataFrame:
    """One row per ``by`` group: the group columns, one column per
    ``tag`` of ``cuts`` and the group's ``total`` weight.

    For ``tag: (num, den)`` the column holds the ``value`` of the first
    row along ``order`` whose running weight ``w`` meets
    ``den·w ≥ num·total`` (the lower num/den quantile; ``(1, 2)`` is the
    lower median). ``value`` must not decrease along ``order``: lead
    ``order`` with it. With ``by=[]`` an empty input still gives one
    row, with ``total`` 0 and NULL cuts."""
    keys = [*by, *bucket]
    w = _weight(weight)
    hist = df.groupBy(*keys).agg(F.sum(w).alias("__bw"))
    group = Window.partitionBy(*by)
    upto = group.orderBy(*bucket).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        *keys,
        "__bw",
        F.sum("__bw").over(upto).alias("__cum"),
        F.sum("__bw").over(group).alias("__total"),
    )

    def reached(run: str, num: int, den: int) -> Column:
        return F.lit(den) * F.col(run) >= F.lit(num) * F.col("__total")

    # a cut falls in the first bucket whose cumulative weight reaches it
    here = F.struct(*bucket)
    flags = {
        f"__in_{tag}": (
            F.min(F.when(reached("__cum", num, den), here)).over(group) == here
        )
        for tag, (num, den) in cuts.items()
    }
    located = cum.select(
        *keys,
        (F.col("__cum") - F.col("__bw")).alias("__before"),
        "__total",
        *[flag.alias(col) for col, flag in flags.items()],
    ).filter(reduce(lambda a, b: a | b, [F.col(c) for c in flags]))
    within = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = df.join(F.broadcast(located), keys).select(
        *by,
        F.col(value).alias("__v"),
        "__total",
        *flags,
        (F.col("__before") + F.sum(w).over(within)).alias("__run"),
    )
    return ranked.groupBy(*by).agg(
        *[
            F.min(
                F.when(
                    F.col(f"__in_{tag}") & reached("__run", num, den),
                    F.col("__v"),
                )
            ).alias(tag)
            for tag, (num, den) in cuts.items()
        ],
        F.coalesce(F.max("__total"), F.lit(0)).alias("total"),
    )
