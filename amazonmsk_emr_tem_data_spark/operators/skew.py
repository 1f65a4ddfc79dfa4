"""Skew mitigation: salting for hot keys.

AQE's skew-join splitting (on in session.get_spark) handles most skew at
runtime; these operators are the *explicit* form for the cases AQE can't
re-plan — a single grouping key receiving a large share of all rows
(partial aggregation already combines map-side, but the final reduce for
that key still lands on one task), or a shuffle join where one key's
rows exceed an executor.

Two measured limits of the AQE path (tests/test_plans.py
test_aqe_skew_join_fires_on_planted_skew pins that it DOES fire when
eligible): (1) AQE declines to split a skewed join whose output
partitioning is required downstream — e.g. a join feeding a global or
same-key aggregate — because the split would force an extra shuffle
(spark.sql.adaptive.forceOptimizeSkewedJoin overrides, at that extra
cost); (2) with very few initial shuffle partitions the median-size
guard can mask the hot partition. Both are exactly the shapes where
the explicit salting here remains the right tool.

Both transforms are exact: salting only changes WHERE partial results
are computed, never what they are.

- **salted aggregation**: groupBy(keys ∪ salt) → partial aggs →
  groupBy(keys) → merge. Any algebraic aggregate (sum/count/min/max)
  decomposes this way; avg = sum/count at the merge.
- **salted join**: the skewed (large) side gets a deterministic salt in
  [0, n); the other side is replicated n× with every salt value, and
  the equi-join key becomes (key, salt). Fan-out cost: n copies of the
  small side's rows — choose n ≈ hot-key rows / target-partition rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT = "__salt"
MAX_SALTS = 64


def _row_salt(df: DataFrame, n_salts: int) -> Column:
    """Deterministic per-row salt: hash of the whole row, mod n.

    Deterministic (vs ``rand()``) so repeated runs of the same query on
    the same data produce identical partial-aggregate placement —
    keeps retries and AQE re-executions stable.
    """
    return F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts))


def salted_agg(
    df: DataFrame,
    keys: list[str],
    sums: dict[str, Column],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase grouped aggregation over ``sums`` (name → SUM-like
    column expression that is mergeable by further summation).

    Phase 1 shuffles on (keys, salt) — a hot key spreads over
    ``n_salts`` reducers; phase 2 shuffles only the tiny partial rows.
    """
    partial = df.withColumn(SALT, _row_salt(df, n_salts)).groupBy(
        *keys, SALT
    ).agg(*[expr.alias(name) for name, expr in sums.items()])
    return partial.groupBy(*keys).agg(
        *[F.sum(name).alias(name) for name in sums]
    )


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: list[str],
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join where ``skewed``'s hot keys are spread over
    ``n_salts`` partitions and ``other`` is replicated to meet them."""
    s = skewed.withColumn(SALT, _row_salt(skewed, n_salts))
    o = other.withColumn(
        SALT, F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return s.join(o, [*on, SALT], how).drop(SALT)


def choose_n_salts(
    top_key_rows: int,
    n_rows: int,
    shuffle_partitions: int,
    max_salts: int = MAX_SALTS,
) -> int:
    """Pure decision rule connecting the skew DIAGNOSTIC to the salting
    FIX: spread the hottest key's final-reduce work down to roughly the
    mean reducer's share. ``ceil(top_key_rows / mean_task_rows)``,
    clamped to [1, max_salts]; 1 means "don't salt" (the hot key
    already fits an average task, and salting pays a second tiny
    shuffle for nothing)."""
    import math

    if n_rows <= 0 or top_key_rows <= 0 or shuffle_partitions <= 0:
        return 1
    mean_task_rows = max(1, n_rows // shuffle_partitions)
    return max(1, min(max_salts, math.ceil(top_key_rows / mean_task_rows)))


def auto_salt_agg(
    df: DataFrame,
    keys: list[str],
    sums: dict[str, Column],
) -> DataFrame:
    """Measured-skew-driven salted aggregation: runs the cheap skew
    diagnostic (the key_skew_report shape — ONE map-side-combined
    per-key count folded to a single (hottest-key rows, total rows)
    row on the driver), picks ``n_salts`` with `choose_n_salts`, and
    returns the salted two-phase plan only when the measurement says
    the hot key actually overflows a mean-sized reduce task —
    otherwise the plain single-shuffle groupBy.

    Exactness is inherited from `salted_agg` (salting moves partial
    computation, never results), so the result is always equal to
    ``df.groupBy(keys).agg(sums)``.

    Scale shape: the diagnostic costs one extra aggregation pass over
    ``df`` — map-side combine means the shuffle carries one partial
    count per (task, key), and the driver sees exactly ONE row. That
    is the cheapest question you can ask before committing a multi-TB
    shuffle to a layout that serializes the hot key through one task;
    at 100 TB you run it on the same scan the aggregate reads (or on a
    cached upstream), not a second source read."""
    spark = df.sparkSession
    shuffle_partitions = int(
        spark.conf.get("spark.sql.shuffle.partitions", "200")
    )
    st = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.max("__n").alias("top_n"), F.sum("__n").alias("n_rows"))
        .collect()[0]
    )
    n_salts = choose_n_salts(
        st["top_n"] or 0, st["n_rows"] or 0, shuffle_partitions, MAX_SALTS
    )
    if n_salts <= 1:
        return df.groupBy(*keys).agg(
            *[expr.alias(name) for name, expr in sums.items()]
        )
    return salted_agg(df, keys, sums, n_salts=n_salts)


def auto_salt_join(
    skewed: DataFrame,
    other: DataFrame,
    on: list[str],
    how: str = "inner",
) -> DataFrame:
    """Measured-skew-driven salted join — the join-side twin of
    `auto_salt_agg`: ONE bounded driver action measures the hottest
    join key's row count on the skewed side, `choose_n_salts` decides,
    and the plan is the replicated salted join only when the hot key
    actually overflows a mean-sized task — otherwise the plain
    equi-join (where AQE's skew-join splitting and broadcast
    thresholds keep doing their job).

    The fan-out cost the decision is weighing: salting replicates
    ``other`` n_salts times, so an unnecessary salt multiplies the
    small side for nothing — that is why the measurement, not a
    hard-coded n, should pick it. Exact for how='inner' (salting only
    moves WHERE pairs are computed); the replicated-side trick does
    not extend to outer joins, so any other ``how`` falls back to the
    plain join."""
    spark = skewed.sparkSession
    shuffle_partitions = int(
        spark.conf.get("spark.sql.shuffle.partitions", "200")
    )
    st = (
        skewed.groupBy(*on)
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.max("__n").alias("top_n"), F.sum("__n").alias("n_rows"))
        .collect()[0]
    )
    n_salts = choose_n_salts(
        st["top_n"] or 0, st["n_rows"] or 0, shuffle_partitions, MAX_SALTS
    )
    if how != "inner" or n_salts <= 1:
        return skewed.join(other, on, how)
    return salted_join(skewed, other, on, n_salts=n_salts, how=how)
