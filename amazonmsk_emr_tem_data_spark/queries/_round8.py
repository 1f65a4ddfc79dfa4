"""Round-8 sessions: OHLC, market-basket, ANN audit, percentiles, phrase search, OLS, windows."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.order_stats import lower_quantiles, running_sum
from ..sources.files import (
    checkpoint_stage,
    ensure_parallelism,
    load_table,
)
from ._core import QueryFn, _cents, _dsum, _ranked_topk
from ._analytics import _VALUE_CUM_CTES, _type_value_quantiles, _value_cut_sql
from ._northstar import (
    _COS_SQL,
    _EMB_KNN_SQL,
    _HASH64_SQL,
    _NORM_SQL,
    _TOKS_SQL,
    embedding_knn_join_q,
    ivf_topk_q,
)
from ._timeseries import (
    _JACCARD_PAIR_CTES,
)
from ._tpch_corpus import (
    _IVF_TOPK_SQL,
)
from ._curation import (
    _QUALITY_SCORE_SQL,
)


# ---------------------------------------------------------------------------
# round-8 session 1: OHLC rollups, integrity audit, RFM scoring
# ---------------------------------------------------------------------------


def _event_order_key() -> Column:
    """Total event ordering as ONE sortable string: zero-padded
    (epoch_us, event_id). DuckDB's arg_min/arg_max accept only scalar
    keys, so the composite tie-break rides a fixed-width string whose
    lexicographic order IS the numeric order in both engines (the
    padded-posting trick of corpus_inverted_index)."""
    return F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )


_EVENT_KEY_SQL = (
    "(lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')"
    " || lpad(CAST(event_id AS VARCHAR), 12, '0'))"
)


def event_value_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC candles per event type (round 8): open/high/low/
    close of ``value`` plus count and exact volume — the canonical
    time-series downsampling every metrics/trading/telemetry store
    ships, reduced to ONE grouped aggregate. Open/close are
    deterministic min_by/max_by on the total (epoch_us, event_id)
    string key; high/low are plain extrema (exact double compares, no
    arithmetic); volume is the cent-grid sum.

    Scale: one map-side-combined aggregate to |types|·|days| rows —
    no window, no sort, no join; the min_by/max_by pair carries one
    (key, value) tuple per group through the combiner exactly like
    MIN/MAX."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    key = _event_order_key()
    return ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.min_by("value", key).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", key).alias("close"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (F.sum(_cents("value")).cast("double") / F.lit(100.0)).alias(
            "volume"
        ),
    )


_OHLC_SQL = f"""
SELECT event_type, CAST(ts AS DATE) AS day,
       arg_min(value, {_EVENT_KEY_SQL}) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       arg_max(value, {_EVENT_KEY_SQL}) AS close,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {_dsum("value")} AS volume
FROM events
WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
GROUP BY 1, 2
"""


def stream_hourly_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the OHLC rollup: hourly candles maintained by
    a watermarked tumbling-window aggregate as events arrive — the
    live dashboard feed beside the batch daily candle. min_by/max_by
    are ordinary declarative aggregates, so the streaming state per
    open window is one (key, value) tuple per extreme, kilobytes per
    (type, hour). Bounded drain (availableNow) ⇒ exactly the batch
    hourly group-by, which is the oracle."""
    from ..streaming.pipelines import stream_hourly_ohlc_agg

    return stream_hourly_ohlc_agg(spark, sf_dir)


_STREAM_OHLC_SQL = f"""
SELECT date_trunc('hour', ts) AS bucket_ts, event_type,
       arg_min(value, {_EVENT_KEY_SQL}) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       arg_max(value, {_EVENT_KEY_SQL}) AS close,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
GROUP BY 1, 2
"""


#: The star schema's FK→PK relationships: (label, child, fk, parent, pk).
_RI_RELATIONSHIPS = [
    ("orders.o_custkey -> customer", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("lineitem.l_orderkey -> orders", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("lineitem.l_partkey -> part", "lineitem", "l_partkey",
     "part", "p_partkey"),
    ("lineitem.l_suppkey -> supplier", "lineitem", "l_suppkey",
     "supplier", "s_suppkey"),
    ("customer.c_nationkey -> nation", "customer", "c_nationkey",
     "nation", "n_nationkey"),
    ("supplier.s_nationkey -> nation", "supplier", "s_nationkey",
     "nation", "n_nationkey"),
    ("nation.n_regionkey -> region", "nation", "n_regionkey",
     "region", "r_regionkey"),
]


def referential_integrity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-table referential-integrity audit (round 8): for every
    FK→PK relationship in the star schema, the child row count, NULL
    FKs, orphan rows (FK with no parent), and the orphan rate in ppm
    — the data-quality gate a warehouse runs after every load, and
    the first question asked when a join 'loses rows'. One row per
    relationship, always emitted (an all-green audit is 7 rows of
    zeros, not an empty result).

    Scale: each relationship is ONE left join + count aggregate.
    Dimension parents broadcast; lineitem→orders is the honest
    big-big shuffle join an FK audit cannot avoid (both sides key-
    partitioned, AQE handles skew). NULL FKs are counted separately —
    a NULL is a missing reference, not a dangling one."""
    t = {
        name: load_table(spark, sf_dir, name)
        for name in [
            "region", "nation", "customer", "supplier",
            "part", "orders", "lineitem",
        ]
    }
    parts = []
    for label, child, fk, parent, pk in _RI_RELATIONSHIPS:
        joined = t[child].select(F.col(fk).alias("fk")).join(
            t[parent].select(F.col(pk).alias("pk")).distinct(),
            F.col("fk") == F.col("pk"),
            "left",
        )
        parts.append(
            joined.agg(
                F.lit(label).alias("relationship"),
                F.count(F.lit(1)).cast("long").alias("n_child"),
                F.sum(
                    F.col("fk").isNull().cast("long")
                ).alias("n_null_fk"),
                F.sum(
                    (
                        F.col("fk").isNotNull() & F.col("pk").isNull()
                    ).cast("long")
                ).alias("n_orphan"),
                F.expr(
                    "1000000 * sum(CAST(fk IS NOT NULL AND pk IS NULL"
                    " AS BIGINT)) DIV count(1)"
                ).alias("orphan_ppm"),
            )
        )
    return reduce(DataFrame.unionByName, parts)


def _ri_rel_sql(
    label: str, child: str, fk: str, parent: str, pk: str
) -> str:
    return f"""
SELECT '{label}' AS relationship,
       CAST(COUNT(*) AS BIGINT) AS n_child,
       CAST(SUM(CASE WHEN c.{fk} IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_null_fk,
       CAST(SUM(CASE WHEN c.{fk} IS NOT NULL AND p.{pk} IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan,
       CAST(1000000 * SUM(CASE WHEN c.{fk} IS NOT NULL
                          AND p.{pk} IS NULL THEN 1 ELSE 0 END)
            // COUNT(*) AS BIGINT) AS orphan_ppm
FROM {child} c LEFT JOIN (SELECT DISTINCT {pk} FROM {parent}) p
  ON c.{fk} = p.{pk}
"""


_RI_AUDIT_SQL = " UNION ALL ".join(_ri_rel_sql(*r) for r in _RI_RELATIONSHIPS)


def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer scoring (round 8): recency (days since the
    customer's last order, against the corpus max date), frequency
    (order count), monetary (exact cent total), each mapped to a 1–5
    quintile (5 = best) — the classic lifecycle-segmentation feature
    vector behind churn/LTV models.

    Exactness + scale: quintiles are NOT ntile over a single global
    window (the weighted-median lesson — one reducer sorts every
    customer). Each dimension's global rank is an
    operators/order_stats.running_sum row number over a bounded
    histogram (recency days / negated frequency / negated monetary
    1000-dollar buckets) — rank r in 1..N, quintile = 5 − (r−1)·5 div
    N for better-is-smaller orderings. Ties break on custkey, so both
    engines emit identical quintiles even at boundaries."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy(
        F.col("o_custkey").alias("custkey")
    ).agg(
        F.max(F.to_date("o_orderdate")).alias("last_order"),
        F.count(F.lit(1)).cast("long").alias("frequency"),
        F.sum(_cents("o_totalprice")).alias("mon_cents"),
    )
    maxd = orders.agg(
        F.max(F.to_date("o_orderdate")).alias("corpus_max")
    )
    base = per_cust.crossJoin(F.broadcast(maxd)).select(
        "custkey",
        F.datediff("corpus_max", "last_order")
        .cast("long")
        .alias("recency_days"),
        "frequency",
        "mon_cents",
        (-F.col("frequency")).alias("f_bkt"),
        (-F.expr("mon_cents div 100000")).alias("m_bkt"),
    )
    n_total = base.agg(F.count(F.lit(1)).alias("n_cust"))
    ranked = base
    for name, bkt, order in (
        ("r_rank", "recency_days", ["recency_days", "custkey"]),
        ("f_rank", "f_bkt", [F.col("frequency").desc(), "custkey"]),
        ("m_rank", "m_bkt", [F.col("mon_cents").desc(), "custkey"]),
    ):
        ranked = running_sum(
            ranked, by=[], bucket=[bkt], order=order, name=name
        )

    def quint(rank: str) -> Column:
        return (
            F.lit(5)
            - F.expr(f"({rank} - 1) * 5 DIV n_cust")
        ).cast("long")

    return ranked.crossJoin(F.broadcast(n_total)).select(
        "custkey",
        "recency_days",
        "frequency",
        (F.col("mon_cents").cast("double") / F.lit(100.0)).alias(
            "monetary"
        ),
        quint("r_rank").alias("r_score"),
        quint("f_rank").alias("f_score"),
        quint("m_rank").alias("m_score"),
        (
            quint("r_rank") * 100 + quint("f_rank") * 10 + quint("m_rank")
        ).alias("rfm_code"),
    )


_RFM_SQL = """
WITH per_cust AS (
  SELECT o_custkey AS custkey,
         MAX(CAST(o_orderdate AS DATE)) AS last_order,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS mon_cents
  FROM orders GROUP BY 1
), maxd AS (
  SELECT MAX(CAST(o_orderdate AS DATE)) AS corpus_max FROM orders
), base AS (
  SELECT custkey,
         CAST(date_diff('day', last_order, corpus_max) AS BIGINT)
           AS recency_days,
         frequency, mon_cents
  FROM per_cust CROSS JOIN maxd
), n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cust FROM base
), ranked AS (
  SELECT *,
    CAST(row_number() OVER (ORDER BY recency_days ASC, custkey ASC)
         AS BIGINT) AS r_rank,
    CAST(row_number() OVER (ORDER BY frequency DESC, custkey ASC)
         AS BIGINT) AS f_rank,
    CAST(row_number() OVER (ORDER BY mon_cents DESC, custkey ASC)
         AS BIGINT) AS m_rank
  FROM base
)
SELECT custkey, recency_days, frequency,
       CAST(mon_cents AS DOUBLE) / 100.0 AS monetary,
       5 - (r_rank - 1) * 5 // n_cust AS r_score,
       5 - (f_rank - 1) * 5 // n_cust AS f_score,
       5 - (m_rank - 1) * 5 // n_cust AS m_score,
       (5 - (r_rank - 1) * 5 // n_cust) * 100
         + (5 - (f_rank - 1) * 5 // n_cust) * 10
         + (5 - (m_rank - 1) * 5 // n_cust) AS rfm_code
FROM ranked CROSS JOIN n
"""


# ---------------------------------------------------------------------------
# round-8 session 1b: market-basket lift, sweep-line, regularity, RA links
# ---------------------------------------------------------------------------


def _basket_pairs(spark: SparkSession, sf_dir: str, min_count: int):
    """Distinct co-purchased part pairs (a<b) with basket counts —
    shared by the lift and link-prediction queries. Baskets are
    order-bounded (≤ ~13 distinct parts), so the in-array pair
    expansion emits ≤ C(13,2) pairs per order: output linear in
    orders, never |parts|² — the same bounded-basket argument as
    session association rules.

    r13 (guide §2.4): the former orderkey self-join (distinct + two
    join-side exchanges + an uncombined 24 MB pair shuffle at sf0.1)
    is replaced by ONE collect_set basket rollup with the a<b pairs
    expanded in-array from the sorted basket — pair rows are born in
    the stage that count-aggregates them (see
    _graph_ann._repeat_copurchase_edges_w, the same rewrite). Counts
    are identical: one emission per order per unordered pair."""
    from ._graph_ann import _sorted_pairs

    grouped = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        # r14 (guide §2.5 byte-undercount — same fix, rationale and
        # measured shape choice as _graph_ann._repeat_copurchase_
        # edges_w): pin the set-merge + sort_array + pair-expansion
        # width by hash-repartitioning BEFORE the groupBy
        # (REPARTITION_BY_NUM, AQE-exempt; one exchange, complete agg
        # at cluster parallelism). All three shared-rollup consumers
        # still reuse ONE planned subtree via ReusedExchange.
        .repartition(
            spark.sparkContext.defaultParallelism, "l_orderkey"
        )
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("__ps"))
    )
    pairs = (
        grouped.select(F.explode(_sorted_pairs(F.col("__ps"))).alias("p"))
        .groupBy(F.col("p.a").alias("pa"), F.col("p.b").alias("pb"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= min_count)
    )
    return grouped, pairs


_BASKET_PAIRS_CTE = """
baskets AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), pairs AS (
  SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS n_ab
  FROM baskets a JOIN baskets b ON a.o = b.o AND a.p < b.p
  GROUP BY 1, 2 HAVING COUNT(*) >= {min_count}
)"""


#: Shared orders that make a co-purchase edge in the co-purchase
#: queries and their SQL twins.
_COPURCHASE_MIN_COUNT = 2


def part_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association on ORDER baskets (round 8): for every
    part pair co-purchased in ≥ min_count orders, support, both
    directional confidences, and lift in exact ppm integer math — the
    items-bought-together recommender primitive, on the relational
    side (session_association_rules covers the event-session side).

    Scale: the pair join is basket-bounded (see _basket_pairs); the
    per-part counts broadcast back onto the ≥min_count pair relation.
    Lift numerators stay in long range to ~1e6 co-purchases of a pair
    in a 1e9-order corpus (1e6·1e6·1e9 needs 102 bits — at that scale
    drop support to a 1e3 grid); the fixtures are ~10 orders of
    magnitude below."""
    # One basket rollup serves all three aggregates (r13, guide §2.4):
    # pairs expand in-array from the sorted basket, per-part counts
    # explode the same arrays (|__ps| entries per order = the distinct
    # (order, part) relation), and the order total is a row count —
    # the identical groupBy subtree is planned once and shared via
    # ReusedExchange instead of re-scanning lineitem per aggregate.
    grouped, pairs = _basket_pairs(spark, sf_dir, _COPURCHASE_MIN_COUNT)
    n_orders = grouped.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    per_part = grouped.select(
        F.explode("__ps").alias("part")
    ).groupBy("part").agg(F.count(F.lit(1)).cast("long").alias("n_p"))
    na = per_part.select(
        F.col("part").alias("__pa"), F.col("n_p").alias("n_a")
    )
    nb = per_part.select(
        F.col("part").alias("__pb"), F.col("n_p").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(na), pairs["pa"] == na["__pa"])
        .join(F.broadcast(nb), pairs["pb"] == nb["__pb"])
        .crossJoin(F.broadcast(n_orders))
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            "n_ab",
            F.expr("1000000 * n_ab DIV n_orders").alias("support_ppm"),
            F.expr("1000000 * n_ab DIV n_a").alias("conf_a_to_b_ppm"),
            F.expr("1000000 * n_ab DIV n_b").alias("conf_b_to_a_ppm"),
            F.expr(
                "(1000000 * n_ab * n_orders) DIV (n_a * n_b)"
            ).alias("lift_ppm"),
        )
    )


_COPURCHASE_LIFT_SQL = f"""
WITH {_BASKET_PAIRS_CTE.format(min_count=_COPURCHASE_MIN_COUNT)},
n_orders AS (
  SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM baskets
), per_part AS (
  SELECT p AS part, CAST(COUNT(*) AS BIGINT) AS n_p
  FROM baskets GROUP BY 1
)
SELECT pa AS part_a, pb AS part_b, n_ab,
       1000000 * n_ab // n_orders AS support_ppm,
       1000000 * n_ab // na.n_p AS conf_a_to_b_ppm,
       1000000 * n_ab // nb.n_p AS conf_b_to_a_ppm,
       (1000000 * n_ab * n_orders) // (na.n_p * nb.n_p) AS lift_ppm
FROM pairs
JOIN per_part na ON na.part = pa
JOIN per_part nb ON nb.part = pb
CROSS JOIN n_orders
"""


def open_orders_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders-in-flight sweep line (round 8): an order is OPEN from
    its order date until its last line ships; the daily count of open
    orders is the classic interval-overlap / concurrency query
    (sessions online, loans outstanding, WIP inventory) solved with
    +1/−1 boundary deltas and a running sum — never an interval
    self-join.

    Scale: the heavy side is two fact aggregations (per-order close
    date, per-day deltas), both map-side combined. The running sum
    then rides a window over the DATE-DOMAIN-bounded delta relation
    (one row per calendar day with activity — ~2.5k rows for 7 years,
    regardless of order count), the same tiny-relation argument as
    the share-of-parent windows. Days with no boundary are not
    emitted; open_orders on an emitted day is the end-of-day count."""
    orders = load_table(spark, sf_dir, "orders")
    close = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max(F.to_date("l_shipdate")).alias("close_date"))
    )
    spans = orders.join(
        close, orders["o_orderkey"] == close["l_orderkey"]
    ).select(
        F.to_date("o_orderdate").alias("open_date"),
        F.date_add("close_date", 1).alias("end_date"),
    )
    deltas = (
        spans.select(
            F.col("open_date").alias("day"),
            F.lit(1).cast("long").alias("delta"),
        )
        .unionByName(
            spans.select(
                F.col("end_date").alias("day"),
                F.lit(-1).cast("long").alias("delta"),
            )
        )
        .groupBy("day")
        .agg(
            F.sum("delta").alias("net"),
            F.sum(
                F.when(F.col("delta") > 0, F.lit(1))
                .otherwise(F.lit(0))
                .cast("long")
            ).alias("n_opened"),
            F.sum(
                F.when(F.col("delta") < 0, F.lit(1))
                .otherwise(F.lit(0))
                .cast("long")
            ).alias("n_closed"),
        )
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return deltas.select(
        "day",
        "n_opened",
        "n_closed",
        F.sum("net").over(w).cast("long").alias("open_orders"),
    )


_OPEN_ORDERS_SQL = """
WITH close AS (
  SELECT l_orderkey, MAX(CAST(l_shipdate AS DATE)) AS close_date
  FROM lineitem GROUP BY 1
), spans AS (
  SELECT CAST(o.o_orderdate AS DATE) AS open_date,
         c.close_date + INTERVAL 1 DAY AS end_date
  FROM orders o JOIN close c ON o.o_orderkey = c.l_orderkey
), deltas AS (
  SELECT day,
         CAST(SUM(delta) AS BIGINT) AS net,
         CAST(SUM(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_opened,
         CAST(SUM(CASE WHEN delta < 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_closed
  FROM (
    SELECT open_date AS day, 1 AS delta FROM spans
    UNION ALL
    SELECT CAST(end_date AS DATE) AS day, -1 AS delta FROM spans
  ) GROUP BY 1
)
SELECT day, n_opened, n_closed,
       CAST(SUM(net) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS open_orders
FROM deltas
"""


#: Gaps a user needs before bot_regularity_score (and its SQL twin)
#: scores them.
_BOT_MIN_GAPS = 50


def bot_regularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event regularity per user (round 8): a human's gaps are
    bursty (coefficient of variation ≈ 1, exponential-ish); a cron
    job or bot repeats on a near-constant period (CV ≪ 1). Per user:
    gap count, exact mean gap, and a bot flag = enough gaps AND
    CV < 0.5 — the regularity tier of abuse/automation detection
    beside rate (event_rate_spikes) and cadence (inter_event_gaps).

    Exactness: gaps are integer seconds (floored µs), capped at one
    day so squares stay in long range (ss ≤ n·7.5e9 — safe past 1e8
    gaps/user); the CV test never divides — CV² < 1/4 ⇔
    4·(n·ss − s²) < s² evaluated in DECIMAL(38)/HUGEINT on the
    per-user aggregate rows (n·ss overflows a long at ~1e3 gaps, the
    reason the flag math leaves the long grid AFTER aggregation).
    An all-zero-gap user (s = 0) is perfectly regular: flagged when
    n ≥ min_gaps."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        F.least(
            (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
            )
            / F.lit(1000000),
            F.lit(86400),
        )
        .cast("long")
        .alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    agg = gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum("gap_s").alias("s"),
        F.sum(F.col("gap_s") * F.col("gap_s")).alias("ss"),
    )
    var4 = F.expr(
        "4 * (CAST(n_gaps AS DECIMAL(38,0)) * ss"
        " - CAST(s AS DECIMAL(38,0)) * s)"
    )
    s2 = F.expr("CAST(s AS DECIMAL(38,0)) * s")
    return agg.select(
        "user_id",
        "n_gaps",
        (F.col("s").cast("double") / F.col("n_gaps")).alias(
            "mean_gap_s"
        ),
        (
            (F.col("n_gaps") >= F.lit(_BOT_MIN_GAPS)) & (var4 < s2)
            | (
                (F.col("n_gaps") >= F.lit(_BOT_MIN_GAPS))
                & (F.col("s") == 0)
            )
        ).alias("is_bot"),
    )


_BOT_REGULARITY_SQL = f"""
WITH gaps AS (
  SELECT user_id,
         LEAST((epoch_us(ts) - epoch_us(lag(ts) OVER w)) // 1000000,
               86400) AS gap_s
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), agg AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_gaps,
         CAST(SUM(gap_s) AS BIGINT) AS s,
         CAST(SUM(gap_s * gap_s) AS BIGINT) AS ss
  FROM gaps WHERE gap_s IS NOT NULL GROUP BY 1
)
SELECT user_id, n_gaps,
       CAST(s AS DOUBLE) / n_gaps AS mean_gap_s,
       (n_gaps >= {_BOT_MIN_GAPS}
        AND 4 * (CAST(n_gaps AS HUGEINT) * ss
                 - CAST(s AS HUGEINT) * s)
            < CAST(s AS HUGEINT) * s)
       OR (n_gaps >= {_BOT_MIN_GAPS} AND s = 0) AS is_bot
FROM agg
"""


#: Degree above which a part is dropped from the co-purchase graph of
#: the link-prediction and clustering-coefficient queries and their twins.
_COPURCHASE_MAX_DEGREE = 1000
#: Neighbors kept per part and predictions reported by
#: copurchase_link_prediction and its SQL twin.
_LINK_KNN = 30
_LINK_TOP_N = 100


def copurchase_link_prediction(
    spark: SparkSession,
    sf_dir: str,
) -> DataFrame:
    """Link prediction on the co-purchase graph (round 8): for part
    pairs NOT yet co-purchased, the Resource Allocation index
    (Zhou, Lü & Zhang 2009) — RA(a,b) = Σ_z 1/deg(z) over common
    neighbors z — ranks the most likely next basket pairings. RA is
    chosen over Adamic-Adar deliberately: 1/deg is exact on the 1e12
    integer grid (floor division), while 1/ln(deg) would hang a
    cross-engine .5-rounding hazard on libm's last ulp.

    Scale: the wedge join (adj ⋈ adj on the shared neighbor z) is the
    honest cost of any common-neighbor method and grows as Σ deg(z)²
    — and a replicated-order corpus DENSIFIES the part graph (the 10×
    study measured 10.1× before sparsification). So the graph is
    kNN-SPARSIFIED first, the standard link-prediction practice: each
    node keeps its ``knn`` strongest neighbors by (co-purchase count
    desc, neighbor asc), bounding wedges at |V|·knn² while preserving
    the high-signal edges RA actually scores. deg (the RA weight)
    still counts the FULL graph, so sparsification prunes candidates,
    not the index's denominator; hubs above max_degree are excluded
    as z entirely (≤1 µ-unit per wedge, O(deg²) wedges). Existing
    edges drop via one anti-join; the top-N is
    TakeOrderedAndProject."""
    _, pairs = _basket_pairs(spark, sf_dir, _COPURCHASE_MIN_COUNT)
    # r13 (guide §2.4, profiled): `pairs` feeds both adj_full union
    # sides AND the existing-edge anti-join, and the kNN window below
    # feeds both wedge self-join sides — without materialization the
    # basket rollup + pair aggregation re-executes per consumer. Both
    # relations are bounded (distinct ≥min_count pairs; |V|·knn rows).
    pairs = pairs.transform(checkpoint_stage)
    adj_full = pairs.select(
        F.col("pa").alias("src"),
        F.col("pb").alias("dst"),
        "n_ab",
    ).unionByName(
        pairs.select(
            F.col("pb").alias("src"),
            F.col("pa").alias("dst"),
            "n_ab",
        )
    )
    deg = adj_full.groupBy(F.col("src").alias("z")).agg(
        F.count(F.lit(1)).cast("long").alias("dg")
    )
    wk = Window.partitionBy("src").orderBy(
        F.col("n_ab").desc(), F.col("dst").asc()
    )
    adj = (
        adj_full.withColumn("__rk", F.row_number().over(wk))
        .filter(F.col("__rk") <= _LINK_KNN)
        .select("src", "dst")
        .transform(checkpoint_stage)  # see `pairs` note above
    )
    mids = deg.filter(F.col("dg") <= _COPURCHASE_MAX_DEGREE)
    left = adj.select(F.col("dst").alias("a"), F.col("src").alias("z1"))
    right = adj.select(F.col("src").alias("z2"), F.col("dst").alias("b"))
    wedges = (
        left.join(right, (left["z1"] == right["z2"]) & (F.col("a") < F.col("b")))
        .join(F.broadcast(mids), F.col("z1") == F.col("z"))
        .select("a", "b", F.expr("1000000000000 DIV dg").alias("ra_part"))
    )
    existing = pairs.select(
        F.col("pa").alias("a"), F.col("pb").alias("b")
    )
    scored = (
        wedges.join(existing, ["a", "b"], "left_anti")
        .groupBy("a", "b")
        .agg(
            F.sum("ra_part").alias("ra_micro"),
            F.count(F.lit(1)).cast("long").alias("n_common"),
        )
    )
    return _ranked_topk(
        scored.select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            "ra_micro",
            "n_common",
        ),
        [
            F.col("ra_micro").desc(),
            F.col("part_a").asc(),
            F.col("part_b").asc(),
        ],
        "part_a",
        _LINK_TOP_N,
        "link_rank",
    )


_LINK_PREDICTION_SQL = f"""
WITH {_BASKET_PAIRS_CTE.format(min_count=_COPURCHASE_MIN_COUNT)},
adj_full AS (
  SELECT pa AS src, pb AS dst, n_ab FROM pairs
  UNION ALL SELECT pb, pa, n_ab FROM pairs
), deg AS (
  SELECT src AS z, CAST(COUNT(*) AS BIGINT) AS dg
  FROM adj_full GROUP BY 1
), adj AS (
  SELECT src, dst FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src
                              ORDER BY n_ab DESC, dst ASC) AS rk
    FROM adj_full
  ) WHERE rk <= {_LINK_KNN}
), wedges AS (
  SELECT l.dst AS a, r.dst AS b, 1000000000000 // d.dg AS ra_part
  FROM adj l
  JOIN adj r ON l.src = r.src AND l.dst < r.dst
  JOIN deg d ON d.z = l.src AND d.dg <= {_COPURCHASE_MAX_DEGREE}
), scored AS (
  SELECT a, b, CAST(SUM(ra_part) AS BIGINT) AS ra_micro,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM wedges w
  WHERE NOT EXISTS (
    SELECT 1 FROM pairs p WHERE p.pa = w.a AND p.pb = w.b
  )
  GROUP BY 1, 2
)
SELECT a AS part_a, b AS part_b, ra_micro, n_common,
       CAST(row_number() OVER (ORDER BY ra_micro DESC, a ASC, b ASC)
            AS BIGINT) AS link_rank
FROM scored
ORDER BY ra_micro DESC, a ASC, b ASC
LIMIT {_LINK_TOP_N}
"""


# ---------------------------------------------------------------------------
# round-8 session 1c: ANN quality audit, gibberish filter, burstiness, drift
# ---------------------------------------------------------------------------


def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality audit (round 8): per query, the recall of the IVF
    tier against the exact brute-force top-k — the evaluation harness
    every approximate-index deployment runs before trusting the fast
    path, shipped as a first-class query instead of a notebook. Joins
    the two existing operators (embedding_knn_join = ground truth,
    ivf_topk = candidate) on (query_id, vec_id); recall in exact ppm.

    Scale: both inputs are top-k-bounded (k rows per query), so the
    audit join is |queries|·k rows regardless of corpus size — the
    expensive parts are the operators themselves, already covered by
    their own scale stories."""
    exact = embedding_knn_join_q(spark, sf_dir).select(
        "query_id", F.col("vec_id").alias("e_vec")
    )
    approx = ivf_topk_q(spark, sf_dir).select(
        F.col("query_id").alias("a_qid"), F.col("vec_id").alias("a_vec")
    )
    joined = exact.join(
        approx,
        (exact["query_id"] == approx["a_qid"])
        & (exact["e_vec"] == approx["a_vec"]),
        "left",
    )
    return joined.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact"),
        F.sum(F.col("a_vec").isNotNull().cast("long")).alias("n_found"),
        F.expr(
            "1000000 * sum(CAST(a_vec IS NOT NULL AS BIGINT))"
            " DIV count(1)"
        ).alias("recall_ppm"),
    )


def _ann_recall_sql() -> str:
    return f"""
SELECT e.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_found,
       CAST(1000000 * SUM(CASE WHEN i.vec_id IS NOT NULL
                          THEN 1 ELSE 0 END) // COUNT(*)
            AS BIGINT) AS recall_ppm
FROM ({_EMB_KNN_SQL}) e
LEFT JOIN ({_IVF_TOPK_SQL}) i
  ON e.query_id = i.query_id AND e.vec_id = i.vec_id
GROUP BY 1
"""


def doc_gibberish_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OCR-garbage / gibberish detection (round 8): the character-
    class heuristics that catch what the word-level Gopher rules miss
    — scanner noise, base64 blobs, mojibake. Per doc: the longest
    ASCII consonant run (real language breaks consonant runs with
    vowels; OCR noise and key-mash don't), symbol and digit ratios
    over all characters, vowel ratio over letters, and the gibberish
    verdict (consonant run ≥ 6, OR symbols > 30%, OR ≥ 20 letters
    with < 10% vowels). All integer ppm math; a pure map pass, no
    shuffle at all. Character-class counts use translate() deletion
    (no regex engine — the 100× study measured the 5-regex version at
    ~4× the translate cost); only the consonant-run scan needs a real
    regex."""
    low = F.lower(F.col("text"))

    def n_removed(chars: str) -> Column:
        return (
            F.length(low) - F.length(F.translate(low, chars, ""))
        ).cast("long")

    n = F.length(low).cast("long")
    letters = n_removed("abcdefghijklmnopqrstuvwxyz")
    vowels = n_removed("aeiou")
    digits = n_removed("0123456789")
    spaces = n_removed(" \t\n\r\f\v")
    symbols = (n - letters - digits - spaces).alias("x")
    max_run = F.coalesce(
        F.array_max(
            F.transform(
                F.regexp_extract_all(low, F.lit("[b-df-hj-np-tv-z]+"), 0),
                lambda x: F.length(x),
            )
        ),
        F.lit(0),
    ).cast("long")
    docs = load_table(spark, sf_dir, "documents")
    counted = docs.select(
        "doc_id",
        max_run.alias("max_consonant_run"),
        n.alias("__n"),
        letters.alias("n_letters"),
        vowels.alias("__v"),
        digits.alias("__d"),
        symbols.alias("__s"),
    )
    out = counted.select(
        "doc_id",
        "max_consonant_run",
        F.when(
            F.col("__n") > 0,
            F.expr("1000000 * __s DIV __n"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("symbol_ppm"),
        F.when(
            F.col("__n") > 0,
            F.expr("1000000 * __d DIV __n"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("digit_ppm"),
        F.when(
            F.col("n_letters") > 0,
            F.expr("1000000 * __v DIV n_letters"),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("vowel_ppm"),
        "n_letters",
    )
    return out.withColumn(
        "is_gibberish",
        (F.col("max_consonant_run") >= 6)
        | (F.col("symbol_ppm") > 300000)
        | ((F.col("n_letters") >= 20) & (F.col("vowel_ppm") < 100000)),
    )


_GIBBERISH_SQL = r"""
WITH c AS (
  SELECT doc_id, lower(text) AS low,
         CAST(length(lower(text)) AS BIGINT) AS n,
         CAST(length(lower(text))
              - length(translate(lower(text),
                                 'abcdefghijklmnopqrstuvwxyz', ''))
           AS BIGINT) AS letters,
         CAST(length(lower(text))
              - length(translate(lower(text), 'aeiou', ''))
           AS BIGINT) AS vowels,
         CAST(length(lower(text))
              - length(translate(lower(text), '0123456789', ''))
           AS BIGINT) AS digits,
         CAST(length(lower(text))
              - length(translate(lower(text),
                                 ' ' || chr(9) || chr(10) || chr(13)
                                     || chr(12) || chr(11), ''))
           AS BIGINT) AS spaces,
         CAST(COALESCE(list_max(list_transform(
                regexp_extract_all(lower(text), '[b-df-hj-np-tv-z]+'),
                x -> length(x))), 0) AS BIGINT) AS max_consonant_run
  FROM documents
), r AS (
  SELECT doc_id, max_consonant_run,
         CASE WHEN n > 0 THEN
           1000000 * (n - letters - digits - spaces) // n
           ELSE 0 END AS symbol_ppm,
         CASE WHEN n > 0 THEN 1000000 * digits // n
           ELSE 0 END AS digit_ppm,
         CASE WHEN letters > 0 THEN 1000000 * vowels // letters
           ELSE 0 END AS vowel_ppm,
         letters AS n_letters
  FROM c
)
SELECT doc_id, max_consonant_run, symbol_ppm, digit_ppm, vowel_ppm,
       n_letters,
       max_consonant_run >= 6 OR symbol_ppm > 300000
         OR (n_letters >= 20 AND vowel_ppm < 100000) AS is_gibberish
FROM r
"""


def token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token burstiness (Church & Gale 1995) (round 8): per term, the
    variance-to-mean ratio of its per-document counts over the WHOLE
    corpus (zeros included) — VMR ≈ 1 is Poisson scatter (function
    words), VMR ≫ 1 is bursty content vocabulary that clumps in few
    docs. The dispersion axis that df/cf (corpus_vocab_stats) and
    rank (token_zipf_profile) don't capture; feeds stopword discovery
    and keyword weighting.

    Exactness: with s = Σtf, ss = Σtf² and N docs, VMR = (N·ss −
    s²)/(N·s) — non-negative by the power-mean inequality. Sums ride
    the long grid map-side; the final ppm ratio multiplies on
    DECIMAL(38)/HUGEINT over the |vocab|-row aggregate (N·ss·10⁶
    leaves long range around 5M docs — same post-agg-decimal pattern
    as bot_regularity_score) and floors with integral `div`, exact in
    both engines."""
    from ..functions.text import tokens

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    tf = (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    per_term = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").alias("cf"),
        F.sum(F.col("tf") * F.col("tf")).alias("ss"),
    )
    return per_term.crossJoin(F.broadcast(n_docs)).select(
        "term",
        "df",
        "cf",
        F.expr(
            "(CAST(1000000 AS DECIMAL(38,0))"
            " * (CAST(n_docs AS DECIMAL(38,0)) * ss"
            "    - CAST(cf AS DECIMAL(38,0)) * cf))"
            " div (CAST(n_docs AS DECIMAL(38,0)) * cf)"
        ).alias("vmr_ppm"),
    )


_BURSTINESS_SQL = f"""
WITH tf AS (
  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents)
  GROUP BY 1, 2
), per_term AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
         CAST(SUM(tf) AS BIGINT) AS cf,
         CAST(SUM(tf * tf) AS BIGINT) AS ss
  FROM tf GROUP BY 1
), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
SELECT term, df, cf,
       CAST((CAST(1000000 AS HUGEINT)
             * (CAST(n_docs AS HUGEINT) * ss
                - CAST(cf AS HUGEINT) * cf))
            // (CAST(n_docs AS HUGEINT) * cf) AS BIGINT) AS vmr_ppm
FROM per_term CROSS JOIN n
"""


def orders_priority_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority mix drift (round 8): per month, each priority's
    share of orders against its all-time share, with the signed delta
    in ppm — the composition-shift monitor (did URGENT jump this
    month?) that complements volume trend (nation_revenue_trend) and
    value drift (event_value_drift) with a MIX view.

    Scale: one (month, priority) combine over the fact table; month
    totals and global priority shares are windows/joins over the
    |months|·|priorities| aggregate — metadata-sized, like the
    share-of-parent rollup."""
    orders = load_table(spark, sf_dir, "orders")
    cell = orders.groupBy(
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("month"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    return cell.select(
        "month",
        "priority",
        "n",
        F.expr(
            "1000000 * n DIV sum(n) OVER (PARTITION BY month)"
        ).alias("share_ppm"),
        F.expr(
            "1000000 * sum(n) OVER (PARTITION BY priority)"
            " DIV sum(n) OVER ()"
        ).alias("global_share_ppm"),
    ).withColumn(
        "delta_ppm", F.col("share_ppm") - F.col("global_share_ppm")
    )


_PRIORITY_DRIFT_SQL = """
WITH cell AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         o_orderpriority AS priority,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY 1, 2
), shares AS (
  SELECT month, priority, n,
         CAST(1000000 * n // SUM(n) OVER (PARTITION BY month)
           AS BIGINT) AS share_ppm,
         CAST(1000000 * SUM(n) OVER (PARTITION BY priority)
              // SUM(n) OVER () AS BIGINT) AS global_share_ppm
  FROM cell
)
SELECT month, priority, n, share_ppm, global_share_ppm,
       share_ppm - global_share_ppm AS delta_ppm
FROM shares
"""


# ---------------------------------------------------------------------------
# round-8 session 1d: per-type percentile profile, HHI, quantile normalize
# ---------------------------------------------------------------------------


def stream_click_purchase_left_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join — clicks without a
    purchase emit NULL-padded after the watermark proves no match can
    arrive (emit rules and drain cutoffs: streaming/pipelines
    .stream_stream_click_purchase). The oracle's cutoff was pinned
    empirically: 204 of 205 unmatched clicks at sf0.001; the withheld
    one sits inside the final watermark horizon."""
    from ..streaming.pipelines import stream_stream_click_purchase

    return stream_stream_click_purchase(
        spark, sf_dir, how="leftOuter", watermark="0 seconds"
    )


#: The click (c) and purchase (p) streams of the stream-stream join
#: oracles.
_STREAM_CP_CTES = """c AS (
  SELECT user_id, event_id AS click_id, ts AS click_ts
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id AS p_user, event_id AS purchase_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase'
)"""
#: The purchases that attribute to click c (same user, within the hour
#: after it), as the body of an EXISTS.
_CLICK_PURCHASES_SQL = """  SELECT 1 FROM p WHERE p.p_user = c.user_id
    AND p.purchase_ts > c.click_ts
    AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
)"""
#: The unmatched-click arm: clicks no purchase attributes to, emitted
#: only once the watermark (wm) proves none can still arrive.
_EXPIRED_CLICKS_SQL = f"""FROM c CROSS JOIN wm
WHERE NOT EXISTS (
{_CLICK_PURCHASES_SQL} AND c.click_ts + INTERVAL 1 HOUR < wm.w
"""
#: The matched (click, purchase) pairs, followed by UNION ALL.
_MATCHED_ARM_SQL = """
SELECT c.user_id, c.click_id, c.click_ts, p.purchase_id, p.purchase_ts
FROM c JOIN p
  ON p.p_user = c.user_id
 AND p.purchase_ts > c.click_ts
 AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
UNION ALL"""

_STREAM_LEFT_JOIN_SQL = f"""
WITH {_STREAM_CP_CTES}, wm AS (
  -- NULL-PROPAGATING min: if either input saw no data, Spark's global
  -- watermark never advances past epoch 0 and NO unmatched row emits;
  -- LEAST alone would skip the NULL and wrongly emit on a clicks-only
  -- corpus (r8 review finding)
  SELECT CASE WHEN (SELECT MAX(click_ts) FROM c) IS NULL
                OR (SELECT MAX(purchase_ts) FROM p) IS NULL THEN NULL
              ELSE LEAST((SELECT MAX(click_ts) FROM c),
                         (SELECT MAX(purchase_ts) FROM p)) END AS w
){_MATCHED_ARM_SQL}
SELECT c.user_id, c.click_id, c.click_ts, NULL, NULL
{_EXPIRED_CLICKS_SQL}"""


def stream_click_purchase_right_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream RIGHT OUTER join (round 9) — every
    purchase, with its attributing click or NULL padding once the
    watermark proves no click can still arrive. The oracle's strict
    cutoff was pinned empirically at sf0.01 against the drain (1947
    vs 1948 rows on the <= candidate)."""
    from ..streaming.pipelines import stream_stream_click_purchase

    return stream_stream_click_purchase(
        spark, sf_dir, how="rightOuter", watermark="0 seconds"
    )


def stream_click_purchase_semi_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream LEFT SEMI join (round 9) — converted
    clicks only, no purchase columns. A matched row emits on match (no
    watermark-expiry arm), so the oracle is the plain EXISTS."""
    from ..streaming.pipelines import stream_stream_click_purchase

    return stream_stream_click_purchase(
        spark, sf_dir, how="leftSemi", watermark="0 seconds"
    )


_STREAM_SEMI_JOIN_SQL = f"""
WITH {_STREAM_CP_CTES}
SELECT c.user_id, c.click_id, c.click_ts
FROM c WHERE EXISTS (
{_CLICK_PURCHASES_SQL}
"""


#: Shared watermark CTE for the outer stream-stream join oracles —
#: NULL-propagating min (r8 review finding: if either input saw no
#: data, Spark's global watermark never advances and NO outer row
#: emits; LEAST alone would skip the NULL and wrongly emit).
_STREAM_WM_CTES = _STREAM_CP_CTES + """, wm AS (
  SELECT CASE WHEN (SELECT MAX(click_ts) FROM c) IS NULL
                OR (SELECT MAX(purchase_ts) FROM p) IS NULL THEN NULL
              ELSE LEAST((SELECT MAX(click_ts) FROM c),
                         (SELECT MAX(purchase_ts) FROM p)) END AS w
)"""

#: Matched pairs + the unmatched-purchase arm (emitted only past the
#: watermark). Shared by the right- and full-outer oracles.
_STREAM_RIGHT_ARMS_SQL = _MATCHED_ARM_SQL + """
SELECT p.p_user, NULL, NULL, p.purchase_id, p.purchase_ts
FROM p CROSS JOIN wm
WHERE NOT EXISTS (
  SELECT 1 FROM c WHERE c.user_id = p.p_user
    AND p.purchase_ts > c.click_ts
    AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
) AND p.purchase_ts < wm.w
"""

_STREAM_RIGHT_JOIN_SQL = f"""
WITH {_STREAM_WM_CTES}
{_STREAM_RIGHT_ARMS_SQL}
"""


def stream_click_purchase_full_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream FULL OUTER join (round 9) — matched
    pairs plus BOTH outer arms, each under its own watermark cutoff
    (the left and right twins' pins). If either input is empty the
    NULL-propagating wm withholds both arms — the two
    one-sided-corpus edge tests."""
    from ..streaming.pipelines import stream_stream_click_purchase

    return stream_stream_click_purchase(
        spark, sf_dir, how="fullOuter", watermark="0 seconds"
    )


_STREAM_FULL_JOIN_SQL = f"""
WITH {_STREAM_WM_CTES}
{_STREAM_RIGHT_ARMS_SQL}
UNION ALL
SELECT c.user_id, c.click_id, c.click_ts, NULL, NULL
{_EXPIRED_CLICKS_SQL}"""


def stream_click_purchase_anti_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked stream-stream LEFT ANTI join (round 10) — the
    abandonment feed: clicks with NO qualifying purchase, emitted only
    once the watermark proves none can still arrive (run as the
    leftOuter + IS NULL rewrite; see streaming/pipelines
    .stream_stream_click_purchase). Oracle = the left-outer oracle's
    unmatched arm: NOT EXISTS under the same final-watermark cutoff,
    NULL-propagating on one-sided corpora."""
    from ..streaming.pipelines import stream_stream_click_purchase

    return stream_stream_click_purchase(
        spark, sf_dir, how="anti", watermark="0 seconds"
    )


_STREAM_ANTI_JOIN_SQL = f"""
WITH {_STREAM_WM_CTES}
SELECT c.user_id, c.click_id, c.click_ts
{_EXPIRED_CLICKS_SQL}"""


def dedup_graph_degree_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-dup pair-graph degree histogram (round 9, pipeline
    observability): how many documents have 0, 1, 2, … near-dup
    neighbors at the 0.6 Jaccard threshold — the graph-health monitor
    behind every sparsification decision this engine makes (the r9
    kNN cap, the LSH bucket cap, the rep-level CC). A fat tail here
    is the early warning that the pair graph is densifying and the
    downstream clustering cost curve is about to bend.

    Oracle: the ground-truth exact-Jaccard pair relation (the same
    CTEs the dedup_clusters oracle closes transitively) — so this is
    ALSO a standing recall proof for the LSH pair path feeding it.
    Scale: LSH pair generation (collapse-first, capped buckets) + two
    hash-only shuffles (degree count, histogram count); document text
    never shuffles."""
    from ..operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.6)
    endpoints = pairs.select(
        F.col("doc_a").alias("doc_id")
    ).unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
    deg = endpoints.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    all_deg = (
        docs.select("doc_id")
        .join(deg, "doc_id", "left_outer")
        .select(F.coalesce("degree", F.lit(0)).alias("degree"))
    )
    return all_deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


_DEGREE_HIST_SQL = f"""
WITH {_JACCARD_PAIR_CTES}, deg AS (
  SELECT d.doc_id, CAST(COALESCE(b.c, 0) AS BIGINT) AS degree
  FROM documents d LEFT JOIN (
    SELECT e AS doc_id, COUNT(*) AS c FROM (
      SELECT doc_a AS e FROM pairs
      UNION ALL SELECT doc_b FROM pairs)
    GROUP BY 1) b USING (doc_id)
)
SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM deg GROUP BY 1
"""


def order_fulfillment_latency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Order-fulfillment latency SLO (round 9): per order priority,
    the exact p50 and p95 of days from order date to FIRST shipment —
    the fulfillment-SLA number an ops dashboard publishes, computed
    exactly on the day grid by operators/order_stats.lower_quantiles
    (the gap domain is bounded by the shipping calendar, ~0-130 days,
    so each day is its own bucket). Lower-quantile semantics (smallest
    gap with den·cum ≥ num·n), identical in both engines; all-integer
    until nothing."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("first_ship")
    )
    gaps = orders.join(
        first_ship, orders["o_orderkey"] == first_ship["l_orderkey"]
    ).select(
        "o_orderpriority",
        F.datediff("first_ship", F.to_date("o_orderdate"))
        .cast("long")
        .alias("gap_days"),
    )
    pct = lower_quantiles(
        gaps,
        by=["o_orderpriority"],
        bucket=["gap_days"],
        order=["gap_days"],
        value="gap_days",
        cuts={"p50_days": (1, 2), "p95_days": (19, 20)},
    )
    return pct.select(
        F.col("o_orderpriority").alias("priority"),
        F.col("total").alias("n_orders"),
        "p50_days",
        "p95_days",
    )


_FULFILLMENT_SQL = """
WITH gaps AS (
  SELECT o.o_orderpriority,
         CAST(date_diff('day', CAST(o.o_orderdate AS DATE), f.first_ship)
              AS BIGINT) AS gap_days
  FROM orders o JOIN (
    SELECT l_orderkey, MIN(l_shipdate) AS first_ship
    FROM lineitem GROUP BY 1) f
    ON o.o_orderkey = f.l_orderkey
), cum AS (
  SELECT o_orderpriority, gap_days,
         CAST(SUM(bn) OVER (PARTITION BY o_orderpriority
               ORDER BY gap_days
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cumn,
         CAST(SUM(bn) OVER (PARTITION BY o_orderpriority)
           AS BIGINT) AS totn
  FROM (SELECT o_orderpriority, gap_days, COUNT(*) AS bn
        FROM gaps GROUP BY 1, 2)
)
SELECT p50.o_orderpriority AS priority, n.n_orders,
       p50.p50_days, p95.p95_days
FROM (SELECT o_orderpriority, MIN(gap_days) AS p50_days
      FROM cum WHERE 2 * cumn >= totn GROUP BY 1) p50
JOIN (SELECT o_orderpriority, MIN(gap_days) AS p95_days
      FROM cum WHERE 20 * cumn >= 19 * totn GROUP BY 1) p95
  USING (o_orderpriority)
JOIN (SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM gaps GROUP BY 1) n
  USING (o_orderpriority)
"""


def event_type_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type percentile profile (round 8): p25/p50/p75/p95 of
    event value per type — the latency-SLO-style summary every
    monitoring stack publishes, computed EXACTLY by one
    operators/order_stats.lower_quantiles call over ($5-bucket, type)
    histograms — never a per-type whole-table sort. Lower quantile
    semantics: smallest v with den·rank ≥ num·n, ties broken by
    event_id, identical in both engines."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    )
    tags = {"p25": (1, 4), "p50": (1, 2), "p75": (3, 4), "p95": (19, 20)}
    pct = _type_value_quantiles(ev, tags)
    return pct.select(
        "event_type",
        *[(F.col(t).cast("double") / F.lit(100.0)).alias(t) for t in tags],
    )


def _type_pct_cut_sql(num: int, den: int, tag: str) -> str:
    return _value_cut_sql(
        num, den, tag, f"CAST(MIN(v_cents) AS DOUBLE) / 100.0 AS {tag}"
    )


_TYPE_PERCENTILES_SQL = f"""
WITH obs AS (
  SELECT event_type, event_id,
         CAST(round(value * 100) AS BIGINT) AS v_cents,
         CAST(round(value * 100) AS BIGINT) // 500 AS bkt
  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
), {_VALUE_CUM_CTES}, {_type_pct_cut_sql(1, 4, "p25")}, {_type_pct_cut_sql(1, 2, "p50")},
{_type_pct_cut_sql(3, 4, "p75")}, {_type_pct_cut_sql(19, 20, "p95")}
SELECT p25.lt AS event_type, p25.p25, p50.p50, p75.p75, p95.p95
FROM p25 JOIN p50 USING (lt) JOIN p75 USING (lt) JOIN p95 USING (lt)
"""


def part_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-concentration index per part (round 8): the
    Herfindahl–Hirschman Index over each part's supplier quantity
    shares — HHI = Σ share² ∈ (0, 1], 1 = single-sourced — the
    procurement-risk metric behind second-source policies; flags
    parts where one supplier owns the volume (sole_blame_suppliers'
    quality view, from the concentration side).

    Exactness: quantities sum on the integer grid map-side; HHI_ppm =
    (10⁶ · Σq_s²) // Q² computed on DECIMAL(38)/HUGEINT over the
    |parts|-row aggregate (q² leaves long range around Q ≈ 3e9 — the
    post-agg-decimal pattern). One division total, floored the same
    in both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    per_ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(_cents("l_quantity", 1)).alias("q")
    )
    per_part = per_ps.groupBy(F.col("l_partkey").alias("part")).agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum("q").alias("qt"),
        F.sum(F.col("q") * F.col("q")).alias("qq"),
    )
    # qt <> 0 guard: a part whose rounded quantities sum to 0 would
    # divide by zero — Spark yields NULL but DuckDB raises, a
    # cross-engine divergence (same guard as
    # discount_quantity_regression's zero-variance case).
    return per_part.select(
        "part",
        "n_suppliers",
        F.expr(
            "CASE WHEN qt <> 0 THEN"
            " (CAST(1000000 AS DECIMAL(38,0)) * qq)"
            " div (CAST(qt AS DECIMAL(38,0)) * qt)"
            " END"
        ).alias("hhi_ppm"),
    )


_PART_HHI_SQL = """
WITH per_ps AS (
  SELECT l_partkey, l_suppkey,
         CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS q
  FROM lineitem GROUP BY 1, 2
), per_part AS (
  SELECT l_partkey AS part,
         CAST(COUNT(*) AS BIGINT) AS n_suppliers,
         CAST(SUM(q) AS BIGINT) AS qt,
         CAST(SUM(q * q) AS BIGINT) AS qq
  FROM per_ps GROUP BY 1
)
SELECT part, n_suppliers,
       CAST(CASE WHEN qt <> 0 THEN
              (CAST(1000000 AS HUGEINT) * qq)
              // (CAST(qt AS HUGEINT) * qt)
            END AS BIGINT) AS hhi_ppm
FROM per_part
"""


def quantile_normalize_quality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-source quantile normalization (round 8): each document's
    quality score is replaced by the GLOBAL score at the same
    within-source quantile — the batch-effect correction (microarray
    lineage) that makes per-source quality thresholds comparable when
    sources grade on different scales; the curation pipeline's answer
    to 'source A's 0.6 is source B's 0.8'.

    Mechanics, all rank algebra: within-source rank r of n_s maps to
    global position p = ⌈r·N/n_s⌉ (integer: (r·N + n_s − 1) div n_s),
    and the normalized score is the p-th smallest global score. Both
    rankings are operators/order_stats.running_sum row numbers over
    score buckets, so nothing ever single-task sorts the corpus; the
    position lookup is a shuffle equi-join on p. The
    emitted value is a pass-through copy of an existing score — no
    arithmetic, so cross-engine exactness is inherited from
    quality_score parity."""
    from ..functions.text import quality_score

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull()
    )
    # cached: BOTH rankings (per-source and global) read this relation
    # — uncached, the quality regex pass would run twice (see module
    # docstring for cache ownership)
    scored = (
        docs.select(
            "doc_id",
            "source",
            quality_score("text").alias("q"),
        )
        .withColumn("qb", F.round(F.col("q") * 1000).cast("long"))
        .persist()
    )

    src_ranked = running_sum(
        scored,
        by=["source"],
        bucket=["qb"],
        order=["q", "doc_id"],
        name="r_src",
    )
    glob_ranked = running_sum(
        scored, by=[], bucket=["qb"], order=["q", "doc_id"], name="r_glob"
    )
    n_glob = scored.agg(F.count(F.lit(1)).alias("n_all"))
    n_src = scored.groupBy(F.col("source").alias("__s")).agg(
        F.count(F.lit(1)).alias("n_s")
    )
    pos = (
        src_ranked.join(
            F.broadcast(n_src), F.col("source") == F.col("__s")
        )
        .crossJoin(F.broadcast(n_glob))
        .select(
            "doc_id",
            "source",
            "q",
            "r_src",
            F.expr("(r_src * n_all + n_s - 1) div n_s").alias("p"),
        )
    )
    ref = glob_ranked.select(
        F.col("r_glob").alias("__p"), F.col("q").alias("q_norm")
    )
    return pos.join(ref, pos["p"] == ref["__p"]).select(
        "doc_id",
        "source",
        F.col("q").alias("q_raw"),
        F.col("r_src").cast("long").alias("src_rank"),
        "q_norm",
    )


def _quantile_norm_sql() -> str:
    return f"""
WITH scored AS (
  SELECT doc_id, source, ({_QUALITY_SCORE_SQL}) AS q
  FROM documents WHERE source IS NOT NULL
), src_ranked AS (
  SELECT doc_id, source, q,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY q, doc_id) AS BIGINT) AS r_src
  FROM scored
), glob_ranked AS (
  SELECT q AS q_norm,
         CAST(row_number() OVER (ORDER BY q, doc_id) AS BIGINT) AS p
  FROM scored
), counts AS (
  SELECT source AS s, CAST(COUNT(*) AS BIGINT) AS n_s FROM scored
  GROUP BY 1
), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM scored)
SELECT sr.doc_id, sr.source, sr.q AS q_raw, sr.r_src AS src_rank,
       g.q_norm
FROM src_ranked sr
JOIN counts c ON c.s = sr.source
CROSS JOIN n
JOIN glob_ranked g
  ON g.p = (sr.r_src * n_all + c.n_s - 1) // c.n_s
"""


# ---------------------------------------------------------------------------
# round-8 session 1e: phrase search, coherent sampling, churn labels, MMR
# ---------------------------------------------------------------------------


#: The phrase phrase_search and its SQL twin look up.
_PHRASE = "table scan"


def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search (round 8): documents containing the
    exact token sequence, with per-doc match positions and count —
    the positional-index query behind quoted search, built from the
    same (doc, term, pos) relation as doc_word_positions: positions
    of term₁ equi-join positions of term₂ at pos+1 (extending to
    n-gram phrases is n−1 self-equi-joins, never a string scan).

    Scale: the position lists are filtered to the PHRASE terms before
    the join (predicate pushdown to the explode), so the join touches
    only matching terms' postings — the inverted-index access path,
    not a corpus scan of text."""
    from ..functions.text import tokens

    terms = _PHRASE.split()
    if len(terms) != 2:
        # Not an assert: under `python -O` an assert is stripped and a
        # 3+-token phrase would silently search only the first bigram.
        raise ValueError(
            f"phrase_search handles bigram phrases, got {len(terms)} "
            "tokens; extend with more positional self-joins"
        )
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    pos = docs.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "term")
    )
    a = pos.filter(F.col("term") == terms[0]).select(
        "doc_id", F.col("pos").alias("p1")
    )
    b = pos.filter(F.col("term") == terms[1]).select(
        F.col("doc_id").alias("doc2"), F.col("pos").alias("p2")
    )
    hits = a.join(
        b,
        (a["doc_id"] == b["doc2"]) & (b["p2"] == a["p1"] + 1),
    )
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_matches"),
        F.min("p1").cast("long").alias("first_pos"),
    )


def _phrase_search_sql() -> str:
    t1, t2 = _PHRASE.split()
    return f"""
WITH pos AS (
  SELECT doc_id,
         generate_subscripts({_TOKS_SQL}, 1) - 1 AS pos,
         unnest({_TOKS_SQL}) AS term
  FROM documents
)
SELECT a.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_matches,
       CAST(MIN(a.pos) AS BIGINT) AS first_pos
FROM pos a JOIN pos b
  ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
WHERE a.term = '{t1}' AND b.term = '{t2}'
GROUP BY 1
"""


_PHRASE_SEARCH_SQL = _phrase_search_sql()


#: 1-in-N sessions kept by session_coherent_sample and its SQL twin.
_SESSION_KEEP_MOD = 10


def session_coherent_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-coherent (all-or-nothing) session sampling (round 8):
    sessionize the event stream, then keep EVERY event of sessions
    whose id-hash lands in the kept residue class — the sampling mode
    training pipelines need when examples are whole sequences
    (conversations, browsing sessions): row-level sampling shreds
    them. Deterministic: session key = (user_id, seg), md5-hash →
    mod; the session segmentation is the shared 30-minute-gap
    sessionize shape.

    Scale: one user-keyed window pass to segment, a map-side hash
    filter — no join; the kept fraction is exact-in-expectation and
    reproducible run-over-run."""
    from ..functions.text import md5_hash64

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = ev.withColumn(
        "new_s",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > 1800 * 1000000
            ),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "seg",
        F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    h = md5_hash64(
        F.concat_ws(
            "|",
            F.lit("sess1"),
            F.col("user_id").cast("string"),
            F.col("seg").cast("string"),
        )
    )
    return (
        seg.withColumn("__h", h)
        .filter(F.pmod(F.col("__h"), F.lit(_SESSION_KEEP_MOD)) == 0)
        .select(
            "event_id",
            "user_id",
            F.col("seg").cast("long").alias("session_seg"),
            "ts",
            "event_type",
        )
    )


def _session_sample_sql() -> str:
    h = _HASH64_SQL.format(
        x="('sess1' || '|' || CAST(user_id AS VARCHAR)"
        " || '|' || CAST(seg AS VARCHAR))"
    )
    return f"""
WITH flagged AS (
  SELECT event_id, user_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), seg AS (
  SELECT event_id, user_id, ts, event_type,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS seg
  FROM flagged
)
SELECT event_id, user_id, CAST(seg AS BIGINT) AS session_seg, ts,
       event_type
FROM seg
WHERE (({h}) % {_SESSION_KEEP_MOD} + {_SESSION_KEEP_MOD}) % {_SESSION_KEEP_MOD} = 0
"""


_SESSION_SAMPLE_SQL = _session_sample_sql()


#: Days without activity after which user_churn_labels (and its SQL
#: twin) labels a user churned.
_CHURN_HORIZON_DAYS = 7


def user_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn label + feature prep (round 8): per user, the supervised-
    learning row a retention model trains on — churned = silent for
    the final `horizon_days` of the corpus (label), with the
    leakage-safe features computed ONLY from events BEFORE the label
    window (days_active, n_events, n_purchases, mean inter-event gap
    in the feature period). The label/feature temporal split is the
    part pipelines get wrong; here the cutoff is one derived literal.

    Scale: one combined per-user aggregate over the feature slice +
    a broadcast one-row cutoff; label from each user's max ts."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    cut = ev.agg(
        F.date_sub(
            F.to_date(F.max("ts")), _CHURN_HORIZON_DAYS
        ).alias("cutoff")
    )
    labeled = ev.crossJoin(F.broadcast(cut))
    feat = labeled.filter(F.to_date("ts") < F.col("cutoff"))
    label = labeled.groupBy("user_id").agg(
        (
            F.max(F.to_date("ts")) < F.max("cutoff")
        ).alias("churned")
    )
    feats = feat.groupBy("user_id").agg(
        F.countDistinct(F.to_date("ts")).cast("long").alias(
            "days_active"
        ),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(
            (F.col("event_type") == "purchase").cast("long")
        ).alias("n_purchases"),
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen_feat"),
    )
    return feats.join(label, "user_id").select(
        "user_id",
        "days_active",
        "n_events",
        "n_purchases",
        "first_seen",
        "last_seen_feat",
        "churned",
    )


_CHURN_SQL = f"""
WITH ev AS (
  SELECT * FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
), cut AS (
  SELECT CAST(MAX(ts) AS DATE) - INTERVAL {_CHURN_HORIZON_DAYS} DAY AS cutoff
  FROM ev
), label AS (
  SELECT user_id,
         MAX(CAST(ts AS DATE)) < CAST(MAX(cutoff) AS DATE) AS churned
  FROM ev CROSS JOIN cut GROUP BY 1
), feats AS (
  SELECT user_id,
         CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT)
           AS days_active,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_purchases,
         MIN(ts) AS first_seen,
         MAX(ts) AS last_seen_feat
  FROM ev CROSS JOIN cut
  WHERE CAST(ts AS DATE) < CAST(cutoff AS DATE)
  GROUP BY 1
)
SELECT f.user_id, f.days_active, f.n_events, f.n_purchases,
       f.first_seen, f.last_seen_feat, l.churned
FROM feats f JOIN label l USING (user_id)
"""


#: Results, candidates and queries of mmr_diverse_topk and its SQL twin.
_MMR_K = 5
_MMR_CANDIDATES = 20
_MMR_QUERIES = 3


def mmr_diverse_topk(
    spark: SparkSession,
    sf_dir: str,
) -> DataFrame:
    """Maximal Marginal Relevance retrieval (Carbonell & Goldstein
    1998) (round 8): top-k results that balance relevance against
    redundancy — each step picks argmax(rel − max-sim-to-selected),
    the diversified-retrieval standard that plain top-k (all
    near-duplicates of the best hit) cannot give. Equal λ weights
    keep the score an exact IEEE subtraction of two bit-reproducible
    cosines, so both engines select identical sets (ties on vec_id).

    Scale + determinism: candidates are the top-`n_candidates` per
    query (TakeOrdered against the corpus — the only corpus-sized
    stage). The selection then runs DRIVER-SIDE over the collected
    |queries|·n_candidates candidate rows — bounded model state, the
    kmeans-centroid pattern (a first cut ran the k−1 rounds as
    unrolled DataFrame joins: 10.9 s of pure stage-scheduling
    overhead at EVERY scale factor for 60 metadata rows). Pairwise
    similarities use the same LEFT-FOLD double accumulation as the
    distributed cosine (operators/similarity.dot), so the selection
    is bit-identical to the unrolled CTE twin."""
    emb = load_table(spark, sf_dir, "embeddings")
    from ..operators.similarity import knn_join

    queries_df = emb.filter(F.col("vec_id") < _MMR_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    cand = (
        knn_join(emb, queries_df, k=_MMR_CANDIDATES)
        .select("query_id", "vec_id", F.col("cos_sim").alias("rel"))
        .join(emb.select("vec_id", "embedding"), "vec_id")
    )
    rows = cand.collect()  # bounded: |queries| * n_candidates

    import math

    def fold_dot(a: list, b: list) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + float(x) * float(y)
        return acc

    def cos(a: list, b: list) -> float | None:
        d = math.sqrt(fold_dot(a, a)) * math.sqrt(fold_dot(b, b))
        return fold_dot(a, b) / d if d != 0.0 else None

    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(
            (r["vec_id"], r["rel"], list(r["embedding"]))
        )
    out = []
    neg_inf = float("-inf")
    for qid, cands in by_q.items():
        # rel DESC NULLS LAST, vec_id ASC — matches the twin's window
        first = min(
            cands,
            key=lambda c: (
                c[1] is None,
                -(c[1] if c[1] is not None else 0.0),
                c[0],
            ),
        )
        sel = [first]
        while len(sel) < _MMR_K and len(sel) < len(cands):
            sel_ids = {s[0] for s in sel}
            best = None
            best_key = None
            for vid, rel, vec in cands:
                if vid in sel_ids:
                    continue
                ms = neg_inf
                for _, _, svec in sel:
                    s = cos(vec, svec)
                    if s is not None and s > ms:
                        ms = s
                score = (
                    None
                    if rel is None or ms == neg_inf
                    else rel - ms
                )
                key = (
                    score is None,
                    -(score if score is not None else 0.0),
                    vid,
                )
                if best_key is None or key < best_key:
                    best_key = key
                    best = (vid, rel, vec)
            sel.append(best)
        out.extend(
            (qid, s[0], s[1], i + 1) for i, s in enumerate(sel)
        )
    return spark.createDataFrame(
        out, "query_id long, vec_id long, rel double, mmr_rank long"
    )


def _mmr_sql() -> str:
    cos_eq = _COS_SQL.format(a="e.embedding", b="q.embedding")
    parts = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding FROM embeddings
  WHERE vec_id < {_MMR_QUERIES}
), cand AS (
  SELECT query_id, vec_id, rel, emb FROM (
    SELECT q.query_id, e.vec_id, {cos_eq} AS rel,
           e.embedding AS emb,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY {cos_eq} DESC NULLS LAST, e.vec_id ASC) AS rn
    FROM embeddings e CROSS JOIN q
  ) WHERE rn <= {_MMR_CANDIDATES}
), sims AS (
  SELECT a.query_id, a.vec_id AS va, b.vec_id AS vb,
         {_COS_SQL.format(a="a.emb", b="b.emb")} AS sim
  FROM cand a JOIN cand b
    ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
), selu1 AS (
  SELECT query_id, vec_id, rel, CAST(1 AS BIGINT) AS mmr_rank FROM (
    SELECT query_id, vec_id, rel,
           row_number() OVER (PARTITION BY query_id
             ORDER BY rel DESC NULLS LAST, vec_id ASC) AS rn
    FROM cand) WHERE rn = 1
)"""
    prev = "selu1"
    for i in range(2, _MMR_K + 1):
        parts += f""", step{i} AS (
  SELECT query_id, vec_id, rel, CAST({i} AS BIGINT) AS mmr_rank FROM (
    SELECT sc.query_id, sc.vec_id, sc.rel,
           row_number() OVER (PARTITION BY sc.query_id
             ORDER BY sc.score DESC NULLS LAST, sc.vec_id ASC) AS rn
    FROM (
      SELECT c.query_id, c.vec_id, c.rel, c.rel - ms.m AS score
      FROM cand c
      JOIN (SELECT s.query_id, s.va, MAX(s.sim) AS m
            FROM sims s JOIN {prev} p
              ON p.query_id = s.query_id AND p.vec_id = s.vb
            GROUP BY 1, 2) ms
        ON ms.query_id = c.query_id AND ms.va = c.vec_id
      WHERE NOT EXISTS (SELECT 1 FROM {prev} p
                        WHERE p.query_id = c.query_id
                          AND p.vec_id = c.vec_id)
    ) sc) WHERE rn = 1
), selu{i} AS (
  SELECT * FROM {prev} UNION ALL SELECT * FROM step{i}
)"""
        prev = f"selu{i}"
    parts += (
        f"\nSELECT query_id, vec_id, rel, mmr_rank FROM {prev}"
    )
    return parts


_MMR_SQL = _mmr_sql()


# ---------------------------------------------------------------------------
# round-8 session 1f: exact OLS, clustering coefficient, DOW seasonality
# ---------------------------------------------------------------------------


def discount_quantity_regression(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact least-squares regression of quantity on discount, per
    return flag (round 8): the 'does discounting move volume?'
    question answered with closed-form OLS on EXACT integer moments —
    slope, intercept, and r² in ppm, no float accumulation anywhere.
    The moment sums (n, Σx, Σy, Σxy, Σx², Σy²) ride the long grid
    map-side (x = discount cents ≤ 10, y = integer quantity ≤ 50 —
    products are tiny); the three closed-form ratios run on
    DECIMAL(38)/HUGEINT over the |flags|-row aggregate. Two engines,
    one floor division each — bit-identical.

    Statistical shape over a distributed table is THE aggregation
    pattern (moments combine associatively); this is the linear-model
    tier beside Welch's t (welch_t_event_types) and autocorrelation."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        _cents("l_discount").alias("x"),
        _cents("l_quantity", 1).alias("y"),
    )
    m = li.groupBy(F.col("l_returnflag").alias("returnflag")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    dec = "CAST({0} AS DECIMAL(38,0))"
    cov = f"({dec.format('n')} * sxy - {dec.format('sx')} * sy)"
    varx = f"({dec.format('n')} * sxx - {dec.format('sx')} * sx)"
    vary = f"({dec.format('n')} * syy - {dec.format('sy')} * sy)"
    # degenerate groups (constant x or constant y) yield NULL rather
    # than a division error in EITHER engine
    return m.select(
        "returnflag",
        "n",
        F.expr(
            f"CASE WHEN {varx} <> 0 THEN"
            f" (1000000 * {cov}) div {varx} END"
        ).alias("slope_ppm"),
        F.expr(
            f"CASE WHEN {varx} <> 0 THEN"
            f" (1000000 * {dec.format('sy')}"
            f" - ((1000000 * {cov}) div {varx}) * sx) div n END"
        ).alias("intercept_ppm"),
        F.expr(
            f"CASE WHEN {varx} <> 0 AND {vary} <> 0 THEN"
            f" (1000000 * {cov} * {cov}) div ({varx} * {vary}) END"
        ).alias("r2_ppm"),
    )


_REGRESSION_SQL = """
WITH m AS (
  SELECT l_returnflag AS returnflag,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM (SELECT l_returnflag,
               CAST(round(l_discount * 100) AS BIGINT) AS x,
               CAST(round(l_quantity) AS BIGINT) AS y
        FROM lineitem)
  GROUP BY 1
)
SELECT returnflag, n,
       CASE WHEN (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
                 <> 0 THEN
         CAST((1000000 * (CAST(n AS HUGEINT) * sxy
                          - CAST(sx AS HUGEINT) * sy))
              // (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
              AS BIGINT) END AS slope_ppm,
       CASE WHEN (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
                 <> 0 THEN
         CAST((1000000 * CAST(sy AS HUGEINT)
               - ((1000000 * (CAST(n AS HUGEINT) * sxy
                              - CAST(sx AS HUGEINT) * sy))
                  // (CAST(n AS HUGEINT) * sxx
                      - CAST(sx AS HUGEINT) * sx)) * sx)
              // n AS BIGINT) END AS intercept_ppm,
       CASE WHEN (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
                 <> 0
             AND (CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy)
                 <> 0 THEN
         CAST((1000000 * (CAST(n AS HUGEINT) * sxy
                          - CAST(sx AS HUGEINT) * sy)
                       * (CAST(n AS HUGEINT) * sxy
                          - CAST(sx AS HUGEINT) * sy))
              // ((CAST(n AS HUGEINT) * sxx
                   - CAST(sx AS HUGEINT) * sx)
                  * (CAST(n AS HUGEINT) * syy
                     - CAST(sy AS HUGEINT) * sy)) AS BIGINT) END
         AS r2_ppm
FROM m
"""


def copurchase_clustering_coefficient(
    spark: SparkSession,
    sf_dir: str,
) -> DataFrame:
    """Local clustering coefficient on the co-purchase graph (round
    8): per part, cc = 2·triangles / (deg·(deg−1)) in exact ppm —
    how clique-like each part's neighborhood is (bundle-able product
    families score high; hub accessories score low). Complements the
    RA link predictor (same graph) with the density view.

    Scale: triangles are counted on the DEGREE-ORDERED orientation
    (Schank & Wagner 2005): each undirected edge points from its
    lower-(degree, id) endpoint to the higher, wedges form only at a
    node's ORIENTED out-neighbors (out-degree = O(√E) on any graph),
    and each triangle is found exactly once then credited to all
    three corners. Total wedge work O(E^1.5) instead of Σ deg² — the
    naive center-join measured 7.1× at 10× on the densifying basket
    graph before this rewrite. deg arithmetic is metadata-sized;
    max_degree only filters the REPORTED rows (a mega-hub's cc is
    noise), never the count."""
    _, pairs = _basket_pairs(spark, sf_dir, _COPURCHASE_MIN_COUNT)
    adj = pairs.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionByName(
        pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    deg = adj.groupBy(F.col("src").alias("z")).agg(
        F.count(F.lit(1)).cast("long").alias("dg")
    )
    da = deg.select(F.col("z").alias("__za"), F.col("dg").alias("d_a"))
    db = deg.select(F.col("z").alias("__zb"), F.col("dg").alias("d_b"))
    keyed = (
        pairs.join(F.broadcast(da), pairs["pa"] == da["__za"])
        .join(F.broadcast(db), pairs["pb"] == db["__zb"])
    )
    fwd = (F.col("d_a") < F.col("d_b")) | (
        (F.col("d_a") == F.col("d_b")) & (F.col("pa") < F.col("pb"))
    )
    # NOT cached deliberately: the oriented edge list feeds three
    # consumers, but measured at sf0.1 the recompute (2.6 s, 63
    # exchanges) beats cache materialization (3.6 s, 29 exchanges) —
    # the parallel subtrees overlap while a cache serializes on its
    # first fill. At 100 TB persist eo between stages instead.
    eo = keyed.select(
        F.when(fwd, F.col("pa")).otherwise(F.col("pb")).alias("u"),
        F.when(fwd, F.col("pb")).otherwise(F.col("pa")).alias("v"),
        F.when(fwd, F.col("d_b")).otherwise(F.col("d_a")).alias("dv"),
    )
    e1 = eo.select("u", F.col("v").alias("a"), F.col("dv").alias("da_"))
    e2 = eo.select(
        F.col("u").alias("u2"), F.col("v").alias("b"),
        F.col("dv").alias("db_"),
    )
    wedges = e1.join(
        e2,
        (e1["u"] == e2["u2"])
        & (
            (F.col("da_") < F.col("db_"))
            | ((F.col("da_") == F.col("db_")) & (F.col("a") < F.col("b")))
        ),
    ).select("u", "a", "b")
    # triangle iff the oriented edge a->b exists (orientation key of a
    # precedes b by construction of the wedge condition)
    tri_once = wedges.join(
        eo.select(F.col("u").alias("a"), F.col("v").alias("b")),
        ["a", "b"],
        "left_semi",
    )
    # credit each found triangle to its three corners with ONE
    # explode — a 3-way union would re-derive the whole wedge+semi
    # subtree three times (measured: 173 exchanges in the plan)
    per_node = (
        tri_once.select(
            F.explode(F.array("u", "a", "b")).alias("z")
        )
        .groupBy("z")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return (
        deg.filter((F.col("dg") >= 2) & (F.col("dg") <= _COPURCHASE_MAX_DEGREE))
        .join(per_node, "z", "left")
        .select(
            F.col("z").alias("part"),
            F.col("dg").alias("degree"),
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
            F.expr(
                "1000000 * 2 * coalesce(n_triangles, 0)"
                " DIV (dg * (dg - 1))"
            ).alias("cc_ppm"),
        )
    )


_CLUSTERING_COEFF_SQL = f"""
WITH {_BASKET_PAIRS_CTE.format(min_count=_COPURCHASE_MIN_COUNT)},
adj AS (
  SELECT pa AS src, pb AS dst FROM pairs
  UNION ALL SELECT pb, pa FROM pairs
), deg AS (
  SELECT src AS z, CAST(COUNT(*) AS BIGINT) AS dg FROM adj GROUP BY 1
), eo AS (
  SELECT CASE WHEN (da.dg, pa) < (db.dg, pb) THEN pa ELSE pb END AS u,
         CASE WHEN (da.dg, pa) < (db.dg, pb) THEN pb ELSE pa END AS v,
         CASE WHEN (da.dg, pa) < (db.dg, pb) THEN db.dg
              ELSE da.dg END AS dv
  FROM pairs
  JOIN deg da ON da.z = pa
  JOIN deg db ON db.z = pb
), tri_once AS (
  SELECT e1.u, e1.v AS a, e2.v AS b
  FROM eo e1 JOIN eo e2
    ON e1.u = e2.u AND (e1.dv, e1.v) < (e2.dv, e2.v)
  WHERE EXISTS (SELECT 1 FROM eo e3
                WHERE e3.u = e1.v AND e3.v = e2.v)
), per_node AS (
  SELECT z, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
    SELECT u AS z FROM tri_once
    UNION ALL SELECT a FROM tri_once
    UNION ALL SELECT b FROM tri_once
  ) GROUP BY 1
)
SELECT d.z AS part, d.dg AS degree,
       CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
       1000000 * 2 * COALESCE(t.n_triangles, 0)
         // (d.dg * (d.dg - 1)) AS cc_ppm
FROM deg d LEFT JOIN per_node t ON t.z = d.z
WHERE d.dg >= 2 AND d.dg <= {_COPURCHASE_MAX_DEGREE}
"""


def orders_seasonality_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile (round 8): orders and exact
    revenue per weekday (0 = Monday, pinned identically via Spark
    weekday() and DuckDB isodow−1), each day's share in ppm, and the
    signed deviation from the uniform 1/7 share — the weekly-rhythm
    monitor beside hourly autocorrelation and monthly mix drift. One
    combine to 7 rows; everything after is metadata math."""
    orders = load_table(spark, sf_dir, "orders")
    cell = orders.groupBy(
        F.expr("weekday(o_orderdate)").cast("long").alias("dow")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(_cents("o_totalprice")).alias("rev_cents"),
    )
    return cell.select(
        "dow",
        "n_orders",
        (F.col("rev_cents").cast("double") / F.lit(100.0)).alias(
            "revenue"
        ),
        F.expr(
            "1000000 * n_orders DIV sum(n_orders) OVER ()"
        ).alias("share_ppm"),
        (
            F.expr("1000000 * n_orders DIV sum(n_orders) OVER ()")
            - F.lit(1000000 // 7)
        ).alias("uniform_delta_ppm"),
    )


_SEASONALITY_DOW_SQL = """
WITH cell AS (
  SELECT CAST(isodow(o_orderdate) - 1 AS BIGINT) AS dow,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS rev_cents
  FROM orders GROUP BY 1
)
SELECT dow, n_orders,
       CAST(rev_cents AS DOUBLE) / 100.0 AS revenue,
       CAST(1000000 * n_orders // SUM(n_orders) OVER () AS BIGINT)
         AS share_ppm,
       CAST(1000000 * n_orders // SUM(n_orders) OVER () AS BIGINT)
         - 142857 AS uniform_delta_ppm
FROM cell
"""


# ---------------------------------------------------------------------------
# round-8 session 1g: RANGE-frame rolling revenue, conversion latency
# ---------------------------------------------------------------------------


def daily_revenue_rolling_7d(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Calendar-correct 7-day rolling revenue (round 8): a RANGE
    window frame over event-time — `RANGE BETWEEN INTERVAL 6 DAYS
    PRECEDING AND CURRENT ROW` — so gaps in the date grid shorten the
    window instead of silently widening it (the ROWS-frame bug every
    naive rolling metric ships with; price_lag_lead_frames covers the
    ROWS side, this covers RANGE). Rolling sums stay exact: they
    aggregate the per-day cent totals.

    Scale: the frame runs over the DATE-DOMAIN-bounded daily
    aggregate (one map-side combine first), so the window input is
    ~2.5k rows regardless of order count."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.to_date("o_orderdate").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(_cents("o_totalprice")).alias("rev_cents"),
    )
    # Inline OVER clause (no temp view): a fixed session-level view
    # name would let concurrent registry queries on one SparkSession
    # clobber each other, and every other entry is a pure builder.
    w = (
        "(ORDER BY day RANGE BETWEEN INTERVAL 6 DAYS PRECEDING "
        "AND CURRENT ROW)"
    )
    return daily.selectExpr(
        "day",
        "n_orders",
        "CAST(rev_cents AS DOUBLE) / 100.0 AS revenue",
        f"CAST(SUM(rev_cents) OVER {w} AS DOUBLE) / 100.0"
        " AS revenue_7d",
        f"CAST(SUM(n_orders) OVER {w} AS BIGINT) AS n_orders_7d",
        f"CAST(COUNT(*) OVER {w} AS BIGINT) AS days_in_window",
    )


_ROLLING_7D_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
              AS BIGINT) AS rev_cents
  FROM orders GROUP BY 1
)
SELECT day, n_orders,
       CAST(rev_cents AS DOUBLE) / 100.0 AS revenue,
       CAST(SUM(rev_cents) OVER w AS DOUBLE) / 100.0 AS revenue_7d,
       CAST(SUM(n_orders) OVER w AS BIGINT) AS n_orders_7d,
       CAST(COUNT(*) OVER w AS BIGINT) AS days_in_window
FROM daily
WINDOW w AS (ORDER BY day
             RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
"""


def conversion_latency_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Click→purchase conversion-latency quantiles (round 8): for
    every click, the time to the SAME user's next purchase (the as-of
    forward join shape), then the exact p50/p90/p99 of those
    latencies in seconds — the conversion-funnel SLA numbers,
    computed exactly rather than with approx_percentile. One summary
    row.

    Mechanics: the next-purchase lookup is the union-merge as-of
    (events tagged, one user-keyed window, no inequality join);
    latencies floor to integer seconds; the quantiles are
    operators/order_stats.lower_quantiles over hour buckets with no
    group key, so no conversions still gives one row with
    n_conversions = 0."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    tagged = ev.filter(
        F.col("event_type").isin("click", "purchase")
    ).select(
        "user_id",
        "ts",
        "event_id",
        (F.col("event_type") == "purchase").alias("is_p"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # min (ts, event_id) struct over FOLLOWING purchases (descending
    # order scan => preceding frame), NULL when no purchase follows
    nxt = tagged.withColumn(
        "next_p_us",
        F.min(
            F.when(F.col("is_p"), F.unix_micros("ts"))
        ).over(w),
    )
    lat = nxt.filter(
        (~F.col("is_p")) & F.col("next_p_us").isNotNull()
    ).select(
        (
            (F.col("next_p_us") - F.unix_micros("ts"))
            / F.lit(1000000)
        )
        .cast("long")
        .alias("lat_s"),
        "event_id",
    ).filter(F.col("lat_s") >= 0)
    pct = lower_quantiles(
        lat.withColumn("bkt", F.expr("lat_s div 3600")),
        by=[],
        bucket=["bkt"],
        order=["lat_s", "event_id"],
        value="lat_s",
        cuts={"p50_s": (1, 2), "p90_s": (9, 10), "p99_s": (99, 100)},
    )
    return pct.select(
        F.col("total").alias("n_conversions"), "p50_s", "p90_s", "p99_s"
    )


def _conversion_cut_sql(num: int, den: int, tag: str) -> str:
    return f"""{tag}_loc AS (
  SELECT MIN(bkt) AS mb, MIN_BY(cumn - bn, bkt) AS n_before,
         MIN(totn) AS totn
  FROM cum WHERE {den} * cumn >= {num} * totn
), {tag} AS (
  SELECT MIN(lat_s) AS {tag} FROM (
    SELECT o.lat_s,
           lo.n_before + CAST(COUNT(*) OVER (
               ORDER BY o.lat_s, o.event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS rank,
           lo.totn
    FROM obs o JOIN {tag}_loc lo ON o.bkt = lo.mb
  ) WHERE {den} * rank >= {num} * totn
)"""


_CONVERSION_LATENCY_SQL = f"""
WITH tagged AS (
  SELECT user_id, ts, event_id,
         event_type = 'purchase' AS is_p
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_type IN ('click', 'purchase')
), nxt AS (
  SELECT user_id, ts, event_id, is_p,
         MIN(CASE WHEN is_p THEN epoch_us(ts) END) OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS next_p_us
  FROM tagged
), lat AS (
  SELECT (next_p_us - epoch_us(ts)) // 1000000 AS lat_s, event_id
  FROM nxt
  WHERE NOT is_p AND next_p_us IS NOT NULL
    AND (next_p_us - epoch_us(ts)) // 1000000 >= 0
), obs AS (
  SELECT lat_s, event_id, lat_s // 3600 AS bkt FROM lat
), hist AS (
  SELECT bkt, CAST(COUNT(*) AS BIGINT) AS bn FROM obs GROUP BY 1
), cum AS (
  SELECT bkt, bn,
         CAST(SUM(bn) OVER (ORDER BY bkt
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS BIGINT) AS cumn,
         CAST(SUM(bn) OVER () AS BIGINT) AS totn
  FROM hist
), {_conversion_cut_sql(1, 2, "p50_s")},
{_conversion_cut_sql(9, 10, "p90_s")},
{_conversion_cut_sql(99, 100, "p99_s")},
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_conversions FROM lat)
SELECT n.n_conversions, p50_s.p50_s, p90_s.p90_s, p99_s.p99_s
FROM n CROSS JOIN p50_s CROSS JOIN p90_s CROSS JOIN p99_s
"""


# ---------------------------------------------------------------------------
# round-8 session 1h: dedup-rate observability, basket-size histogram
# ---------------------------------------------------------------------------


def doc_dedup_rate_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source duplication dashboard (round 8): docs, distinct
    content fingerprints, duplicate rate in ppm, and the largest
    identity-group size — the observability row a curation pipeline
    publishes per ingest source so a crawler regression (one feed
    suddenly 80% dups) pages someone BEFORE the dedup bill arrives.
    Uses the same content fingerprint as the exact-dedup tier, so the
    numbers reconcile with doc_exact_dedup's survivors.

    Scale: one (source, fp) combine then one source rollup — the
    two-exchange inverted-index shape on hashes, never text."""
    from ..functions.text import fingerprint

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isNotNull()
    )
    per_fp = docs.select(
        "source", fingerprint("text").alias("fp")
    ).groupBy("source", "fp").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return per_fp.groupBy("source").agg(
        F.sum("n").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.expr(
            "1000000 * (sum(n) - count(1)) DIV sum(n)"
        ).alias("dup_ppm"),
        F.max("n").alias("max_group"),
    )


_DEDUP_RATE_SQL = f"""
WITH per_fp AS (
  SELECT source, md5({_NORM_SQL}) AS fp,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM documents WHERE source IS NOT NULL
  GROUP BY 1, 2
)
SELECT source,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       CAST(1000000 * (SUM(n) - COUNT(*)) // SUM(n) AS BIGINT)
         AS dup_ppm,
       CAST(MAX(n) AS BIGINT) AS max_group
FROM per_fp GROUP BY 1
"""


def order_basket_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Basket-size distribution (round 8): how many orders contain k
    distinct parts, with the share in ppm — the shape parameter
    behind every market-basket threshold choice (pair mining cost is
    Σ C(k,2); THIS histogram says what that sum is). Two combines:
    per-order distinct-part count, then the k rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    sizes = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    return sizes.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    ).select(
        "k",
        "n_orders",
        F.expr(
            "1000000 * n_orders DIV sum(n_orders) OVER ()"
        ).alias("share_ppm"),
        (F.col("n_orders") * F.col("k") * (F.col("k") - 1) / 2)
        .cast("long")
        .alias("pair_cost"),
    )


_BASKET_HIST_SQL = """
WITH sizes AS (
  SELECT l_orderkey, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS k
  FROM lineitem GROUP BY 1
), hist AS (
  SELECT k, CAST(COUNT(*) AS BIGINT) AS n_orders FROM sizes GROUP BY 1
)
SELECT k, n_orders,
       CAST(1000000 * n_orders // SUM(n_orders) OVER () AS BIGINT)
         AS share_ppm,
       CAST(n_orders * k * (k - 1) // 2 AS BIGINT) AS pair_cost
FROM hist
"""


QUERIES: dict[str, tuple[QueryFn, str | None]] = {
    "event_value_ohlc": (event_value_ohlc, _OHLC_SQL),
    "stream_hourly_ohlc": (stream_hourly_ohlc, _STREAM_OHLC_SQL),
    "referential_integrity_audit": (
        referential_integrity_audit,
        _RI_AUDIT_SQL,
    ),
    "customer_rfm_segments": (customer_rfm_segments, _RFM_SQL),
    "part_copurchase_lift": (part_copurchase_lift, _COPURCHASE_LIFT_SQL),
    "open_orders_daily": (open_orders_daily, _OPEN_ORDERS_SQL),
    "bot_regularity_score": (bot_regularity_score, _BOT_REGULARITY_SQL),
    "copurchase_link_prediction": (
        copurchase_link_prediction,
        _LINK_PREDICTION_SQL,
    ),
    "ann_recall_audit": (ann_recall_audit, _ann_recall_sql()),
    "doc_gibberish_filter": (doc_gibberish_filter, _GIBBERISH_SQL),
    "token_burstiness": (token_burstiness, _BURSTINESS_SQL),
    "orders_priority_drift": (orders_priority_drift, _PRIORITY_DRIFT_SQL),
    "event_type_percentiles": (
        event_type_percentiles,
        _TYPE_PERCENTILES_SQL,
    ),
    "part_supplier_hhi": (part_supplier_hhi, _PART_HHI_SQL),
    "quantile_normalize_quality": (
        quantile_normalize_quality,
        _quantile_norm_sql(),
    ),
    "stream_click_purchase_left_join": (
        stream_click_purchase_left_join,
        _STREAM_LEFT_JOIN_SQL,
    ),
    "stream_click_purchase_right_join": (
        stream_click_purchase_right_join,
        _STREAM_RIGHT_JOIN_SQL,
    ),
    "stream_click_purchase_full_join": (
        stream_click_purchase_full_join,
        _STREAM_FULL_JOIN_SQL,
    ),
    "stream_click_purchase_semi_join": (
        stream_click_purchase_semi_join,
        _STREAM_SEMI_JOIN_SQL,
    ),
    "stream_click_purchase_anti_join": (
        stream_click_purchase_anti_join,
        _STREAM_ANTI_JOIN_SQL,
    ),
    "dedup_graph_degree_histogram": (
        dedup_graph_degree_histogram,
        _DEGREE_HIST_SQL,
    ),
    "order_fulfillment_latency": (
        order_fulfillment_latency,
        _FULFILLMENT_SQL,
    ),
    "phrase_search": (phrase_search, _PHRASE_SEARCH_SQL),
    "session_coherent_sample": (
        session_coherent_sample,
        _SESSION_SAMPLE_SQL,
    ),
    "user_churn_labels": (user_churn_labels, _CHURN_SQL),
    "mmr_diverse_topk": (mmr_diverse_topk, _MMR_SQL),
    "discount_quantity_regression": (
        discount_quantity_regression,
        _REGRESSION_SQL,
    ),
    "copurchase_clustering_coefficient": (
        copurchase_clustering_coefficient,
        _CLUSTERING_COEFF_SQL,
    ),
    "orders_seasonality_dow": (
        orders_seasonality_dow,
        _SEASONALITY_DOW_SQL,
    ),
    "daily_revenue_rolling_7d": (
        daily_revenue_rolling_7d,
        _ROLLING_7D_SQL,
    ),
    "conversion_latency_quantiles": (
        conversion_latency_quantiles,
        _CONVERSION_LATENCY_SQL,
    ),
    "doc_dedup_rate_by_source": (
        doc_dedup_rate_by_source,
        _DEDUP_RATE_SQL,
    ),
    "order_basket_size_histogram": (
        order_basket_size_histogram,
        _BASKET_HIST_SQL,
    ),
}
