"""Time-series joins (as-of/range), grouping sets/pivot, sketches, subqueries, sampling."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..sources.files import (
    checkpoint_stage,
    ensure_parallelism,
    load_table,
)
from ._core import (
    QueryFn,
    _DISC_PRICE_CENTS_SQL,
    _SUM_DISC_PRICE_SQL,
    _cents,
    _dsum,
    dec_sum,
    disc_price_cents,
)
from ._northstar import (
    _COS_SQL,
    _HASH64_SQL,
    _SHINGLE_COMMON_CTES,
    _TOKS_SQL,
)


# ---------------------------------------------------------------------------
# time-series joins (as-of / range) + grouping sets / pivot / sketches
# ---------------------------------------------------------------------------


def asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event annotated with the user's latest order at
    or before the event time (union-merge plan: one shuffle on user_id,
    no inequality join — see operators/joins.py)."""
    from ..operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        "o_orderdate",
        "o_orderkey",
        "o_totalprice",
    )
    out = asof_join(
        ev,
        orders,
        on="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        right_cols=["o_orderkey", "o_totalprice"],
        tie_break="o_orderkey",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        # -1 sentinels for the no-prior-order case (NULL-free numeric
        # outputs vs the pandas oracle frame, see outer_join_order_coverage)
        F.coalesce("o_orderkey", F.lit(-1)).alias("last_orderkey"),
        F.coalesce("o_totalprice", F.lit(-1.0)).alias("last_totalprice"),
    )


_ASOF_SQL = """
SELECT e.event_id, e.user_id, e.ts,
       COALESCE(o.o_orderkey, -1) AS last_orderkey,
       COALESCE(o.o_totalprice, -1.0) AS last_totalprice
FROM events e LEFT JOIN LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders
  WHERE o_custkey = e.user_id AND o_orderdate <= e.ts
  ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1
) o ON TRUE
"""


def range_join_order_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: per order, the user's events within 1 day after
    placement (bucketized equi-join, see operators/joins.py).

    The fixtures put events in a ~1-month epoch disjoint from the
    1995-2001 order dates, so joining on raw ``o_orderdate`` is
    structurally empty (it was: 0 rows in every driver round — green
    but vacuous). Placement is therefore projected into the events
    epoch deterministically: anchor = min event day (a 1-row broadcast
    derived from the data, so fixture-regeneration drift can't
    re-vacuate the query), placed_at = anchor + (o_orderkey % 29)
    days. The range-join operator under test is unchanged."""
    from ..operators.joins import range_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    anchor = ev.agg(F.date_trunc("day", F.min("ts")).alias("anchor"))
    orders = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("user_id"), "o_orderkey")
        .crossJoin(F.broadcast(anchor))
        .withColumn(
            "placed_at",
            F.expr(
                "timestampadd(DAY, CAST(o_orderkey % 29 AS INT), anchor)"
            ),
        )
        .drop("anchor")
    )
    joined = range_join(
        ev,
        orders,
        on="user_id",
        left_ts="ts",
        right_start=F.col("placed_at"),
        right_end=F.col("placed_at") + F.expr("INTERVAL 1 DAY"),
        bucket="1 day",
    )
    return joined.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("n_events"),
        dec_sum("value").alias("sum_value"),
    )


_RANGE_JOIN_SQL = f"""
WITH anchor AS (
  SELECT date_trunc('day', min(ts)) AS a FROM events
), placed AS (
  SELECT o_orderkey, o_custkey,
         a + (o_orderkey % 29) * INTERVAL 1 DAY AS placed_at
  FROM orders CROSS JOIN anchor
)
SELECT o.o_orderkey,
       COUNT(*) AS n_events,
       {_dsum("e.value")} AS sum_value
FROM placed o
JOIN events e
  ON e.user_id = o.o_custkey
 AND e.ts >= o.placed_at
 AND e.ts < o.placed_at + INTERVAL 1 DAY
GROUP BY o.o_orderkey
"""


def grouping_sets_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((flag, status), (flag), ()) with
    grouping_id — finer-grained than rollup/cube (which the engine also
    has: rollup_lineitem_status / cube_order_status)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n"),
        dec_sum("l_quantity").alias("sum_qty"),
    )


_GROUPING_SETS_SQL = f"""
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag, l_linestatus) AS gid,
       COUNT(*) AS n,
       {_dsum("l_quantity")} AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


def pivot_status_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: quantity by returnflag × linestatus as columns (explicit
    value list ⇒ no extra distinct-values job at scale)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(dec_sum("l_quantity"))
        .withColumnRenamed("F", "qty_f")
        .withColumnRenamed("O", "qty_o")
    )


_PIVOT_SQL = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN l_linestatus = 'F'
                THEN CAST(round(l_quantity*100) AS BIGINT) END) AS DOUBLE) / 100.0
         AS qty_f,
       CAST(SUM(CASE WHEN l_linestatus = 'O'
                THEN CAST(round(l_quantity*100) AS BIGINT) END) AS DOUBLE) / 100.0
         AS qty_o
FROM lineitem
GROUP BY l_returnflag
"""


def approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate sketches per event_type — HLL++ distinct users and
    approximate quantiles — made ORACLE-CHECKABLE: the raw sketch
    outputs are engine-internal (no other engine reproduces them
    bit-for-bit), so the query emits the EXACT statistics plus boolean
    tolerance verdicts instead, and the DuckDB twin recomputes the
    exact side and asserts the verdicts are all TRUE. A sketch drifting
    outside its published error bound flips a boolean and hash-fails.

    Tolerances: HLL++ at rsd=0.02 gets a 4*rsd guard band (P(>4 sigma)
    ~ 6e-5, so the check is deterministic-in-practice across fixture
    regenerations; 3*rsd would flake ~0.3% per group per round).
    percentile_approx at accuracy=10000 guarantees rank error
    <= n/10000; the check brackets the returned value's true rank with
    eps = 2/10000 slack (the factor 2 absorbs the floor in the bound
    plus duplicate-value rank plateaus).

    Scale shape: both passes are map-side-combinable aggs onto ~5
    keys; the probe join broadcasts the 5-row sketch table back over
    the scan. Two scans of the fact table are inherent — the rank
    check is adaptive (probes depend on the sketch values)."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
        F.percentile_approx("value", [0.5, 0.9, 0.99], 10000).alias("_q"),
    )
    probes = ev.join(
        F.broadcast(agg.select("event_type", "_q")), "event_type"
    )
    rank_aggs = []
    for i in range(3):
        rank_aggs.append(
            F.sum((F.col("value") < F.col("_q")[i]).cast("long")).alias(f"lt{i}")
        )
        rank_aggs.append(
            F.sum((F.col("value") <= F.col("_q")[i]).cast("long")).alias(f"le{i}")
        )
    checks = probes.groupBy("event_type").agg(
        F.count("value").alias("n_vals"), *rank_aggs
    )
    eps = F.lit(2.0 / 10000)
    out = agg.join(F.broadcast(checks), "event_type")
    for i, p in enumerate([0.5, 0.9, 0.99]):
        frac_lt = F.col(f"lt{i}") / F.col("n_vals")
        frac_le = F.col(f"le{i}") / F.col("n_vals")
        out = out.withColumn(
            f"p{int(p * 100)}_ok",
            (frac_lt <= F.lit(p) + eps) & (frac_le >= F.lit(p) - eps),
        )
    return out.select(
        "event_type",
        F.col("n_vals").alias("n_rows"),
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= F.lit(4 * 0.02) * F.col("exact_users")
        ).alias("users_within_tol"),
        "p50_ok",
        "p90_ok",
        "p99_ok",
    )


#: The oracle recomputes only the exact side and asserts every
#: tolerance verdict TRUE — a sketch outside its error bound flips a
#: Spark-side boolean and the value hash diverges.
_APPROX_SKETCHES_SQL = """
SELECT event_type,
       COUNT(value) AS n_rows,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS users_within_tol,
       TRUE AS p50_ok,
       TRUE AS p90_ok,
       TRUE AS p99_ok
FROM events
GROUP BY event_type
"""


def exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of order totals per priority
    (single-pass grouped percentile; both engines use the classic
    (n-1)·p linear interpolation, so values hash-match)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", 0.5).alias("p50"),
        F.percentile("o_totalprice", 0.9).alias("p90"),
    )


_EXACT_QUANTILES_SQL = """
SELECT o_orderpriority,
       quantile_cont(o_totalprice, 0.5) AS p50,
       quantile_cont(o_totalprice, 0.9) AS p90
FROM orders
GROUP BY o_orderpriority
"""


def outer_join_order_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join: orders vs per-order lineitem rollup, keeping
    unmatched rows from both sides (coverage audit pattern). Shuffles
    both sides once on the key; dims-side NULLs flagged."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dec_sum("l_extendedprice").alias("line_total"),
        )
    )
    return orders.join(li, "o_orderkey", "full_outer").select(
        "o_orderkey",
        # NULL-free numeric outputs: a NULL int/double column round-trips
        # through the oracle's pandas frame as float64/NaN and can never
        # hash-match a typed NULL — the unmatched flag carries the NULL
        # semantics instead.
        F.coalesce("o_totalprice", F.lit(0.0)).alias("o_totalprice"),
        F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
        F.coalesce("line_total", F.lit(0.0)).alias("line_total"),
        (F.col("o_totalprice").isNull() | F.col("n_lines").isNull()).alias(
            "unmatched"
        ),
    )


_OUTER_JOIN_SQL = f"""
SELECT COALESCE(o.o_orderkey, l.o_orderkey) AS o_orderkey,
       COALESCE(o.o_totalprice, 0.0) AS o_totalprice,
       COALESCE(l.n_lines, 0) AS n_lines,
       COALESCE(l.line_total, 0.0) AS line_total,
       (o.o_totalprice IS NULL OR l.n_lines IS NULL) AS unmatched
FROM orders o
FULL OUTER JOIN (
  SELECT l_orderkey AS o_orderkey,
         COUNT(*) AS n_lines,
         {_dsum("l_extendedprice")} AS line_total
  FROM lineitem GROUP BY l_orderkey
) l USING (o_orderkey)
"""


def price_lag_lead_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic windows: per-part shipments with lag/lead prices and a
    trailing-30-day RANGE frame average (event-time range frames — the
    window feature set the reference imported but never used,
    temDataRead.py:6)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        "l_extendedprice",
        F.unix_timestamp("l_shipdate").alias("ship_epoch"),
    )
    order_w = Window.partitionBy("l_partkey").orderBy(
        "ship_epoch", "l_orderkey", "l_linenumber"
    )
    range_w = (
        Window.partitionBy("l_partkey")
        .orderBy("ship_epoch")
        .rangeBetween(-30 * 86400, 0)
    )
    return li.select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        # -1.0 sentinel instead of NULL at partition edges (see
        # outer_join_order_coverage on NULL vs the pandas oracle frame)
        F.coalesce(F.lag("l_extendedprice").over(order_w), F.lit(-1.0)).alias(
            "prev_price"
        ),
        F.coalesce(F.lead("l_extendedprice").over(order_w), F.lit(-1.0)).alias(
            "next_price"
        ),
        (
            F.sum(_cents("l_extendedprice")).over(range_w).cast("double")
            / (100.0 * F.count(F.lit(1)).over(range_w))
        ).alias("avg_30d"),
    )


_LAG_LEAD_SQL = """
SELECT l_partkey, l_orderkey, l_linenumber, l_extendedprice,
       COALESCE(LAG(l_extendedprice) OVER w, -1.0) AS prev_price,
       COALESCE(LEAD(l_extendedprice) OVER w, -1.0) AS next_price,
       CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) OVER r AS DOUBLE)
         / (100.0 * COUNT(*) OVER r) AS avg_30d
FROM lineitem
WINDOW w AS (PARTITION BY l_partkey
             ORDER BY epoch(l_shipdate), l_orderkey, l_linenumber),
       r AS (PARTITION BY l_partkey ORDER BY epoch(l_shipdate)
             RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
"""


def sql_interface_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL front-end: TPC-H-Q3-style shipping priority
    written as a SQL string over registered views — same Catalyst plan
    as the DataFrame API, proving both entry points share one engine."""
    from ..sources.files import load_tables

    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(f"sql_{name}")
    return spark.sql(
        """
        SELECT l.l_orderkey,
               CAST(SUM(CAST(round(l.l_extendedprice*100) AS BIGINT)
                        * (100 - CAST(round(l.l_discount*100) AS BIGINT)))
                    AS DOUBLE) / 10000.0 AS revenue,
               o.o_orderdate
        FROM sql_customer c
        JOIN sql_orders o ON c.c_custkey = o.o_custkey
        JOIN sql_lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1995-03-15'
          AND l.l_shipdate > TIMESTAMP '1995-03-15'
        GROUP BY l.l_orderkey, o.o_orderdate
        """
    )


_SQL_Q3_SQL = f"""
SELECT l.l_orderkey,
       {_SUM_DISC_PRICE_SQL} AS revenue,
       o.o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-03-15'
  AND l.l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l.l_orderkey, o.o_orderdate
"""


def salted_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (explicit skew mitigation): revenue
    per customer where a hot customer's rows spread over 16 reducers
    before the tiny partial rows merge. Exact — salting moves partial
    computation, never results; the oracle is the plain GROUP BY."""
    from ..operators.skew import salted_agg

    orders = load_table(spark, sf_dir, "orders")
    out = salted_agg(
        orders,
        keys=["o_custkey"],
        sums={
            "n_orders": F.count(F.lit(1)).cast("long"),
            "revenue_cents": F.sum(_cents("o_totalprice")),
        },
        n_salts=16,
    )
    return out.select(
        "o_custkey",
        F.col("n_orders").cast("long").alias("n_orders"),
        (F.col("revenue_cents").cast("double") / 100.0).alias("revenue"),
    )


_SALTED_REVENUE_SQL = f"""
SELECT o_custkey,
       COUNT(*) AS n_orders,
       {_dsum("o_totalprice")} AS revenue
FROM orders
GROUP BY o_custkey
"""


def auto_salted_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-salted aggregation (r7): per-event-type stats where
    ``n_salts`` is CHOSEN from the measured hot-key share
    (`operators.skew.auto_salt_agg` → `choose_n_salts`) instead of
    hard-coded — the wiring between the skew diagnostic
    (key_skew_report's shape) and the salting fix (salted_agg).
    ``events`` has ~5 event types over the whole table, so the hottest
    type genuinely overflows a mean reduce task and the decision rule
    fires (the uniform-key case, where it must NOT fire, is pinned by
    tests/test_skew.py). Exact: salting moves partial computation,
    never results — the oracle is the plain GROUP BY; cents-grid sum
    keeps the two-phase double addition order-exact."""
    from ..operators.skew import auto_salt_agg

    events = load_table(spark, sf_dir, "events")
    out = auto_salt_agg(
        events.select("event_type", "value"),
        keys=["event_type"],
        sums={
            "n_events": F.count(F.lit(1)).cast("long"),
            "value_cents": F.sum(_cents("value")),
        },
    )
    return out.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        (F.col("value_cents").cast("double") / 100.0).alias("value_sum"),
    )


_AUTO_SALTED_SQL = f"""
SELECT event_type,
       COUNT(*) AS n_events,
       {_dsum("value")} AS value_sum
FROM events
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# subqueries, conditional aggregation, analytics windows, sampling
# ---------------------------------------------------------------------------


def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17-style scalar correlated subquery: yearly revenue lost
    if small-quantity orders (below 20% of the part's average quantity)
    stopped shipping, for one brand. Decorrelated the way Catalyst
    itself would: the per-part average becomes a grouped aggregate
    joined back on the correlation key — one shuffle on l_partkey
    instead of a per-row subquery. The 0.2·avg comparison is done in
    integer-cent cross-multiplied form (qty·5·n < Σqty) so the boundary
    is exact in both engines — no float-threshold flakiness."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(_cents("l_quantity")).alias("qty_cents_sum"),
        F.count("l_quantity").alias("qty_n"),
    )
    brand = part.filter(F.col("p_brand") == "Brand#23").select("p_partkey")
    return (
        li.join(F.broadcast(brand), li["l_partkey"] == brand["p_partkey"])
        .join(per_part, "l_partkey")
        .filter(
            _cents("l_quantity") * F.lit(5) * F.col("qty_n")
            < F.col("qty_cents_sum")
        )
        .agg(
            (dec_sum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"),
            F.count(F.lit(1)).cast("long").alias("n_small"),
        )
    )


_SMALL_QTY_SQL = f"""
SELECT {_dsum("l.l_extendedprice")} / 7.0 AS avg_yearly,
       COUNT(*) AS n_small
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#23'
  AND CAST(round(l.l_quantity*100) AS BIGINT) * 5
      * (SELECT COUNT(l2.l_quantity) FROM lineitem l2
         WHERE l2.l_partkey = l.l_partkey)
      < (SELECT SUM(CAST(round(l2.l_quantity*100) AS BIGINT))
         FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
"""


def exists_high_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS through the SQL front-end (TPC-H-Q4 shape):
    orders per priority having at least one near-max-quantity lineitem.
    Catalyst rewrites the EXISTS into a left-semi hash join — the same
    physical plan `customers_with_orders` builds via the DataFrame API,
    proving the two front-ends converge."""
    from ..sources.files import load_tables

    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(f"sql_{name}")
    return spark.sql(
        """
        SELECT o.o_orderpriority, COUNT(*) AS n_orders
        FROM sql_orders o
        WHERE EXISTS (SELECT 1 FROM sql_lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_quantity >= 49)
        GROUP BY o.o_orderpriority
        """
    )


_EXISTS_SQL = """
SELECT o.o_orderpriority, COUNT(*) AS n_orders
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
GROUP BY o.o_orderpriority
"""


def conditional_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation: one pass over orders computing
    per-priority counts and sums restricted by independent predicates
    (`count_if`/`sum(CASE …)`). The scale property: N conditional
    metrics cost one scan + one shuffle, not N queries."""
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_totalprice") > 250000.0
    return orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.count(F.when(F.col("o_orderstatus") == "F", F.lit(1)))
        .cast("long")
        .alias("n_finished"),
        F.count(F.when(high, F.lit(1))).cast("long").alias("n_high_value"),
        (F.sum(F.when(high, _cents("o_totalprice"))).cast("double") / 100.0).alias(
            "high_value_revenue"
        ),
    )


_CONDITIONAL_AGG_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished,
       COUNT(CASE WHEN o_totalprice > 250000.0 THEN 1 END) AS n_high_value,
       CAST(SUM(CASE WHEN o_totalprice > 250000.0
                THEN CAST(round(o_totalprice*100) AS BIGINT) END) AS DOUBLE)
           / 100.0 AS high_value_revenue
FROM orders
GROUP BY o_orderpriority
"""


def doc_word_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-generating projection (`posexplode`): one row per (word,
    position) for a deterministic document slice — the lateral-view /
    UNNEST WITH ORDINALITY shape. Narrow (no shuffle): generation
    happens inside the scan stage."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("doc_id") % 20 == 0)
        .select(
            "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "word")
        )
        .select("doc_id", (F.col("pos") + 1).alias("pos"), "word")
        .filter(F.col("pos") <= 8)
    )


_WORD_POSITIONS_SQL = """
SELECT doc_id, pos, word FROM (
  SELECT doc_id,
         generate_subscripts(string_split(text, ' '), 1) AS pos,
         unnest(string_split(text, ' ')) AS word
  FROM documents
  WHERE doc_id % 20 = 0
) WHERE pos <= 8
"""


def order_price_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution analytics in one window pass: quartile bucket
    (ntile), percent_rank, cume_dist, and positional values
    (first/last/nth over the full frame) of order price within each
    priority class. Ordering is (price, orderkey) — a total order, so
    every function is deterministic under ties."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first("o_totalprice").over(wf).alias("cheapest"),
        F.last("o_totalprice").over(wf).alias("priciest"),
        F.nth_value("o_totalprice", 2).over(wf).alias("second_cheapest"),
    )


_PRICE_DISTRIBUTION_SQL = """
SELECT o_orderkey, o_orderpriority, o_totalprice,
       ntile(4) OVER w AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       first_value(o_totalprice) OVER wf AS cheapest,
       last_value(o_totalprice) OVER wf AS priciest,
       nth_value(o_totalprice, 2) OVER wf AS second_cheapest
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey),
       wf AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def systematic_sample_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 1-in-37 systematic sample (key-modulo, reproducible
    across engines and runs — unlike seeded Bernoulli sampling) with the
    Horvitz-Thompson scale-up of the sampled revenue. The sampling
    predicate is pushed into the scan; at 100 TB this is how you cheaply
    estimate an aggregate before paying for the exact run."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_orderkey") % 37 == 0)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sampled"),
            dec_sum("l_extendedprice").alias("sampled_revenue"),
            (dec_sum("l_extendedprice") * F.lit(37.0)).alias("est_total_revenue"),
        )
    )


_SYSTEMATIC_SAMPLE_SQL = f"""
SELECT COUNT(*) AS n_sampled,
       {_dsum("l_extendedprice")} AS sampled_revenue,
       {_dsum("l_extendedprice")} * 37.0 AS est_total_revenue
FROM lineitem
WHERE l_orderkey % 37 = 0
"""


def doc_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar functions over text: first-token extraction
    (regexp_extract with a capture group) and global substitution
    (regexp_replace), both JVM-side inside the scan stage — the pattern
    every log/text-normalization pipeline starts from."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_extract(F.col("text"), "([a-z]+)", 1).alias("first_token"),
        F.substring(
            F.regexp_replace(F.col("text"), "[aeiou]", "_"), 1, 40
        ).alias("devoweled_prefix"),
        F.length(F.regexp_replace(F.col("text"), "[^ ]", "")).alias("n_spaces"),
    )


_REGEX_EXTRACT_SQL = """
SELECT doc_id,
       regexp_extract(text, '([a-z]+)', 1) AS first_token,
       substr(regexp_replace(text, '[aeiou]', '_', 'g'), 1, 40)
           AS devoweled_prefix,
       length(regexp_replace(text, '[^ ]', '', 'g')) AS n_spaces
FROM documents
"""


def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar array analytics over the embedding vectors: dimension,
    component extrema, component sum (left-fold, bit-matched to
    DuckDB's list_dot_product against a ones vector) and L2 norm — all
    pure column expressions, zero Python, zero shuffle."""
    from ..operators.similarity import dot, norm

    emb = load_table(spark, sf_dir, "embeddings")
    ones = F.transform(F.col("embedding"), lambda x: F.lit(1.0))
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.array_min("embedding").cast("double").alias("comp_min"),
        F.array_max("embedding").cast("double").alias("comp_max"),
        dot(F.col("embedding"), ones).alias("comp_sum"),
        norm(F.col("embedding")).alias("l2_norm"),
    )


_EMBEDDING_STATS_SQL = """
SELECT vec_id,
       len(embedding) AS dim,
       list_min(embedding)::DOUBLE AS comp_min,
       list_max(embedding)::DOUBLE AS comp_max,
       list_dot_product(embedding::DOUBLE[],
                        list_transform(embedding, x -> 1.0)::DOUBLE[])
           AS comp_sum,
       sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS l2_norm
FROM embeddings
"""


def embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outlier report: each vector's cosine to its
    label's mean direction, ranked so the 5 farthest-from-centroid
    vectors per label are flagged — the embedding-space mislabeled-
    sample / contamination probe (a vector pointing away from its
    class centroid is a labeling error or an off-distribution doc).

    Exactness: per-label centroid sums ride the 1e-9 integer grid
    (the kmeans_fit convention — order-independent long sums, so the
    centroid is bit-reproducible across partitionings AND engines),
    then ONE division sequence (sum/1e9)/n per component and the
    shared left-fold dot product. Ranking orders ASC NULLS FIRST in
    both engines (a zero vector's cosine is NULL and outranks every
    real outlier).

    Scale: one map-side-combined 64-long-accumulator agg to |labels|
    rows, centroids broadcast back (labels are bounded), cosine is a
    codegen'd fold per row, and the per-label rank window shuffles on
    label — no all-pairs anything."""
    from ..operators.similarity import cosine

    dim = 64  # embeddings fixture dimension (TESTDATA.md)
    emb = ensure_parallelism(load_table(spark, sf_dir, "embeddings"))
    sums = emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        *[
            F.sum(
                F.floor(
                    F.element_at("embedding", i + 1).cast("double") * 1e9 + 0.5
                ).cast("long")
            ).alias(f"s{i}")
            for i in range(dim)
        ],
    )
    centroid = sums.select(
        "label",
        "n_vecs",
        F.array(
            *[(F.col(f"s{i}") / F.lit(1e9)) / F.col("n_vecs") for i in range(dim)]
        ).alias("cvec"),
    )
    scored = emb.join(F.broadcast(centroid), "label").select(
        "vec_id",
        "label",
        cosine(F.col("embedding"), F.col("cvec")).alias("cos_centroid"),
    )
    w = Window.partitionBy("label").orderBy(
        F.col("cos_centroid").asc_nulls_first(), F.col("vec_id").asc()
    )
    return scored.withColumn(
        "outlier_rank", F.row_number().over(w).cast("long")
    ).withColumn("is_outlier", F.col("outlier_rank") <= 5)


_LABEL_OUTLIERS_SQL = f"""
WITH s AS (
  SELECT label, COUNT(*) AS n_vecs,
         {", ".join(
             f"SUM(CAST(floor(CAST(embedding[{i + 1}] AS DOUBLE)"
             f" * 1000000000.0 + 0.5) AS BIGINT)) AS s{i}"
             for i in range(64)
         )}
  FROM embeddings GROUP BY label
), c AS (
  SELECT label,
         [{", ".join(
             f"(CAST(s{i} AS DOUBLE) / 1000000000.0) / n_vecs"
             for i in range(64)
         )}] AS cvec
  FROM s
), scored AS (
  SELECT e.vec_id, e.label,
         {_COS_SQL.format(a='e.embedding', b='c.cvec')} AS cos_centroid
  FROM embeddings e JOIN c USING (label)
)
SELECT vec_id, label, cos_centroid,
       CAST(row_number() OVER (
         PARTITION BY label
         ORDER BY cos_centroid ASC NULLS FIRST, vec_id ASC
       ) AS BIGINT) AS outlier_rank,
       row_number() OVER (
         PARTITION BY label
         ORDER BY cos_centroid ASC NULLS FIRST, vec_id ASC
       ) <= 5 AS is_outlier
FROM scored
"""


def dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING end-to-end: MinHash-LSH pairs → distributed
    connected components (min-label propagation) → per-doc cluster id /
    size / canonical flag. The oracle recomputes the transitive closure
    with a recursive CTE over exact-Jaccard pairs — so this gate checks
    the whole stack: LSH recall, exact verification, AND the iterative
    component algorithm, value-for-value."""
    from ..operators.dedup import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    return dedup_clusters(docs, threshold=0.6)


#: Exact-Jaccard pair CTEs (3-gram shingles, threshold 0.6) — the
#: ground-truth near-dup pair relation. Shared by the CC chain below
#: and the dedup-graph degree-histogram oracle.
_JACCARD_PAIR_CTES = f"""{_SHINGLE_COMMON_CTES}, pairs AS (
  SELECT doc_a, doc_b
  FROM common
  JOIN sizes sa ON doc_a = sa.doc_id
  JOIN sizes sb ON doc_b = sb.doc_id
  WHERE c / (sa.n + sb.n - c) >= 0.6
)"""

#: Shared connected-component CTE chain (exact-Jaccard pairs at 0.6 →
#: recursive transitive closure → per-doc cluster id + size). Used by
#: the dedup_clusters oracle and extended by doc_near_dedup_keep_best.
_CC_CTES = f"""{_JACCARD_PAIR_CTES}, edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
), reach(node, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT w.node, e.b FROM reach w JOIN edges e ON w.r = e.a
), comp AS (
  SELECT node AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY node
), csize AS (
  SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id
)"""

_DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_CC_CTES}
SELECT c.doc_id, c.cluster_id, s.cluster_size,
       c.doc_id = c.cluster_id AS is_canonical
FROM comp c JOIN csize s USING (cluster_id)
"""


def _bucket_split(bucket: Column) -> Column:
    """The shared 98/1/1 bucket→split rule (train < 980 ≤ val < 990 ≤
    test over a 0..999 bucket) used by BOTH leakage-safe splits —
    one definition so the thresholds cannot drift apart."""
    return (
        F.when(bucket < 980, "train")
        .when(bucket < 990, "val")
        .otherwise("test")
    )


def cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup-safe train/val/test split (r7): the split hash runs
    over the near-dup CLUSTER id, not the content fingerprint — so not
    just verbatim copies but paraphrases/near-duplicates (Jaccard ≥
    0.6 under MinHash-LSH + exact verify + connected components) can
    never straddle train and eval. This is the variant
    doc_leakage_safe_split's docstring promises: fingerprint-hash
    splitting stops exact-copy leakage; cluster-hash splitting stops
    the near-dup leakage that actually inflates eval scores.

    Scale: inherits dedup_clusters' bucketed shape (collapse → LSH →
    verify → CC over paired docs only); the split itself adds one
    codegen'd hash per row — no new shuffle. Same 98/1/1 bucket split
    as the fingerprint variant."""
    from ..operators.dedup import dedup_clusters
    from ..functions.text import md5_hash64

    docs = load_table(spark, sf_dir, "documents")
    cl = dedup_clusters(docs, threshold=0.6).select("doc_id", "cluster_id")
    bucket = F.pmod(
        md5_hash64(F.col("cluster_id").cast("string")), F.lit(1000)
    )
    return cl.select(
        "doc_id",
        "cluster_id",
        bucket.alias("split_bucket"),
        _bucket_split(bucket).alias("split"),
    )


_CLUSTER_SPLIT_SQL = f"""
WITH RECURSIVE {_CC_CTES}
SELECT doc_id, cluster_id, b AS split_bucket,
       CASE WHEN b < 980 THEN 'train'
            WHEN b < 990 THEN 'val'
            ELSE 'test' END AS split
FROM (SELECT doc_id, cluster_id,
             {_HASH64_SQL.format(x="CAST(cluster_id AS VARCHAR)")} % 1000 AS b
      FROM comp)
"""


def customer_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13 shape: distribution of per-customer order counts,
    including zero-order customers (left outer join with a join-side
    predicate, then two cascaded aggregations). Scale notes: the outer
    join shuffles both sides on custkey once; the second aggregate
    (histogram over ~|customers| rows grouped by a tiny-cardinality
    key) is map-side-combined to near-nothing before its exchange."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


_CUSTOMER_ORDER_HIST_SQL = """
SELECT c_count, COUNT(*) AS n_customers
FROM (SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey) per_cust
GROUP BY c_count
"""


def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15 shape: supplier(s) achieving the maximum quarterly
    revenue. The scalar MAX subquery is decorrelated to a 1-row
    aggregate broadcast back against the per-supplier revenue — the
    100 TB plan is one shuffle (supplier agg) + two broadcasts, and the
    equality compare happens on the exact integer-cent grid so
    "equals the max" is not float-sensitive."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-01-01") & (F.col("l_shipdate") < "1995-04-01")
    )
    sup = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(disc_price_cents()).alias("rev_grid")
    )
    mx = rev.agg(F.max("rev_grid").alias("max_grid"))
    return (
        rev.join(F.broadcast(mx), rev["rev_grid"] == mx["max_grid"])
        .join(F.broadcast(sup), rev["l_suppkey"] == sup["s_suppkey"])
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_grid").cast("double") / F.lit(10000.0)).alias(
                "total_revenue"
            ),
        )
    )


_TOP_SUPPLIER_SQL = f"""
WITH rev AS (
  SELECT l_suppkey, SUM({_DISC_PRICE_CENTS_SQL}) AS rev_grid
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
    AND l_shipdate < TIMESTAMP '1995-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name,
       CAST(rev_grid AS DOUBLE) / 10000.0 AS total_revenue
FROM rev JOIN supplier s ON s.s_suppkey = rev.l_suppkey
WHERE rev_grid = (SELECT MAX(rev_grid) FROM rev)
"""


def large_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18 shape: orders whose total lineitem quantity exceeds a
    threshold (GROUP BY + HAVING as an IN-subquery in SQL), joined back
    to orders and customer. The heavy aggregate groups on l_orderkey —
    the same key lineitem would be bucketed by at rest, so with
    bucketed storage (storage.write_bucketed) this plan runs
    shuffle-free up to the final small join."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_cents("l_quantity")).alias("qty_grid"))
        .filter(F.col("qty_grid") > 300 * 100)
    )
    return (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            (F.col("qty_grid").cast("double") / F.lit(100.0)).alias("total_qty"),
        )
    )


_LARGE_ORDERS_SQL = """
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       CAST(big.qty_grid AS DOUBLE) / 100.0 AS total_qty
FROM (SELECT l_orderkey,
             SUM(CAST(round(l_quantity*100) AS BIGINT)) AS qty_grid
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(round(l_quantity*100) AS BIGINT)) > 30000) big
JOIN orders o ON o.o_orderkey = big.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
"""


def nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7 shape: bilateral trade volume between customer-nation
    and supplier-nation pairs by ship year. The same tiny nation dim is
    broadcast twice under two aliases (cust side, supp side) — zero
    extra shuffles beyond the lineitem⋈orders and ⋈customer exchanges;
    at 100 TB the fact-fact joins shuffle on their natural keys and
    every dimension stays broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    cn = nat.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = nat.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    flows = (
        li.filter(
            (F.col("l_shipdate") >= "1995-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        )
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
    )
    return (
        flows.filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy(
            "cust_nation",
            "supp_nation",
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(
            (F.sum(disc_price_cents()).cast("double") / F.lit(10000.0)).alias(
                "volume"
            ),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


_NATION_TRADE_SQL = f"""
SELECT cn.n_name AS cust_nation,
       sn.n_name AS supp_nation,
       CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS ship_year,
       CAST(SUM({_DISC_PRICE_CENTS_SQL.replace('l_extendedprice', 'l.l_extendedprice').replace('l_discount', 'l.l_discount')}) AS DOUBLE) / 10000.0 AS volume,
       COUNT(*) AS n_lineitems
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation cn ON cn.n_nationkey = c.c_nationkey
JOIN nation sn ON sn.n_nationkey = s.s_nationkey
WHERE l.l_shipdate >= TIMESTAMP '1995-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-01-01'
  AND cn.n_name <> sn.n_name
GROUP BY 1, 2, 3
"""


def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22 shape: customers with above-average positive account
    balance and no RECENT orders (none since 2000-06-01 — every fixture
    customer has *some* order, so an unfiltered anti-join would be the
    degenerate empty set), grouped by nation. The scalar AVG subquery
    becomes a 1-row aggregate cross-broadcast; the compare is
    cross-multiplied onto the integer-cent grid (bal·n > Σbal) so the
    threshold is exact in both engines; the NOT-EXISTS is a left-anti
    join shuffling only the (narrow) recent-orders key column — the
    date filter is pushed to the orders scan, so at 100 TB the anti
    side is a small fraction of the orders table."""
    cust = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2000-06-01")
        .select("o_custkey")
    )
    pos = cust.filter(F.col("c_acctbal") > 0.0)
    avg_row = pos.agg(
        F.sum(_cents("c_acctbal")).alias("bal_grid_sum"),
        F.count(F.lit(1)).alias("bal_n"),
    )
    return (
        cust.crossJoin(F.broadcast(avg_row))
        .filter(_cents("c_acctbal") * F.col("bal_n") > F.col("bal_grid_sum"))
        .join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dec_sum("c_acctbal").alias("total_bal"),
        )
    )


_IDLE_RICH_SQL = f"""
SELECT c_nationkey, COUNT(*) AS n_customers,
       {_dsum("c_acctbal")} AS total_bal
FROM customer c
WHERE CAST(round(c.c_acctbal*100) AS BIGINT)
      * (SELECT COUNT(*) FROM customer p WHERE p.c_acctbal > 0)
      > (SELECT SUM(CAST(round(p.c_acctbal*100) AS BIGINT))
         FROM customer p WHERE p.c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '2000-06-01')
GROUP BY c_nationkey
"""


def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14 shape: promo revenue share for one ship month as a
    single global scalar — conditional sum over a fact⋈dim join,
    divided map-side-aggregated sums. The month filter is pushed to the
    lineitem scan (at 100 TB with shipdate partitioning this prunes to
    ~1/80th of the table); part is broadcast so the only exchange is
    the single-row final aggregate. Sums stay on the integer-cent grid
    until one final double division, so both engines divide identical
    integers."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1995-09-01")
        & (F.col("l_shipdate") < "1995-10-01")
    )
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .agg(
            (
                F.sum(
                    F.when(F.col("p_type") == "PROMO", disc_price_cents())
                    .otherwise(F.lit(0).cast("long"))
                ).cast("double")
                * F.lit(100.0)
                / F.sum(disc_price_cents()).cast("double")
            ).alias("promo_share_pct"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


_PROMO_SHARE_SQL = f"""
SELECT CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                     THEN {_DISC_PRICE_CENTS_SQL} ELSE 0 END) AS DOUBLE)
       * 100.0
       / CAST(SUM({_DISC_PRICE_CENTS_SQL}) AS DOUBLE) AS promo_share_pct,
       COUNT(*) AS n_lineitems
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1995-09-01'
  AND l.l_shipdate < TIMESTAMP '1995-10-01'
"""


def disjunctive_predicate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19 shape: revenue under an OR-of-ANDs predicate mixing
    fact (l_quantity) and dim (p_brand, p_size) columns. Catalyst
    factors the common conjuncts OUT of the disjunction (CNF
    conversion), so the p_size/p_brand half pushes to the broadcast
    part scan and the l_quantity bounds push to the lineitem scan —
    at 100 TB the disjunction prunes BOTH sides before the join
    instead of filtering post-join. Quantity bounds compare on the
    integer-cent grid so the boundary rows agree across engines; the
    grid expression itself isn't scan-pushable (round+cast), so a
    WIDENED raw-column range implied by the grid bounds is added
    redundantly — it reaches PushedFilters and prunes row groups while
    the exact grid predicate decides the boundary rows."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") >= 0.99) & (F.col("l_quantity") <= 30.01)
    )
    part = load_table(spark, sf_dir, "part")
    q = _cents("l_quantity")
    j = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    cond = (
        (F.col("p_brand") == "Brand#12")
        & (F.col("p_size").between(1, 15))
        & (q >= 100)
        & (q <= 1100)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & (F.col("p_size").between(1, 30))
        & (q >= 1000)
        & (q <= 2000)
    ) | (
        (F.col("p_brand") == "Brand#7")
        & (F.col("p_size").between(1, 50))
        & (q >= 2000)
        & (q <= 3000)
    )
    return j.filter(cond).agg(
        (F.sum(disc_price_cents()).cast("double") / F.lit(10000.0)).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


_DISJUNCTIVE_SQL = f"""
SELECT CAST(SUM({_DISC_PRICE_CENTS_SQL}) AS DOUBLE) / 10000.0 AS revenue,
       COUNT(*) AS n_lineitems
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_quantity >= 0.99 AND l.l_quantity <= 30.01
  AND ((p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
       AND CAST(round(l.l_quantity*100) AS BIGINT) BETWEEN 100 AND 1100)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 30
       AND CAST(round(l.l_quantity*100) AS BIGINT) BETWEEN 1000 AND 2000)
   OR (p.p_brand = 'Brand#7' AND p.p_size BETWEEN 1 AND 50
       AND CAST(round(l.l_quantity*100) AS BIGINT) BETWEEN 2000 AND 3000))
"""


def supplier_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q11 shape: suppliers whose revenue is >2% above the MEAN
    supplier revenue — a HAVING clause comparing each group's aggregate
    to a global scalar aggregate. (A fixed share-of-total cutoff would
    be degenerate here: supplier count scales with SF, so every
    supplier clears any small fixed share; the mean-relative threshold
    splits the population at every scale.) The global (total, count)
    re-aggregates the already-small per-supplier rollup and broadcasts
    one row; the compare cross-multiplies on the integer-cent grid
    (rev·n·50 > 51·total) so no division decides membership. The
    per-supplier rollup feeds BOTH the output rows and the global
    total; measured, neither static planning nor AQE reuses that
    exchange subtree (two full lineitem scans), so the rollup — tiny:
    one row per supplier — is explicitly cached, making the 100-TB
    lineitem scan happen exactly once.

    Overflow: the cross-multiply rev·n·50 would exceed int64 around
    sf≈60 (per-supplier rev_grid ~3e11 × 1e4·SF suppliers × 50), so
    the membership compare is done in DECIMAL(38,0) on both engines
    (max operand ~5e24 ≪ 1e38) — exact at any realistic SF, and both
    engines compare identical integers so the boundary agrees."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.sum(disc_price_cents()).alias("rev_grid"))
        # eager checkpoint (r13): the 1-row total below is a broadcast
        # build that races a lazy cache and re-runs the lineitem agg
        .transform(checkpoint_stage)
    )
    total = rev.agg(
        F.sum("rev_grid").alias("total_grid"),
        F.count(F.lit(1)).alias("n_sup"),
    )
    return (
        rev.crossJoin(F.broadcast(total))
        .filter(
            F.col("rev_grid").cast("decimal(38,0)")
            * F.col("n_sup").cast("decimal(38,0)")
            * F.lit(50)
            > F.lit(51) * F.col("total_grid").cast("decimal(38,0)")
        )
        .join(F.broadcast(sup), rev["l_suppkey"] == sup["s_suppkey"])
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_grid").cast("double") / F.lit(10000.0)).alias("revenue"),
            (
                F.col("rev_grid").cast("double")
                / F.col("total_grid").cast("double")
            ).alias("revenue_share"),
        )
    )


_SUPPLIER_SHARE_SQL = f"""
WITH rev AS (
  SELECT l_suppkey, SUM({_DISC_PRICE_CENTS_SQL}) AS rev_grid
  FROM lineitem GROUP BY l_suppkey
), tot AS (
  SELECT SUM(rev_grid) AS total_grid, COUNT(*) AS n_sup FROM rev
)
SELECT s.s_suppkey, s.s_name,
       CAST(rev_grid AS DOUBLE) / 10000.0 AS revenue,
       CAST(rev_grid AS DOUBLE) / CAST(total_grid AS DOUBLE) AS revenue_share
FROM rev CROSS JOIN tot
JOIN supplier s ON s.s_suppkey = rev.l_suppkey
WHERE CAST(rev_grid AS DECIMAL(38,0)) * CAST(n_sup AS DECIMAL(38,0)) * 50
      > 51 * CAST(total_grid AS DECIMAL(38,0))
"""


def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified corpus sampling — the language-rebalancing step of a
    training-data pipeline: per-language keep rates (en 80%, de/fr/es
    50%, others 30%) decided by a deterministic content hash
    (md5→int64 mod 100), never by rand(). Deterministic hashing makes
    the sample reproducible across runs/retries AND exactly
    re-computable by the oracle. The filter is a map-only codegen'd
    pass; the per-language summary shuffles once on the (tiny) lang
    key. At 100 TB the sample is taken WITHOUT materializing the kept
    set — downstream operators compose on the filtered plan."""
    from ..functions.text import md5_hash64

    docs = load_table(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("lang") == "en", F.lit(80))
        .when(F.col("lang").isin("de", "fr", "es"), F.lit(50))
        .otherwise(F.lit(30))
    )
    slot = (
        md5_hash64(
            F.concat_ws("|", F.col("lang"), F.col("doc_id").cast("string"))
        )
        % 100
    )
    totals = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    return (
        docs.filter(slot < rate)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_chars").alias("total_chars"),
        )
        .join(F.broadcast(totals), "lang")
        .withColumn(
            "observed_rate",
            F.col("n_kept").cast("double") / F.col("n_total").cast("double"),
        )
    )


_STRATIFIED_SAMPLE_SQL = f"""
WITH kept AS (
  SELECT * FROM documents
  WHERE {_HASH64_SQL.format(x="lang || '|' || CAST(doc_id AS VARCHAR)")} % 100
        < CASE WHEN lang = 'en' THEN 80
               WHEN lang IN ('de', 'fr', 'es') THEN 50
               ELSE 30 END
), tot AS (
  SELECT lang, COUNT(*) AS n_total FROM documents GROUP BY lang
)
SELECT k.lang, COUNT(*) AS n_kept,
       COUNT(DISTINCT k.source) AS n_sources,
       CAST(SUM(k.n_chars) AS BIGINT) AS total_chars,
       t.n_total,
       CAST(COUNT(*) AS DOUBLE) / CAST(t.n_total AS DOUBLE) AS observed_rate
FROM kept k JOIN tot t USING (lang)
GROUP BY k.lang, t.n_total
"""


def doc_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/RefinedWeb-style repetition quality filter: per-document
    duplicate-bigram/trigram fraction (higher-order array functions —
    map-only, no shuffle) joined with token-frequency stats
    (explode → two-level groupBy, shuffling once on doc_id) and a
    boolean keep flag at corpus-median thresholds. At 100 TB the HOF
    features are a codegen'd scan pass; the explode path shuffles
    (doc_id, token) pairs — cardinality ≈ corpus token count, the
    natural lower bound for exact term-frequency stats."""
    from ..functions.text import dup_ngram_frac_arr, tokens

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    base = docs.select("doc_id", tokens("text").alias("toks")).select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        dup_ngram_frac_arr("toks", 2).alias("dup_bigram_frac"),
        dup_ngram_frac_arr("toks", 3).alias("dup_trigram_frac"),
    )
    tf = (
        docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            (F.max("c").cast("double") / F.sum("c").cast("double")).alias(
                "top_token_frac"
            ),
            (F.count(F.lit(1)).cast("double") / F.sum("c").cast("double")).alias(
                "distinct_token_frac"
            ),
        )
    )
    return base.join(tf, "doc_id").withColumn(
        "keep",
        (F.col("dup_bigram_frac") <= 0.04) & (F.col("top_token_frac") <= 0.10),
    )


_DOC_REPETITION_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS w FROM documents
), grams AS (
  SELECT doc_id, w,
    CASE WHEN len(w) >= 2
         THEN list_transform(generate_series(1, len(w)-1),
                             i -> w[i] || ' ' || w[i+1])
         ELSE [] END AS g2,
    CASE WHEN len(w) >= 3
         THEN list_transform(generate_series(1, len(w)-2),
                             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
         ELSE [] END AS g3
  FROM toks
), feat AS (
  SELECT doc_id, len(w) AS n_tokens,
    CASE WHEN len(g2) > 0
         THEN 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE)
                    / CAST(len(g2) AS DOUBLE)
         ELSE 0.0 END AS dup_bigram_frac,
    CASE WHEN len(g3) > 0
         THEN 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE)
                    / CAST(len(g3) AS DOUBLE)
         ELSE 0.0 END AS dup_trigram_frac
  FROM grams
), tf AS (
  SELECT doc_id,
         CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_token_frac,
         CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS distinct_token_frac
  FROM (SELECT doc_id, tok, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(w) AS tok FROM toks)
        GROUP BY 1, 2)
  GROUP BY doc_id
)
SELECT f.doc_id, f.n_tokens, f.dup_bigram_frac, f.dup_trigram_frac,
       tf.top_token_frac, tf.distinct_token_frac,
       (f.dup_bigram_frac <= 0.04 AND tf.top_token_frac <= 0.10) AS keep
FROM feat f JOIN tf USING (doc_id)
"""


QUERIES: dict[str, tuple[QueryFn, str | None]] = {
    "auto_salted_event_value": (auto_salted_event_value, _AUTO_SALTED_SQL),
    "embedding_label_outliers": (embedding_label_outliers, _LABEL_OUTLIERS_SQL),
    "cluster_safe_split": (cluster_safe_split, _CLUSTER_SPLIT_SQL),
    "salted_customer_revenue": (salted_customer_revenue, _SALTED_REVENUE_SQL),
    "outer_join_order_coverage": (outer_join_order_coverage, _OUTER_JOIN_SQL),
    "price_lag_lead_frames": (price_lag_lead_frames, _LAG_LEAD_SQL),
    "sql_interface_q3": (sql_interface_q3, _SQL_Q3_SQL),
    "small_quantity_revenue": (small_quantity_revenue, _SMALL_QTY_SQL),
    "exists_high_quantity_orders": (exists_high_quantity_orders, _EXISTS_SQL),
    "conditional_agg_orders": (conditional_agg_orders, _CONDITIONAL_AGG_SQL),
    "doc_word_positions": (doc_word_positions, _WORD_POSITIONS_SQL),
    "order_price_distribution": (
        order_price_distribution,
        _PRICE_DISTRIBUTION_SQL,
    ),
    "systematic_sample_revenue": (
        systematic_sample_revenue,
        _SYSTEMATIC_SAMPLE_SQL,
    ),
    "doc_regex_extract": (doc_regex_extract, _REGEX_EXTRACT_SQL),
    "embedding_stats": (embedding_stats, _EMBEDDING_STATS_SQL),
    "dedup_clusters": (dedup_clusters_q, _DEDUP_CLUSTERS_SQL),
    "customer_order_histogram": (
        customer_order_histogram,
        _CUSTOMER_ORDER_HIST_SQL,
    ),
    "top_supplier_revenue": (top_supplier_revenue, _TOP_SUPPLIER_SQL),
    "large_quantity_orders": (large_quantity_orders, _LARGE_ORDERS_SQL),
    "nation_trade_flows": (nation_trade_flows, _NATION_TRADE_SQL),
    "idle_rich_customers": (idle_rich_customers, _IDLE_RICH_SQL),
    "doc_repetition_filter": (doc_repetition_filter, _DOC_REPETITION_SQL),
    "promo_revenue_share": (promo_revenue_share, _PROMO_SHARE_SQL),
    "disjunctive_predicate_revenue": (
        disjunctive_predicate_revenue,
        _DISJUNCTIVE_SQL,
    ),
    "supplier_revenue_share": (supplier_revenue_share, _SUPPLIER_SHARE_SQL),
    "stratified_sample_docs": (stratified_sample_docs, _STRATIFIED_SAMPLE_SQL),
    "range_join_order_events": (range_join_order_events, _RANGE_JOIN_SQL),
    "approx_sketches": (approx_sketches, _APPROX_SKETCHES_SQL),
    "asof_latest_order": (asof_latest_order, _ASOF_SQL),
    "grouping_sets_lineitem": (grouping_sets_lineitem, _GROUPING_SETS_SQL),
    "pivot_status_by_flag": (pivot_status_by_flag, _PIVOT_SQL),
    "exact_quantiles": (exact_quantiles, _EXACT_QUANTILES_SQL),
}
