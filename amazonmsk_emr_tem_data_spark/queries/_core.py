"""Determinism helpers, flagship tem parity, relational core (SURVEY §2.3-2.5), streaming drains."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.codec import from_kafka_envelope, to_kafka_envelope
from ..functions.tem import horizontal_mean
from ..schemas import EVENTS_SCHEMA
from ..sources.files import ensure_parallelism, load_table


QueryFn = Callable[[SparkSession, str], DataFrame]


# ---------------------------------------------------------------------------
# determinism helpers
# ---------------------------------------------------------------------------

# All raw numeric measure columns in the fixtures are exact 2-decimal
# values (verified: max|x − round(x,2)| = 0 on every money column), so
# `round(x*100)` lifts them losslessly onto an integer-cent grid. Long
# sums are exact, order-independent, and stay inside whole-stage codegen
# (a DECIMAL(38) sum buffer is ~5× slower: BigDecimal per row). Products
# of factors are computed on the integer grid too, so no engine ever
# rounds a *binary product* — the root cause of 1-ulp cross-engine
# drift. Overflow headroom: max |cents| ~1e7, ×100 ×108 for the charge
# product ~1e11/row → a long sum overflows past ~8e7 rows per group at
# sf≫10; the driver's scales (≤0.1) are ~1000× below that. A production
# deployment at 100 TB would use plain double sums (these exact variants
# exist for the cross-engine correctness gate).


def _cents(col: Column | str, factor: int = 100) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * factor).cast("long")


def dec_sum(col: Column | str) -> Column:
    """Exact order-independent SUM of a 2-decimal double column."""
    return F.sum(_cents(col)).cast("double") / F.lit(100.0)


def dec_avg(col: Column | str) -> Column:
    """Exact order-independent AVG = cent-sum / count / 100."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(_cents(col)).cast("double") / F.count(c)) / F.lit(100.0)


def _ranked_topk(
    df: DataFrame, order: list[Column], id_col: str, k: int, rank_name: str
) -> DataFrame:
    """Distributed partial top-k + rank: ``orderBy().limit(k)`` compiles
    to TakeOrderedAndProject (per-partition heaps of k, driver merge of
    #partitions × k rows — never a global sort), and the rank window
    then runs over only the ≤ k survivors. The partition key is
    ``pmod(id, 1)`` — always 0 — because a literal key would be
    constant-folded back to an empty spec and re-raise the benign
    no-partition WindowExec warning."""
    topk = df.orderBy(*order).limit(k)
    w = Window.partitionBy(F.pmod(F.col(id_col), F.lit(1))).orderBy(*order)
    return topk.withColumn(rank_name, F.row_number().over(w).cast("long"))


def _dsum(expr: str) -> str:
    return f"(CAST(SUM(CAST(round(({expr})*100) AS BIGINT)) AS DOUBLE) / 100.0)"


def _davg(expr: str) -> str:
    return (
        f"((CAST(SUM(CAST(round(({expr})*100) AS BIGINT)) AS DOUBLE)"
        f" / COUNT({expr})) / 100.0)"
    )


def disc_price_cents() -> Column:
    """(l_extendedprice × (1 − l_discount)) on the integer grid, ×10⁴."""
    return _cents("l_extendedprice") * (F.lit(100) - _cents("l_discount"))


def charge_cents() -> Column:
    """disc_price × (1 + l_tax) on the integer grid, ×10⁶."""
    return disc_price_cents() * (F.lit(100) + _cents("l_tax"))


def sum_disc_price() -> Column:
    return F.sum(disc_price_cents()).cast("double") / F.lit(10000.0)


def sum_charge() -> Column:
    return F.sum(charge_cents()).cast("double") / F.lit(1000000.0)


#: Dimension of the fixture ``embeddings`` vectors, which the SQL twins
#: unroll over.
_EMB_DIM = 64

_EP100 = "CAST(round(l_extendedprice*100) AS BIGINT)"
_DISC_PRICE_CENTS_SQL = f"{_EP100} * (100 - CAST(round(l_discount*100) AS BIGINT))"
_CHARGE_CENTS_SQL = f"{_DISC_PRICE_CENTS_SQL} * (100 + CAST(round(l_tax*100) AS BIGINT))"
_SUM_DISC_PRICE_SQL = f"(CAST(SUM({_DISC_PRICE_CENTS_SQL}) AS DOUBLE) / 10000.0)"
_SUM_CHARGE_SQL = f"(CAST(SUM({_CHARGE_CENTS_SQL}) AS DOUBLE) / 1000000.0)"


# ---------------------------------------------------------------------------
# flagship + tem parity
# ---------------------------------------------------------------------------


def tem_hourly_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the idiomatic version of the reference's
    ``calculate_average_tem`` (temReadFromTopic.py:64-84) — but as a real
    grouped, event-time-bucketed aggregate (the reference's docstring at
    03_temStreamEveryMin.py:70-73 admits it never got this far).

    Scale: single hash-agg on (event_type, hour) — partial aggregation
    map-side, one shuffle on a well-distributed composite key.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dec_sum("value").alias("sum_value"),
        dec_avg("value").alias("avg_value"),
    )


_TEM_HOURLY_AVG_SQL = f"""
SELECT event_type,
       date_trunc('hour', ts) AS bucket_ts,
       COUNT(*) AS n_events,
       {_dsum("value")} AS sum_value,
       {_davg("value")} AS avg_value
FROM events
GROUP BY event_type, date_trunc('hour', ts)
"""


def tem_horizontal_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 semantics on driver data: NULL-propagating per-row horizontal
    mean (the defining `Tem(Avg)` semantic, SURVEY.md §7.4) over four
    lineitem measures. Pure column arithmetic — codegen'd, no shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    return li.select(
        "l_orderkey",
        "l_linenumber",
        horizontal_mean(cols).alias("tem_avg"),
    )


_TEM_HORIZONTAL_AVG_SQL = """
SELECT l_orderkey, l_linenumber,
       (l_quantity + l_extendedprice + l_discount + l_tax) / 4 AS tem_avg
FROM lineitem
"""


def lineitem_measures_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape (UNPIVOT/melt — the inverse of
    pivot_status_by_flag, r7): the four lineitem measures melt to
    (measure, value) rows and roll up to per-measure distribution
    stats. The long layout is what a metrics store or a per-sensor
    monitor consumes — the reference's 26-column tem frame is exactly
    this wide shape (SURVEY §2.1).

    Scale: unpivot compiles to a map-side Expand (4 output rows per
    input row, zero shuffle, no join), and the rollup is one
    map-side-combined aggregate onto 4 keys. Cents-grid sum keeps the
    double totals order-exact cross-engine; min/max are exact."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "value",
    )
    return long.groupBy("measure").agg(
        F.count(F.lit(1)).alias("n"),
        dec_sum("value").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


_UNPIVOT_SQL = f"""
WITH long AS (
  SELECT 'l_quantity' AS measure, l_quantity AS value FROM lineitem
  UNION ALL SELECT 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
  UNION ALL SELECT 'l_tax', l_tax FROM lineitem
)
SELECT measure,
       COUNT(*) AS n,
       {_dsum("value")} AS sum_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM long
GROUP BY measure
"""


def envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 codec proof: events → Kafka (key,value) JSON envelope →
    decode → typed rows, equal to the source table (oracle = the raw
    table). Exercises F1/F2/P2–P5 end-to-end without a broker."""
    ev = ensure_parallelism(load_table(spark, sf_dir, "events"))
    return from_kafka_envelope(to_kafka_envelope(ev, key_col="event_id"), EVENTS_SCHEMA)


_ENVELOPE_ROUNDTRIP_SQL = """
SELECT event_id, ts, user_id, event_type, value, props FROM events
"""


# ---------------------------------------------------------------------------
# relational core (SURVEY.md §2.3–2.5 gaps the engine fills)
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan → filter → wide grouped aggregation.
    Partial-agg map-side; single shuffle on a 6-ish-group key."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity").alias("sum_qty"),
            dec_sum("l_extendedprice").alias("sum_base_price"),
            sum_disc_price().alias("sum_disc_price"),
            sum_charge().alias("sum_charge"),
            dec_avg("l_quantity").alias("avg_qty"),
            dec_avg("l_extendedprice").alias("avg_price"),
            dec_avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {_dsum("l_quantity")} AS sum_qty,
       {_dsum("l_extendedprice")} AS sum_base_price,
       {_SUM_DISC_PRICE_SQL} AS sum_disc_price,
       {_SUM_CHARGE_SQL} AS sum_charge,
       {_davg("l_quantity")} AS avg_qty,
       {_davg("l_extendedprice")} AS avg_price,
       {_davg("l_discount")} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def filter_project_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The filter/projection operator the reference lacks (SURVEY §2.3).
    Both predicate and 4-column projection reach the parquet scan
    (PushedFilters + pruned ReadSchema — asserted in tests/test_plans)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_quantity") > 40)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


_FILTER_PROJECT_SQL = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_quantity > 40
"""


def revenue_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast hash join: orders ⋈ customer (small dim broadcast
    explicitly — no shuffle of the fact side) → grouped agg."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        orders.join(
            F.broadcast(customer), orders.o_custkey == customer.c_custkey, "inner"
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum("o_totalprice").alias("revenue"),
        )
    )


_REVENUE_BY_SEGMENT_SQL = f"""
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       {_dsum("o_totalprice")} AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way join (lineitem ⋈ orders ⋈ customer ⋈
    supplier ⋈ nation) with the local-supplier condition
    (c_nationkey = s_nationkey). All dims broadcast; the only shuffle is
    the final group-by. Date filter prunes the fact scan."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            sum_disc_price().alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_NATION_REVENUE_SQL = f"""
SELECT n_name,
       {_SUM_DISC_PRICE_SQL} AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE c_nationkey = s_nationkey
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


def topk_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group: rank window + filter (SURVEY §2.5 'sort/top-k'
    gap). Tie-break on o_orderkey for total determinism. Scale: window
    shuffles once on the partition key; k rows per group survive."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rk")
    )


_TOPK_ORDERS_SQL = """
SELECT o_orderpriority, o_orderkey, o_totalprice, rk
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders
) WHERE rk <= 3
"""


def running_total_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic frame window: per-customer running order total.
    Integer-cent accumulation keeps the running values exact; full
    (o_orderdate, o_orderkey) ordering makes frames deterministic."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        (F.sum(_cents("o_totalprice")).over(w).cast("double") / F.lit(100.0)).alias(
            "running_total"
        ),
    )


_RUNNING_TOTAL_SQL = """
SELECT o_custkey, o_orderkey, o_orderdate,
       (CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0) AS running_total
FROM orders
"""


def rollup_lineitem_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (SURVEY §2.5)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"), dec_sum("l_quantity").alias("sum_qty")
    )


_ROLLUP_SQL = f"""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_items,
       {_dsum("l_quantity")} AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def cube_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (SURVEY §2.5)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"), dec_sum("o_totalprice").alias("sum_price")
    )


_CUBE_SQL = f"""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n_orders,
       {_dsum("o_totalprice")} AS sum_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join = EXISTS (SURVEY §2.5 join gap)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


_SEMI_JOIN_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join = NOT EXISTS: customers with no URGENT order.

    The predicate is deliberately "no 1-URGENT order" rather than "no
    order at all": the generated fixtures give every customer at least
    one order at every SF, so the plain variant matched 0 rows in every
    driver round — a vacuous green (both engines agree perfectly on an
    empty result). Anti-joining against the URGENT slice leaves real
    survivors at every scale (18 @ sf0.001, 203 @ sf0.01), so the check
    actually exercises the anti-join semantics."""
    customer = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return customer.join(
        urgent, customer.c_custkey == urgent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_acctbal")


_ANTI_JOIN_SQL = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
"""


def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators (SURVEY §2.5): positive-balance customers EXCEPT
    those in the max-spend decile, INTERSECT machinery exercised in
    tests. Distinct semantics on both sides."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    positive = customer.filter(F.col("c_acctbal") > 0).select("c_custkey")
    big_spenders = (
        orders.filter(F.col("o_totalprice") > 400000).select(
            F.col("o_custkey").alias("c_custkey")
        )
    )
    return positive.subtract(big_spenders)


_SET_OPS_SQL = """
SELECT c_custkey FROM customer WHERE c_acctbal > 0
EXCEPT
SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 400000
"""


def union_event_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL by name with a provenance tag — the multi-source
    pattern (reference unions nothing; engine needs it for fan-in)."""
    ev = load_table(spark, sf_dir, "events")
    big = ev.filter(F.col("value") > 150).select(
        "event_id", "event_type", F.lit("big").alias("slice")
    )
    errs = ev.filter(F.col("event_type") == "error").select(
        "event_id", "event_type", F.lit("error").alias("slice")
    )
    return big.unionByName(errs)


_UNION_SLICES_SQL = """
SELECT event_id, event_type, 'big' AS slice FROM events WHERE value > 150
UNION ALL
SELECT event_id, event_type, 'error' AS slice FROM events WHERE event_type = 'error'
"""


def dedup_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup, deterministic keep-first (SURVEY §2.5 'distinct'
    gap; fixture csv2.csv has 755 duplicate ids): first event per
    (user_id, event_type) by (ts, event_id). `dropDuplicates` picks an
    arbitrary row; a rank window picks a *defined* one — required for
    oracle comparison and for reproducible pipelines."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", F.col("event_id").alias("first_event_id"),
                F.col("ts").alias("first_ts"))
    )


_DEDUP_FIRST_SQL = """
SELECT user_id, event_type, event_id AS first_event_id, ts AS first_ts
FROM (
  SELECT user_id, event_type, event_id, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts ASC, event_id ASC) AS rn
  FROM events
) WHERE rn = 1
"""


def case_bucket_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE/WHEN bucketing + conditional aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    bucket = (
        F.when(F.col("l_quantity") < 10, "small")
        .when(F.col("l_quantity") < 30, "medium")
        .otherwise("large")
    )
    return (
        li.withColumn("qty_bucket", bucket)
        .groupBy("qty_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dec_sum("l_extendedprice").alias("sum_price"),
            F.count(F.when(F.col("l_returnflag") == "R", 1)).alias("n_returned"),
        )
    )


_CASE_BUCKET_SQL = f"""
SELECT CASE WHEN l_quantity < 10 THEN 'small'
            WHEN l_quantity < 30 THEN 'medium'
            ELSE 'large' END AS qty_bucket,
       COUNT(*) AS n_items,
       {_dsum("l_extendedprice")} AS sum_price,
       COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS n_returned
FROM lineitem
GROUP BY 1
"""


def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction + agg (the reference imported TimestampType
    and never used it — SURVEY §1.2)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").cast("long").alias("order_year"),
            F.month("o_orderdate").cast("long").alias("order_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dec_sum("o_totalprice").alias("sum_price"),
        )
    )


_ORDERS_BY_MONTH_SQL = f"""
SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
       CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS order_month,
       COUNT(*) AS n_orders,
       {_dsum("o_totalprice")} AS sum_price
FROM orders
GROUP BY 1, 2
"""


def part_name_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String functions: upper/substring/length + min/max aggs."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.select(
            "p_brand",
            F.upper(F.col("p_name")).alias("uname"),
            F.substring(F.col("p_name"), 1, 8).alias("prefix"),
            F.length(F.col("p_name")).cast("long").alias("name_len"),
        )
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.min("uname").alias("first_name"),
            F.max("prefix").alias("last_prefix"),
            F.sum("name_len").alias("total_name_len"),
        )
    )


_PART_NAME_SQL = """
SELECT p_brand,
       COUNT(*) AS n_parts,
       MIN(UPPER(p_name)) AS first_name,
       MAX(SUBSTRING(p_name, 1, 8)) AS last_prefix,
       CAST(SUM(LENGTH(p_name)) AS BIGINT) AS total_name_len
FROM part
GROUP BY p_brand
"""


def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the events `props` payload (schema-on-
    read over a semi-structured column — the engine's general pattern
    for property bags). Dirty-data contract (edge-corpus harness):
    malformed/empty/NULL JSON and non-numeric field values all yield
    NULL (get_json_object is lenient; try_cast absorbs bad numbers the
    way DuckDB's TRY_CAST does) — a poisoned property bag must never
    kill a 100 TB scan."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").try_cast("long")
    return (
        ev.select("event_type", k.alias("k"), "value")
        .withColumn("k_bucket", F.col("k") % 10)
        .groupBy("event_type", "k_bucket")
        .agg(F.count(F.lit(1)).alias("n"), dec_sum("value").alias("sum_value"))
    )


_JSON_PROPS_SQL = f"""
SELECT event_type,
       TRY_CAST(CASE WHEN props IS NOT NULL AND json_valid(props)
                     THEN json_extract_string(props, '$.k') END
                AS BIGINT) % 10 AS k_bucket,
       COUNT(*) AS n,
       {_dsum("value")} AS sum_value
FROM events
GROUP BY 1, 2
"""


def distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) + min/max (SURVEY §2.5 distinct gap). Exact
    distinct shuffles twice (expand + merge)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


_DISTINCT_USERS_SQL = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) AS n_events,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
GROUP BY event_type
"""


def top10_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY + LIMIT (top-k): Spark runs per-partition top-k
    then merges on the driver — no full sort at scale. Full tie-break
    for determinism."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.orderBy(
            F.col("l_extendedprice").desc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        )
        .limit(10)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity")
    )


_TOP10_SQL = """
SELECT l_orderkey, l_linenumber, l_extendedprice, l_quantity
FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# streaming (M3): bounded availableNow drains of real streaming plans,
# compared against batch oracles (complete output mode ⇒ bit-equal)
# ---------------------------------------------------------------------------


def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming tumbling window drained via availableNow.
    `window('1 hour').start` lands on the hour grid, so the batch
    oracle is a date_trunc group-by."""
    from ..streaming.pipelines import stream_tumbling_agg

    return stream_tumbling_agg(spark, sf_dir)


_STREAM_TUMBLING_SQL = f"""
SELECT date_trunc('hour', ts) AS bucket_ts,
       event_type,
       COUNT(*) AS n_events,
       {_dsum("value")} AS sum_value
FROM events
GROUP BY 1, 2
"""


def stream_sliding_2h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2h window, 1h slide): every event belongs to
    two windows. Oracle: union of the two hour-grid window starts that
    contain each event."""
    from ..streaming.pipelines import stream_sliding_counts

    return stream_sliding_counts(spark, sf_dir)


_STREAM_SLIDING_SQL = """
SELECT window_start, event_type, COUNT(*) AS n_events
FROM (
  SELECT date_trunc('hour', ts) AS window_start, event_type FROM events
  UNION ALL
  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS window_start, event_type FROM events
)
GROUP BY window_start, event_type
"""


def stream_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful dedup (dropDuplicates) drained bounded ⇒
    exactly batch DISTINCT."""
    from ..streaming.pipelines import stream_distinct_keys

    return stream_distinct_keys(spark, sf_dir)


_STREAM_DISTINCT_SQL = "SELECT DISTINCT user_id, event_type FROM events"


def stream_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (watermarked both sides, event-time
    range condition): clicks joined to same-user purchases within one
    hour. State is bounded by watermark − horizon; a bounded drain
    emits every match, so the batch interval self-join is the exact
    oracle."""
    from ..streaming.pipelines import stream_stream_click_purchase

    return stream_stream_click_purchase(spark, sf_dir)


_STREAM_SS_JOIN_SQL = """
SELECT c.user_id,
       c.event_id AS click_id,
       c.ts AS click_ts,
       p.event_id AS purchase_id,
       p.ts AS purchase_ts
FROM events c
JOIN events p
  ON p.user_id = c.user_id
 AND p.ts > c.ts
 AND p.ts <= c.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
"""


def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark: streaming dedup whose seen-key
    state is evicted as the watermark advances (bounded memory on
    unbounded streams). Watermark > fixture span ⇒ equals DISTINCT."""
    from ..streaming.pipelines import stream_dedup_within_watermark

    return stream_dedup_within_watermark(spark, sf_dir)


_STREAM_DEDUP_WM_SQL = "SELECT DISTINCT user_id, event_type FROM events"


def stream_doc_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus ingest × north-star text ops: quality/lang-ID
    scoring per micro-batch (stateless map-only stream ⇒ bounded drain
    equals the batch oracle row-for-row)."""
    from ..streaming.pipelines import stream_doc_quality

    return stream_doc_quality(spark, sf_dir)


def stream_token_heavy_hitters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min sketch over the document ingest feed: the
    drained 4×1024 bucket-sum state equals the batch-computed sketch
    bit-for-bit (complete-mode agg state merges micro-batch partials
    algebraically), so the batch oracle doubles as the
    micro-batching-invariance proof. See
    streaming/pipelines.stream_token_heavy_hitters."""
    from ..streaming.pipelines import stream_token_heavy_hitters

    out = stream_token_heavy_hitters(spark, sf_dir)
    return out.select(
        F.col("r").cast("long").alias("r"), "b", "cnt"
    )


def stream_session_windows_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (30-min idle gap). Spark session
    semantics: a session extends while the next event is < last+gap;
    end = last event + gap. The oracle reproduces exactly that with
    lag/flag/cumsum sessionization."""
    from ..streaming.pipelines import stream_session_windows

    return stream_session_windows(spark, sf_dir)


_SESSION_SQL_BODY = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events
FROM sess GROUP BY user_id, sid
"""

_STREAM_SESSION_SQL = _SESSION_SQL_BODY


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization as a window-function composition (lag →
    gap flag → running sum → group), the classic pattern for engines
    without session_window. Must agree with the streaming variant AND
    the oracle. One shuffle on user_id; sort within partitions.

    Boundary semantics follow Spark's built-in ``session_window``: an
    event at EXACTLY last_ts + gap still extends the session (windows
    that touch merge), so a new session starts only when the gap is
    strictly exceeded (caught by the edge-corpus harness; the three
    variants — this, the stream, the oracle — all agree on the
    boundary)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "new_s",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.col("ts").cast("double") - F.lag("ts").over(w).cast("double")
                > 1800.0
            ),
            1,
        ).otherwise(0),
    )
    sess = flagged.withColumn(
        "sid",
        F.sum("new_s").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    return sess.groupBy("user_id", "sid").agg(
        F.min("ts").alias("session_start"),
        (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    ).drop("sid")


def session_incident_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval OVERLAP join (r7): user sessions intersecting
    the 2-hour window after each of that user's error events — "which
    sessions were exposed to an incident", the two-sided
    generalization range_join (point-in-interval) cannot express.

    Physical strategy (operators/joins.interval_overlap_join): both
    interval sets explode into day buckets, equi-join on (user,
    bucket), and each true pair is kept exactly once by the
    canonical-bucket predicate (the bucket containing the later start
    — inside both intervals whenever they overlap), so there is NO
    distinct exchange over the pair output. Overlap length is exact
    integer epoch-second math."""
    from ..operators.joins import interval_overlap_join

    sessions = sessionize_events(spark, sf_dir)
    errors = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .select(
            "user_id",
            "event_id",
            F.col("ts").alias("err_start"),
            (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("err_end"),
        )
    )
    out = interval_overlap_join(
        sessions,
        errors,
        on="user_id",
        left_start="session_start",
        left_end="session_end",
        right_start="err_start",
        right_end="err_end",
        bucket="1 day",
    )
    return out.select(
        "user_id",
        "session_start",
        "session_end",
        "event_id",
        "err_start",
        "overlap_seconds",
    )


_SESSION_OVERLAP_SQL = f"""
WITH sessions AS (
{_SESSION_SQL_BODY}
), errors AS (
  SELECT user_id, event_id, ts AS err_start,
         ts + INTERVAL 2 HOUR AS err_end
  FROM events WHERE event_type = 'error'
)
SELECT s.user_id AS user_id, session_start, session_end,
       event_id, err_start,
       greatest(CAST(0 AS BIGINT),
         -- floor, not CAST: Spark's unix_timestamp TRUNCATES the
         -- sub-second part while DuckDB CAST(double AS BIGINT) rounds
         CAST(floor(epoch(least(session_end, err_end))) AS BIGINT)
         - CAST(floor(epoch(greatest(session_start, err_start))) AS BIGINT)
       ) AS overlap_seconds
FROM sessions s JOIN errors e
  ON s.user_id = e.user_id
 AND session_start < err_end
 AND err_start < session_end
"""


def event_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams — the sequence-modeling primitive behind next-action
    prediction and funnel diagnostics: for every (from_type, to_type)
    pair, the transition count and probability.

    Scale shape: ONE shuffle on user_id for the lead() window (total
    order (ts, event_id) — event_id breaks timestamp ties so the
    sequence is deterministic), then a map-side-combined count shuffle
    whose cardinality is |event types|² — tiny at any corpus size; the
    row-count window runs over those |types|² rows. Probability is one
    IEEE long/long division, identical cross-engine.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    trans = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wfrom = Window.partitionBy("from_type")
    return trans.select(
        "from_type",
        "to_type",
        "n",
        F.sum("n").over(wfrom).alias("n_from"),
        (F.col("n") / F.sum("n").over(wfrom)).alias("prob"),
    )


_MARKOV_SQL = """
WITH seq AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts ASC, event_id ASC) AS next_type
  FROM events
), trans AS (
  SELECT event_type AS from_type, next_type AS to_type,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS n_from,
       n / CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT) AS prob
FROM trans
"""


QUERIES: dict[str, tuple[QueryFn, str | None]] = {
    "tem_hourly_avg": (tem_hourly_avg, _TEM_HOURLY_AVG_SQL),
    "event_markov_transitions": (event_markov_transitions, _MARKOV_SQL),
    "lineitem_measures_unpivot": (lineitem_measures_unpivot, _UNPIVOT_SQL),
    "session_incident_overlap": (
        session_incident_overlap,
        _SESSION_OVERLAP_SQL,
    ),
    "stream_tumbling_hourly": (stream_tumbling_hourly, _STREAM_TUMBLING_SQL),
    "stream_sliding_2h": (stream_sliding_2h, _STREAM_SLIDING_SQL),
    "stream_session_windows": (stream_session_windows_q, _STREAM_SESSION_SQL),
    "stream_click_purchase_join": (
        stream_click_purchase_join,
        _STREAM_SS_JOIN_SQL,
    ),
    "tem_horizontal_avg": (tem_horizontal_avg, _TEM_HORIZONTAL_AVG_SQL),
    "envelope_roundtrip": (envelope_roundtrip, _ENVELOPE_ROUNDTRIP_SQL),
    "q1_pricing_summary": (q1_pricing_summary, _Q1_SQL),
    "filter_project_scan": (filter_project_scan, _FILTER_PROJECT_SQL),
    "revenue_by_segment": (revenue_by_segment, _REVENUE_BY_SEGMENT_SQL),
    "nation_revenue": (nation_revenue, _NATION_REVENUE_SQL),
    "topk_orders_per_priority": (topk_orders_per_priority, _TOPK_ORDERS_SQL),
    "running_total_per_customer": (
        running_total_per_customer,
        _RUNNING_TOTAL_SQL,
    ),
    "rollup_lineitem_status": (rollup_lineitem_status, _ROLLUP_SQL),
    "cube_order_status": (cube_order_status, _CUBE_SQL),
    "customers_with_orders": (customers_with_orders, _SEMI_JOIN_SQL),
    "set_ops_customers": (set_ops_customers, _SET_OPS_SQL),
    "union_event_slices": (union_event_slices, _UNION_SLICES_SQL),
    "dedup_first_event": (dedup_first_event, _DEDUP_FIRST_SQL),
    "case_bucket_quantity": (case_bucket_quantity, _CASE_BUCKET_SQL),
    "orders_by_month": (orders_by_month, _ORDERS_BY_MONTH_SQL),
    "part_name_stats": (part_name_stats, _PART_NAME_SQL),
    "json_props_extract": (json_props_extract, _JSON_PROPS_SQL),
    "distinct_users_per_type": (distinct_users_per_type, _DISTINCT_USERS_SQL),
    "top10_lineitems": (top10_lineitems, _TOP10_SQL),
    "customers_without_orders": (customers_without_orders, _ANTI_JOIN_SQL),
    "stream_distinct_users": (stream_distinct_users, _STREAM_DISTINCT_SQL),
    "stream_dedup_watermark": (stream_dedup_watermark, _STREAM_DEDUP_WM_SQL),
    "sessionize_events": (sessionize_events, _SESSION_SQL_BODY),
}
