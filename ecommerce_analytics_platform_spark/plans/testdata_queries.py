"""Driver-facing query registry: every implemented operator from SURVEY §2
(plus the training-data extensions) expressed over the driver testdata
tables, each with an exact DuckDB oracle.

Registry shape: ``QUERIES[name] = (spark_builder, duckdb_sql | None)`` where
``spark_builder(spark, sf_dir) -> DataFrame``. ``__spark_entry__`` exposes
this registry to the driver. Column names/types are aligned 1:1 between the
Spark plan and the oracle SQL (driver hashes values after sorting columns by
name). Doubles that aggregate across partitions are rounded identically on
both sides to absorb summation-order noise.

Operator ↔ reference citations are in each builder's docstring
(paths into /root/reference).
"""

from __future__ import annotations

import functools
import os
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ecommerce_analytics_platform_spark.functions.compat import (
    dow_sunday0,
    free_local_checkpoint,
    is_weekend,
    portable_hash60,
    portable_hash60_sql,
    seeded_hash60,
    seeded_hash60_sql,
)
from ecommerce_analytics_platform_spark.functions.text import simhash64, tokens
from ecommerce_analytics_platform_spark.operators.calendar import build_dim_date
from ecommerce_analytics_platform_spark.operators.dedup import (
    dedup_exact,
    dedup_latest,
    minhash_lsh_pairs,
)
from ecommerce_analytics_platform_spark.operators.sessionize import sessionize_by_gap
from ecommerce_analytics_platform_spark.session import fan_out
from ecommerce_analytics_platform_spark.operators.similarity import (
    cosine_topk_blas,
    cosine_topk_bruteforce,
    lsh_bucketed_topk,
)

SparkQuery = Callable[[SparkSession, str], DataFrame]

# ---------------------------------------------------------------------------
# Exact cross-engine aggregation helpers.
#
# Double sums are summation-order-dependent, and Spark (partial aggs over N
# partitions) and DuckDB (its own parallel agg) WILL disagree in low bits —
# observed already at 6k rows. Casting to DECIMAL before summing makes the
# aggregate exact and order-independent in both engines (double→decimal cast
# parity verified over all 600k sf0.1 values). The same trick is what you'd
# do on a real cluster for money math anyway.
# ---------------------------------------------------------------------------


def _dec_sum(col: str, scale: int = 2):
    """sum(decimal(x)) :: double — exact, order-independent, bit-identical
    cross-engine (so no rounding needed — rounding identical doubles can
    actually DIVERGE: Spark rounds the shortest decimal repr HALF_UP, DuckDB
    rounds the binary value)."""
    del scale
    return F.sum(F.col(col).cast("decimal(18,4)")).cast("double")


def _dec_sum_sql(col: str, scale: int = 2) -> str:
    del scale
    return f"CAST(sum(CAST({col} AS DECIMAL(18,4))) AS DOUBLE)"


def _dec_avg(col: str, scale: int = 4):
    del scale
    return F.sum(F.col(col).cast("decimal(18,4)")).cast("double") / F.count(F.lit(1))


def _dec_avg_sql(col: str, scale: int = 4) -> str:
    del scale
    return f"(CAST(sum(CAST({col} AS DECIMAL(18,4))) AS DOUBLE) / count(*))"


def _net_revenue():
    """sum(extendedprice * (1 - discount)) in exact decimal arithmetic.

    The sum (scale 8) is re-rounded to scale 4 in the DECIMAL domain before
    the double cast: DuckDB's decimal→double goes int128→double→÷10^scale
    (two roundings), which diverges from Spark's correctly-rounded
    BigDecimal.doubleValue once the scaled integer exceeds 2^53. At scale 4
    the integer stays well under 2^53, making both casts exact.
    """
    ext = F.col("l_extendedprice").cast("decimal(12,4)")
    disc = F.col("l_discount").cast("decimal(6,4)")
    one = F.lit(1).cast("decimal(6,4)")
    return F.sum(ext * (one - disc)).cast("decimal(38,4)").cast("double")


_NET_REVENUE_SQL = (
    "CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4)) * "
    "(CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))), 4) AS DOUBLE)"
)


# Per-session memo of table-scan PLANS (never data): constructing
# ``spark.read.parquet(path)`` costs ~100 ms of py4j + footer/schema
# inference per call (measured r14, guide §1) and the registry pays it
# 1-3× per query × 145 queries. A DataFrame is an immutable logical
# plan — reusing it across queries is catalog-style plan reuse; every
# action still computes from the parquet files (no .cache(), no result
# reuse). Keyed weakly on the session so test sessions release their
# entries on stop.
import weakref as _weakref

_T_MEMO: "_weakref.WeakKeyDictionary[SparkSession, dict]" = (
    _weakref.WeakKeyDictionary()
)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table.

    ``events.ts`` normalization is type-adaptive — the driver has shipped it
    both as parquet TIMESTAMP(NANOS) (no native Spark type: read as long via
    legacy conf, floor-divide to µs exactly like DuckDB's ns→µs cast) and as
    TIMESTAMP(MICROS) isAdjustedToUTC=false (reads as TIMESTAMP_NTZ: cast to
    session-tz TIMESTAMP, identity under the pinned UTC zone). Either way the
    column downstream is a plain UTC TIMESTAMP matching the DuckDB oracle.

    The session timezone is pinned to UTC on every call: the driver may
    hand us an arbitrary session, and ``ts.cast(date)`` is tz-dependent in
    Spark while the DuckDB oracle is tz-naive (SURVEY §7 watch-list).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    per_session = _T_MEMO.setdefault(spark, {})
    df = per_session.get((sf_dir, name))
    if df is not None:
        return df
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/events.parquet")
        ts_type = df.schema["ts"].dataType.simpleString()
        if ts_type == "bigint":  # nanos-as-long era
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type != "timestamp":  # timestamp_ntz (micros, no tz)
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    per_session[(sf_dir, name)] = df
    return df


# ---------------------------------------------------------------------------
# Aggregations / filters / projections (SURVEY §2.2, §2.5)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide hash-aggregate with filter pushdown (SURVEY A6/P6/P13 analog;
    TPC-H Q1 shape). Exercises: parquet scan + pushed predicate, groupBy
    partial/final agg, arithmetic expressions."""
    li = _t(spark, sf_dir, "lineitem")
    ext = F.col("l_extendedprice").cast("decimal(12,4)")
    disc = F.col("l_discount").cast("decimal(6,4)")
    tax = F.col("l_tax").cast("decimal(6,4)")
    one = F.lit(1).cast("decimal(6,4)")
    # r14: no fan_out — this aggregate is byte-dense, not CPU-dense
    # (guide §2.5): the keyless repartition pays its own sort + a full
    # 600k-row exchange to spread partial-agg work the 3-task scan does
    # in-line (1.25 -> 0.96 s at sf0.1). At scale the scan has thousands
    # of splits and fan_out would be a no-op anyway.
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum("l_quantity", 2).alias("sum_qty"),
            _dec_sum("l_extendedprice", 2).alias("sum_base_price"),
            F.sum(ext * (one - disc)).cast("decimal(38,4)").cast("double").alias("sum_disc_price"),
            F.sum(ext * (one - disc) * (one + tax)).cast("decimal(38,4)").cast("double").alias("sum_charge"),
            _dec_avg("l_quantity", 4).alias("avg_qty"),
            _dec_avg("l_extendedprice", 4).alias("avg_price"),
            _dec_avg("l_discount", 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


SQL_PRICING_SUMMARY = f"""
SELECT l_returnflag, l_linestatus,
       {_dec_sum_sql('l_quantity', 2)}        AS sum_qty,
       {_dec_sum_sql('l_extendedprice', 2)}   AS sum_base_price,
       {_NET_REVENUE_SQL} AS sum_disc_price,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,4))
                      * (CAST(1 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))
                      * (CAST(1 AS DECIMAL(6,4)) + CAST(l_tax AS DECIMAL(6,4)))), 4) AS DOUBLE) AS sum_charge,
       {_dec_avg_sql('l_quantity', 4)}        AS avg_qty,
       {_dec_avg_sql('l_extendedprice', 4)}   AS avg_price,
       {_dec_avg_sql('l_discount', 4)}        AS avg_disc,
       count(*)                         AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_daily_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily KPI rollup — reference marts/metrics/metrics_daily_kpis.sql:5-57
    (SURVEY A6, P9/P10/P13, F2) re-expressed over the events table: per-day
    event count, DAU, revenue-ish sum, AOV-ish avg, purchase rate."""
    ev = _t(spark, sf_dir, "events")
    day = F.col("ts").cast("date").alias("event_date")
    purchases = F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
    return (
        ev.groupBy(day)
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.countDistinct("user_id").alias("daily_active_users"),
            _dec_sum("value", 2).alias("total_value"),
            _dec_avg("value", 4).alias("avg_value"),
            purchases.alias("purchases"),
            (purchases / F.count(F.lit(1))).alias("purchase_rate"),
        )
    )


SQL_DAILY_KPIS = f"""
SELECT CAST(ts AS DATE) AS event_date,
       count(*) AS events,
       count(DISTINCT user_id) AS daily_active_users,
       {_dec_sum_sql('value', 2)} AS total_value,
       {_dec_avg_sql('value', 4)} AS avg_value,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
       (sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) / count(*)) AS purchase_rate
FROM events
GROUP BY 1
"""


def q_daily_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel-stage bitmap then day rollup — reference
    marts/metrics/metrics_daily_funnel.sql:5-38 (SURVEY A7/A8/J5): per
    (day,user) max(case-when) stage flags, then per-day distinct users +
    stage sums + conversion rate."""
    ev = _t(spark, sf_dir, "events")
    flags = (
        ev.select(F.col("ts").cast("date").alias("event_date"), "user_id", "event_type")
        .groupBy("event_date", "user_id")
        .agg(
            F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("viewed"),
            F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("clicked"),
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("purchased"),
        )
    )
    return flags.groupBy("event_date").agg(
        F.countDistinct("user_id").alias("users"),
        F.sum("viewed").alias("users_viewed"),
        F.sum("clicked").alias("users_clicked"),
        F.sum("purchased").alias("users_purchased"),
        (F.sum("purchased") / F.countDistinct("user_id")).alias("purchase_conversion_rate"),
    )


SQL_DAILY_FUNNEL = """
WITH flags AS (
    SELECT CAST(ts AS DATE) AS event_date, user_id,
           max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS viewed,
           max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicked,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchased
    FROM events GROUP BY 1, 2
)
SELECT event_date,
       count(DISTINCT user_id) AS users,
       CAST(sum(viewed) AS BIGINT) AS users_viewed,
       CAST(sum(clicked) AS BIGINT) AS users_clicked,
       CAST(sum(purchased) AS BIGINT) AS users_purchased,
       (sum(purchased) / count(DISTINCT user_id)) AS purchase_conversion_rate
FROM flags GROUP BY 1
"""


def q_user_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User lifecycle metrics — reference
    marts/metrics/metrics_user_lifecycle.sql:5-46 (SURVEY A3, F6, P9/P10):
    per-user first/last activity, tenure days, event counts, value sum,
    CASE-WHEN segment."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_seen_date"),
        F.max(F.col("ts").cast("date")).alias("last_seen_date"),
        F.count(F.lit(1)).alias("total_events"),
        F.countDistinct(F.col("ts").cast("date")).alias("active_days"),
        _dec_sum("value", 2).alias("total_value"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("purchases"),
    )
    return agg.select(
        "*",
        F.datediff("last_seen_date", "first_seen_date").cast("long").alias("tenure_days"),
        F.when(F.col("purchases") >= 2, "repeat_buyer")
        .when(F.col("purchases") == 1, "one_time_buyer")
        .otherwise("prospect")
        .alias("lifecycle_segment"),
    )


SQL_USER_LIFECYCLE = f"""
SELECT user_id,
       min(CAST(ts AS DATE)) AS first_seen_date,
       max(CAST(ts AS DATE)) AS last_seen_date,
       count(*) AS total_events,
       count(DISTINCT CAST(ts AS DATE)) AS active_days,
       {_dec_sum_sql('value', 2)} AS total_value,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
       date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) AS tenure_days,
       CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 2 THEN 'repeat_buyer'
            WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 1 THEN 'one_time_buyer'
            ELSE 'prospect' END AS lifecycle_segment
FROM events GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Window functions: dedup + first-touch (SURVEY §2.6 W1-W3)
# ---------------------------------------------------------------------------

def q_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-record dedup — reference staging/stg_clickstream_events.sql:8-33
    (W1): keep each user's most recent event; event_id desc as the
    deterministic tiebreak (SURVEY §7 watch-list)."""
    ev = _t(spark, sf_dir, "events")
    return dedup_latest(ev, ["user_id"], [F.desc("ts"), F.desc("event_id")]).select(
        "user_id", "event_id", "event_type", "ts", "value"
    )


SQL_DEDUP_LATEST = """
SELECT user_id, event_id, event_type, ts, value
FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
) WHERE rn = 1
"""


def q_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-event-of-entity attributes — reference
    marts/core/dimensions/dim_session_context.sql:5-27 (W3): first event per
    user ascending, carrying its attributes."""
    ev = _t(spark, sf_dir, "events")
    return dedup_latest(ev, ["user_id"], [F.asc("ts"), F.asc("event_id")]).select(
        "user_id",
        F.col("event_type").alias("first_event_type"),
        F.col("ts").alias("first_ts"),
    )


SQL_FIRST_TOUCH = """
SELECT user_id, event_type AS first_event_type, ts AS first_ts
FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
    FROM events
) WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Calendar dimension (SURVEY F5/F8)
# ---------------------------------------------------------------------------

def q_dim_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar spine — reference marts/core/dimensions/dim_date.sql:5-28:
    generate_series between min/max order dates + date parts + weekend flag.
    DuckDB dow(0=Sun) vs Spark dayofweek(1=Sun) handled in compat (F5)."""
    orders = _t(spark, sf_dir, "orders")
    return build_dim_date(orders, F.col("o_orderdate"))


SQL_DIM_DATE = """
WITH bounds AS (
    SELECT CAST(min(o_orderdate) AS DATE) AS min_d, CAST(max(o_orderdate) AS DATE) AS max_d
    FROM orders
), spine AS (
    SELECT CAST(unnest(generate_series(min_d, max_d, INTERVAL 1 DAY)) AS DATE) AS date FROM bounds
)
SELECT date,
       extract(day FROM date) AS day_of_month,
       extract(week FROM date) AS week_of_year,
       extract(month FROM date) AS month,
       extract(quarter FROM date) AS quarter,
       extract(year FROM date) AS year,
       extract(dow FROM date) AS day_of_week,
       extract(dow FROM date) IN (0, 6) AS is_weekend
FROM spine
"""


# ---------------------------------------------------------------------------
# Joins (SURVEY §2.4 J1-J11)
# ---------------------------------------------------------------------------

def q_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained dim joins + rollup (J3/J4 analog; TPC-H Q5 shape). customer ⨝
    orders shuffles on custkey; nation/region are broadcast by AQE (tiny)."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("order_count"),
            F.countDistinct("o_custkey").alias("customers"),
            _dec_sum("o_totalprice", 2).alias("revenue"),
            _dec_avg("o_totalprice", 4).alias("avg_order_value"),
        )
    )


SQL_REVENUE_BY_REGION = f"""
SELECT r_name AS region, n_name AS nation,
       count(*) AS order_count,
       count(DISTINCT o_custkey) AS customers,
       {_dec_sum_sql('o_totalprice', 2)} AS revenue,
       {_dec_avg_sql('o_totalprice', 4)} AS avg_order_value
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1, 2
"""


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-membership — reference spark_jobs/bronze.py:32-34 `WHERE x NOT IN
    (SELECT DISTINCT ...)` (P7/J10): left-anti join, the Catalyst rewrite of
    NOT IN over non-null keys."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        customer.join(orders.select("o_custkey").distinct(), customer.c_custkey == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


SQL_CUSTOMERS_WITHOUT_ORDERS = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE c_custkey NOT IN (SELECT DISTINCT o_custkey FROM orders)
"""


def q_product_performance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily product sales — reference
    marts/metrics/metrics_product_performance_daily.sql:5-47 (A9, J7/J8):
    lineitem ⨝ orders (date source) ⨝ part (dim), grouped by (brand, month)."""
    li = fan_out(_t(spark, sf_dir, "lineitem"))
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part")
    joined = (
        li.join(orders.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(part.select("p_partkey", "p_brand")), li.l_partkey == F.col("p_partkey"))
    )
    # Two-level aggregate instead of countDistinct mixed with plain sums:
    # the mixed form plans an Expand that DOUBLES every post-join row into
    # the shuffle (r14 profile: 23.5 MB shuffled off a 12.9 MB input).
    # Level 1 partial-aggregates per (brand, month, orderkey) — map-side
    # combined, no Expand; level 2 rolls up, where count(1) over the
    # orderkey-level rows IS the distinct order count. Decimal sums are
    # exact and associative, so sum-of-partial-sums is bit-identical; the
    # final casts/divisions replicate _dec_sum/_net_revenue/_dec_avg
    # exactly.
    ext = F.col("l_extendedprice").cast("decimal(12,4)")
    disc = F.col("l_discount").cast("decimal(6,4)")
    one = F.lit(1).cast("decimal(6,4)")
    g1 = joined.groupBy(
        F.col("p_brand").alias("brand"),
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        F.col("l_orderkey"),
    ).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("__q"),
        F.sum(ext * (one - disc)).alias("__rev"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).alias("__px"),
        F.count(F.lit(1)).alias("__n"),
    )
    return g1.groupBy("brand", "order_month").agg(
        F.sum("__q").cast("double").alias("units_sold"),
        F.count(F.lit(1)).alias("order_count"),
        F.sum("__rev").cast("decimal(38,4)").cast("double").alias("net_revenue"),
        (F.sum("__px").cast("double") / F.sum("__n")).alias("avg_line_price"),
    )


SQL_PRODUCT_PERFORMANCE = f"""
SELECT p_brand AS brand,
       strftime(o_orderdate, '%Y-%m') AS order_month,
       {_dec_sum_sql('l_quantity', 2)} AS units_sold,
       count(DISTINCT l_orderkey) AS order_count,
       {_NET_REVENUE_SQL} AS net_revenue,
       {_dec_avg_sql('l_extendedprice', 4)} AS avg_line_price
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN part ON l_partkey = p_partkey
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Arrays / explode / higher-order functions (SURVEY F9/F10/A10)
# ---------------------------------------------------------------------------

def q_order_items_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-of-struct aggregation — reference stg_orders.sql:41-52 computes
    item_count/order_total from a LIST<STRUCT> without unnesting (F10/A10).
    Here: build the items array per order (sorted for determinism), then
    size() + aggregate() higher-order fold — explode-free, JVM-side."""
    li = _t(spark, sf_dir, "lineitem")
    items = (
        li.groupBy(F.col("l_orderkey").alias("order_key"))
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("l_linenumber").alias("line"),
                        F.col("l_quantity").alias("quantity"),
                        F.col("l_extendedprice").alias("price"),
                    )
                )
            ).alias("items")
        )
    )
    fold = F.aggregate(
        "items",
        F.lit(0).cast("decimal(32,8)"),
        lambda acc, x: (
            acc + x.quantity.cast("decimal(12,4)") * x.price.cast("decimal(12,4)")
        ).cast("decimal(32,8)"),
    )
    return items.select(
        "order_key",
        F.size("items").cast("long").alias("item_count"),
        fold.cast("double").alias("order_total"),
    )


SQL_ORDER_ITEMS_ARRAY = """
WITH items AS (
    SELECT l_orderkey AS order_key,
           list(struct_pack(line := l_linenumber, quantity := l_quantity, price := l_extendedprice)
                ORDER BY l_linenumber) AS items
    FROM lineitem GROUP BY 1
)
SELECT order_key,
       len(items) AS item_count,
       CAST(list_sum(list_transform(items,
             x -> CAST(x.quantity AS DECIMAL(12,4)) * CAST(x.price AS DECIMAL(12,4)))) AS DOUBLE) AS order_total
FROM items
"""


def q_exploded_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode/unnest roundtrip — reference stg_order_items.sql:19 `cross
    join unnest(items)` (F9/J9): rebuild per-line rows from the array and
    compute line amounts."""
    li = _t(spark, sf_dir, "lineitem")
    items = li.groupBy(F.col("l_orderkey").alias("order_key")).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("l_linenumber").alias("line"), F.col("l_quantity").alias("quantity"), F.col("l_extendedprice").alias("price")))
        ).alias("items")
    )
    exploded = items.select("order_key", F.explode("items").alias("item"))
    return exploded.select(
        "order_key",
        F.col("item.line").alias("line"),
        (F.col("item.quantity") * F.col("item.price")).alias("line_amount"),
    )


SQL_EXPLODED_LINES = """
SELECT l_orderkey AS order_key, l_linenumber AS line,
       (l_quantity * l_extendedprice) AS line_amount
FROM lineitem
"""


# ---------------------------------------------------------------------------
# Sessionization (SURVEY §2.8, A1)
# ---------------------------------------------------------------------------

def q_session_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) then per-user rollup —
    the lag+cumsum construction; reference sessionizes upstream in its
    generator (SURVEY §2.8 'Sessionization')."""
    ev = _t(spark, sf_dir, "events")
    s = sessionize_by_gap(ev, "user_id", "ts", 1800, order_tiebreak="event_id")
    return s.groupBy("user_id").agg(
        F.max("session_seq").cast("long").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


SQL_SESSION_ROLLUP = """
WITH flagged AS (
    SELECT user_id,
           CASE WHEN lag(ts) OVER w IS NULL
                     OR date_diff('second', lag(ts) OVER w, ts) > 1800
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       CAST(sum(new_session) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM flagged GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# Distinct / set ops (SURVEY §2.7)
# ---------------------------------------------------------------------------

def q_distinct_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT — reference bronze.py:33,63."""
    return _t(spark, sf_dir, "events").select("event_type").distinct()


SQL_DISTINCT_EVENT_TYPES = "SELECT DISTINCT event_type FROM events"


# ---------------------------------------------------------------------------
# Semi-structured: JSON props (ingest-boundary parsing, SURVEY F11)
# ---------------------------------------------------------------------------

def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction + rollup. The reference parses JSON only at the
    ingest boundary (S2/S3); here the same capability inside a query.
    ``from_json`` with a declared schema parses each document once
    (vectorized Jackson) — ~2x over per-path ``get_json_object``."""
    from pyspark.sql.types import LongType, StructField, StructType

    ev = _t(spark, sf_dir, "events")
    k = F.from_json("props", StructType([StructField("k", LongType())]))["k"]
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("k_sum"),
        F.round(F.avg(k), 4).alias("k_avg"),
        F.count(F.lit(1)).alias("n"),
    )


SQL_JSON_PROPS = """
SELECT event_type,
       CAST(sum(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS k_sum,
       round(avg(CAST(props ->> '$.k' AS BIGINT)), 4) AS k_avg,
       count(*) AS n
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# Training-data ops: text analysis (extension surface)
# ---------------------------------------------------------------------------

def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality scoring over documents — whitespace
    tokenization, punct/stopword ratios, mean token length (C4/Gopher-style
    pre-filters). All JVM-side higher-order functions."""
    from ecommerce_analytics_platform_spark.functions.text import (
        _EN_STOPWORDS,
        tokens,
        with_materialized,
    )

    docs = _t(spark, sf_dir, "documents")
    # materialize the token array ONCE (Generate barrier), then every stat
    # is an independent vectorized pass — 4x over the struct-fold form
    base = with_materialized(fan_out(docs.select("doc_id", "text")), tokens(F.col("text")), "toks")
    n_tokens = F.size("toks").cast("long")
    n_chars = F.length("text")
    punct = n_chars - F.length(F.regexp_replace("text", r"[.,;:!?'\"()\[\]{}-]", ""))
    stop = F.size(F.filter("toks", lambda w: F.lower(w).isin(*_EN_STOPWORDS)))
    char_sum = F.length(F.regexp_replace(F.trim("text"), r"\s+", ""))
    return base.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(punct / F.greatest(n_chars, F.lit(1)), 6).alias("punct_ratio"),
        F.round(stop / F.greatest(n_tokens, F.lit(1)), 6).alias("stopword_ratio"),
        F.round(
            F.when(n_tokens > 0, char_sum / n_tokens).otherwise(F.lit(0.0)), 6
        ).alias("mean_token_len"),
    )


SQL_TOKEN_STATS = r"""
SELECT doc_id,
       length(text) AS n_chars,
       CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
       round((length(text) - length(regexp_replace(text, $$[.,;:!?'"()\[\]{}-]$$, '', 'g')))
             / greatest(length(text), 1), 6) AS punct_ratio,
       round(CASE WHEN trim(text) = '' THEN 0 ELSE
             len(list_filter(string_split_regex(trim(text), '\s+'),
                             w -> lower(w) IN ('the','and','of','to','is'))) END
             / greatest(CASE WHEN trim(text) = '' THEN 0 ELSE len(string_split_regex(trim(text), '\s+')) END, 1), 6) AS stopword_ratio,
       round(CASE WHEN trim(text) = '' OR len(string_split_regex(trim(text), '\s+')) = 0 THEN 0.0 ELSE
             length(regexp_replace(trim(text), '\s+', '', 'g'))
             / len(string_split_regex(trim(text), '\s+')) END, 6) AS mean_token_len
FROM documents
"""


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID via marker-word counts; deterministic argmax."""
    from ecommerce_analytics_platform_spark.functions.text import (
        LANG_MARKERS,
        language_score_struct,
        predicted_lang_from_struct,
        with_materialized,
    )

    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    # r14: the per-language marker fold is a higher-order aggregate that
    # runs INTERPRETED (no whole-stage codegen for lambda functions), so
    # every reference re-evaluates the whole fold — predicted_lang alone
    # references it 11x. Materialize the struct once per row
    # (guide §1.2; domain aggregate twin measured 0.90 -> 0.47 s).
    base = with_materialized(docs, language_score_struct(F.col("text")), "ls")
    return base.select(
        "doc_id",
        predicted_lang_from_struct(F.col("ls")).alias("predicted_lang"),
        *[F.col("ls")[l].alias(f"score_{l}") for l in sorted(LANG_MARKERS)],
    )


def _langid_sql() -> str:
    from ecommerce_analytics_platform_spark.functions.text import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    score_exprs = {
        l: (
            r"len(list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> w IN ("
            + ", ".join(f"'{m}'" for m in LANG_MARKERS[l])
            + ")))"
        )
        for l in langs
    }
    greatest = "greatest(" + ", ".join(score_exprs[l] for l in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN {score_exprs[l]} = {greatest} AND {greatest} > 0 THEN '{l}'" for l in langs
    ) + " ELSE 'und' END"
    cols = ",\n       ".join(f"{score_exprs[l]} AS score_{l}" for l in langs)
    return f"""
SELECT doc_id,
       CASE WHEN trim(text) = '' THEN 'und' ELSE {case} END AS predicted_lang,
       {cols}
FROM documents
"""


def q_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val split — the reproducible-split
    primitive of a training-data pipeline (content-stable: same doc → same
    split on any cluster size, unlike sample())."""
    docs = _t(spark, sf_dir, "documents")
    bucket = F.pmod(portable_hash60(F.col("doc_id").cast("string")), F.lit(100))
    split = F.when(bucket < 90, "train").otherwise("val")
    return docs.select("doc_id", split.alias("split")).groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
    )


SQL_TRAIN_VAL_SPLIT = """
WITH s AS (
    SELECT doc_id,
           CASE WHEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100) < 90
                THEN 'train' ELSE 'val' END AS split
    FROM documents
)
SELECT split, count(*) AS n_docs, min(doc_id) AS min_doc_id
FROM s GROUP BY split
"""


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary with document frequencies — the wordcount /
    vocab-building pass of a training-data pipeline: explode lowercased
    tokens, aggregate term frequency + document frequency, keep terms in
    >= 5 documents, deterministic order columns. One shuffle on the term."""
    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    ).select("doc_id", F.lower("tok").alias("term"))
    return (
        toks.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .filter(F.col("df") >= 5)
    )


SQL_VOCAB_TOPK = r"""
WITH t AS (
    SELECT doc_id, lower(unnest(string_split_regex(trim(text), '\s+'))) AS term
    FROM documents WHERE trim(text) <> ''
)
SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
FROM t GROUP BY term HAVING count(DISTINCT doc_id) >= 5
"""


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-content dedup via portable 60-bit hash groupBy (the cheap first
    pass of corpus dedup): hash, representative id = min, cluster size."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_exact(docs, "text", "doc_id").select("content_hash", "doc_id", "dup_count")


SQL_EXACT_DEDUP = r"""
SELECT ('0x' || substr(md5(regexp_replace(trim(text), '\s+', ' ', 'g')), 1, 15))::BIGINT AS content_hash,
       min(doc_id) AS doc_id,
       count(*) AS dup_count
FROM documents GROUP BY 1
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 60-bit fingerprint (portable md5-based hash of the
    whitespace-normalized text)."""
    from ecommerce_analytics_platform_spark.functions.text import doc_fingerprint

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", doc_fingerprint(F.col("text")).alias("fingerprint"))


SQL_DOC_FINGERPRINT = r"""
SELECT doc_id,
       ('0x' || substr(md5(regexp_replace(trim(text), '\s+', ' ', 'g')), 1, 15))::BIGINT AS fingerprint
FROM documents
"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (4-member multmod61 family over one md5 per
    shingle) — the building block of MinHash-LSH dedup. Shingle bases are
    md5-hashed JVM-side (bit-identical to the DuckDB twin); the hash family
    + per-document min runs vectorized in numpy (text.minhash_table)."""
    from ecommerce_analytics_platform_spark.functions.text import minhash_table

    docs = _t(spark, sf_dir, "documents")
    return minhash_table(docs, "doc_id", "text", num_hashes=4, shingle_n=3).withColumnRenamed(
        "__id", "doc_id"
    )


_SHINGLES_SQL = r"""
        CASE WHEN len(string_split_regex(trim(text), '\s+')) < 3 THEN CAST([] AS VARCHAR[])
             ELSE list_transform(
                 generate_series(1, len(string_split_regex(trim(text), '\s+')) - 2),
                 i -> string_split_regex(trim(text), '\s+')[i] || ' ' ||
                      string_split_regex(trim(text), '\s+')[i+1] || ' ' ||
                      string_split_regex(trim(text), '\s+')[i+2])
        END
    """


def _mh_cols_sql(num_hashes: int) -> str:
    """Per-seed minhash SQL over the ``bases`` array (one md5 per shingle,
    multmod61 family per seed — the exact twin of text.minhash_struct)."""
    from ecommerce_analytics_platform_spark.functions.compat import (
        minhash_seeds,
        multmod61_sql,
    )

    seeds = minhash_seeds(num_hashes)
    return ",\n       ".join(
        f"list_min(list_transform(bases, h -> {multmod61_sql('h', a, b)})) AS mh{i}"
        for i, (a, b) in enumerate(seeds)
    )


_BASES_SQL = "list_transform(sh, s -> ('0x' || substr(md5(s), 1, 15))::BIGINT)"


def _minhash_sql(num_hashes: int = 4) -> str:
    return f"""
WITH shingled AS (
    SELECT doc_id, ({_SHINGLES_SQL}) AS sh FROM documents
), based AS (
    SELECT doc_id, {_BASES_SQL} AS bases FROM shingled WHERE len(sh) > 0
)
SELECT doc_id, {_mh_cols_sql(num_hashes)}
FROM based
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash over whitespace tokens (portable hash family)."""
    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return docs.select("doc_id", simhash64(F.col("text"), bits=16).alias("simhash")).filter(
        F.size(tokens(F.col("text"))) > 0
    )


def _simhash_sql(bits: int = 16) -> str:
    h = "('0x' || substr(md5(w), 1, 15))::BIGINT"
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(toks, w -> CASE WHEN ({h} >> {b}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(bits)
    )
    return rf"""
WITH tokd AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
    FROM documents WHERE trim(text) <> ''
)
SELECT doc_id, CAST({bit_terms} AS BIGINT) AS simhash FROM tokd
"""


# ---------------------------------------------------------------------------
# r15: the cross-query result memos that used to live here (_PAIR_MEMO /
# _memo_pairs, keyed on testdata-file identity) were REMOVED per the r14
# verdict: collecting a declared query's result rows to the driver and
# replaying them as a literal DataFrame across queries and bench attempts
# meant the reported numbers measured the replay, not the query. Every
# declared query now computes its result from the parquet inputs on every
# invocation; sharing of intermediates happens only WITHIN one invocation
# (persist/localCheckpoint inside the query's own DAG, dropped by the
# bench between attempts).
# ---------------------------------------------------------------------------

# Literal rows → DataFrame via the Arrow path: see session.literal_df.
# Still used for rows an algorithm INHERENTLY computes on the driver per
# invocation (BPE/unigram training collect each round's winner to build
# the next round — nothing is reused across invocations).
from ecommerce_analytics_platform_spark.session import literal_df as _literal_df


def _lsh_pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        num_hashes=16, bands=4,
    )


def q_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate near-dup pairs (16 hashes, 4 bands): the only
    shuffle is on (band, bucket) so the join never goes quadratic."""
    return _lsh_pairs_df(spark, sf_dir)


def _band_rows_sql(num_hashes: int, bands: int) -> str:
    rows = num_hashes // bands
    return " UNION ALL ".join(
        "SELECT {b} AS band, ('0x' || substr(md5({concat}), 1, 15))::BIGINT AS bucket, doc_id FROM sigs".format(
            b=b,
            concat=" || '_' || ".join(
                f"CAST(mh{b * rows + j} AS VARCHAR)" for j in range(rows)
            ),
        )
        for b in range(bands)
    )


def _neardup_sql(num_hashes: int = 16, bands: int = 4) -> str:
    return f"""
WITH shingled AS (
    SELECT doc_id, ({_SHINGLES_SQL}) AS sh FROM documents
), based AS (
    SELECT doc_id, {_BASES_SQL} AS bases FROM shingled WHERE len(sh) > 0
), sigs AS (
    SELECT doc_id, {_mh_cols_sql(num_hashes)} FROM based
), buckets AS ({_band_rows_sql(num_hashes, bands)})
SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS n_bands
FROM buckets l JOIN buckets r
  ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
GROUP BY 1, 2
"""


def q_neardup_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH pairs under the boilerplate guardrail: band-buckets
    holding more than max_bucket=2 docs are deterministically dropped
    BEFORE the self-join (operators/dedup.py max_bucket — the cap that
    keeps one shared footer from making a bucket quadratic at 100 TB).
    The oracle applies the identical cap, so the row is robust to however
    many mega-buckets the data happens to contain."""
    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), "doc_id", "text",
        num_hashes=16, bands=4, max_bucket=2,
    )


def _neardup_capped_sql(num_hashes: int = 16, bands: int = 4, max_bucket: int = 2) -> str:
    return f"""
WITH shingled AS (
    SELECT doc_id, ({_SHINGLES_SQL}) AS sh FROM documents
), based AS (
    SELECT doc_id, {_BASES_SQL} AS bases FROM shingled WHERE len(sh) > 0
), sigs AS (
    SELECT doc_id, {_mh_cols_sql(num_hashes)} FROM based
), buckets AS ({_band_rows_sql(num_hashes, bands)}),
small AS (
    SELECT band, bucket FROM buckets GROUP BY 1, 2 HAVING count(*) <= {max_bucket}
), capped AS (
    SELECT b.band, b.bucket, b.doc_id FROM buckets b
    JOIN small s ON b.band = s.band AND b.bucket = s.bucket
)
SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS n_bands
FROM capped l JOIN capped r
  ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
GROUP BY 1, 2
"""


def q_neardup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates → exact n-gram Jaccard verification — the full
    production near-dup composition (candidate generation never goes
    quadratic; the exact check runs only on collided pairs). The hashed-
    shingle arrays are computed ONCE (text.shingle_bases, persisted) and
    shared by both the MinHash signatures and the exact Jaccard: Jaccard
    over 60-bit shingle hashes equals Jaccard over the raw shingles, and
    md5 is engine-identical so the oracle twin intersects the same hashed
    lists."""
    from ecommerce_analytics_platform_spark.functions.text import shingle_bases

    docs = _t(spark, sf_dir, "documents")
    # _pin: the hashed-shingle relation feeds both sides of the verify
    # join; lifetime goes to the registry (released on next query entry)
    based = _pin(shingle_bases(docs, "doc_id", "text", 3).persist())
    cand = _lsh_pairs_df(spark, sf_dir).select("id_a", "id_b")
    sh = based.select(
        F.col("__id").alias("doc_id"), F.array_distinct("__bases").alias("ds")
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("ds").alias("ds_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("ds").alias("ds_b"))
    inter = F.size(F.array_intersect("ds_a", "ds_b"))
    union = F.size("ds_a") + F.size("ds_b") - inter
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", F.round(inter / union, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.2)
    )


def _neardup_verified_sql(num_hashes: int = 16, bands: int = 4) -> str:
    return f"""
WITH shingled AS (
    SELECT doc_id, ({_SHINGLES_SQL}) AS sh FROM documents
), based AS (
    SELECT doc_id, sh, {_BASES_SQL} AS bases FROM shingled WHERE len(sh) > 0
), sigs AS (
    SELECT doc_id, {_mh_cols_sql(num_hashes)} FROM based
), buckets AS ({_band_rows_sql(num_hashes, bands)}),
cand AS (
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
    FROM buckets l JOIN buckets r
      ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
), dsets AS (
    SELECT doc_id, list_distinct(bases) AS ds FROM based
)
SELECT id_a, id_b,
       round(len(list_intersect(a.ds, b.ds))
             / (len(a.ds) + len(b.ds) - len(list_intersect(a.ds, b.ds))), 6) AS jaccard
FROM cand JOIN dsets a ON cand.id_a = a.doc_id JOIN dsets b ON cand.id_b = b.doc_id
WHERE round(len(list_intersect(a.ds, b.ds))
            / (len(a.ds) + len(b.ds) - len(list_intersect(a.ds, b.ds))), 6) >= 0.2
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (operators/asof.py): for each event, the user's
    most recent order-day total at-or-before the event. Beyond the
    reference's equi-join surface (SURVEY §2.4) — the union+window
    construction, one shuffle on the key, no quadratic range join."""
    from ecommerce_analytics_platform_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    # right side unique per (custkey, day) so as-of ties are deterministic
    orders = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("timestamp").alias("order_ts"),
        )
        .agg(_dec_sum("o_totalprice", 2).alias("day_total"))
    )
    out = asof_join(
        ev, orders, key="user_id", left_ts="ts", right_ts="order_ts",
        right_payload=["day_total"],
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.col("order_ts").alias("last_order_ts"),
        F.col("day_total").alias("last_day_total"),
    )


SQL_ASOF_JOIN = f"""
WITH day_orders AS (
    SELECT o_custkey AS user_id,
           CAST(o_orderdate AS TIMESTAMP) AS order_ts,
           {_dec_sum_sql('o_totalprice', 2)} AS day_total
    FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, e.ts,
       o.order_ts AS last_order_ts,
       o.day_total AS last_day_total
FROM events e
ASOF LEFT JOIN day_orders o
  ON e.user_id = o.user_id AND e.ts >= o.order_ts
"""


def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frames (rowsBetween unbounded-preceding..current): per-user
    running event count and decimal-exact running value sum. Beyond the
    reference's row_number-only window surface (SURVEY §2.6)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("running_events"),
        F.sum(F.col("value").cast("decimal(18,4)")).over(w).cast("double").alias("running_value"),
    )


SQL_RUNNING_TOTAL = """
SELECT user_id, event_id, ts,
       count(*) OVER w AS running_events,
       CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS running_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def q_event_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / lag / lead over a deterministic order — the
    analytic-window family beyond the reference's row_number (W1-W3)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return ev.select(
        "user_id",
        "event_id",
        F.rank().over(w).cast("long").alias("value_rank"),
        F.dense_rank().over(w).cast("long").alias("value_dense_rank"),
        F.lag("event_id").over(w).alias("prev_event_id"),
        F.lead("event_id").over(w).alias("next_event_id"),
    ).filter(F.col("value_rank") <= 3)


SQL_EVENT_RANK = """
SELECT user_id, event_id,
       rank() OVER w AS value_rank,
       dense_rank() OVER w AS value_dense_rank,
       lag(event_id) OVER w AS prev_event_id,
       lead(event_id) OVER w AS next_event_id
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id ASC)
QUALIFY value_rank <= 3
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION (SURVEY §2.7 notes the reference has
    none — coverage beyond it): purchase∩view users, purchase∖click users,
    tagged into one result."""
    ev = _t(spark, sf_dir, "events")

    def users(etype: str) -> DataFrame:
        return ev.filter(F.col("event_type") == etype).select("user_id")

    both = users("purchase").intersect(users("view")).withColumn("op", F.lit("purchase_and_view"))
    only = users("purchase").subtract(users("click")).withColumn(
        "op", F.lit("purchase_not_click")
    )
    return both.unionByName(only)


SQL_SET_OPS = """
SELECT user_id, 'purchase_and_view' AS op FROM (
    SELECT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'view'
)
UNION ALL
SELECT DISTINCT user_id, 'purchase_not_click' AS op FROM (
    SELECT user_id FROM events WHERE event_type = 'purchase'
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'click'
)
"""


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers having at least one urgent order
    — the membership-test join family beside the anti join (P7/J10)."""
    customer = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return customer.join(
        urgent, customer.c_custkey == urgent.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


SQL_SEMI_JOIN = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
"""


def q_sales_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all 4 combinations of mktsegment × orderpriority
    subtotals) — completes the grouping-set family beside ROLLUP."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    base = orders.join(customer, orders.o_custkey == customer.c_custkey).select(
        "c_mktsegment", "o_orderpriority", "o_totalprice"
    )
    return base.cube("c_mktsegment", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count"),
        _dec_sum("o_totalprice", 2).alias("revenue"),
    )


SQL_SALES_CUBE = f"""
SELECT c_mktsegment, o_orderpriority,
       count(*) AS order_count,
       {_dec_sum_sql('o_totalprice', 2)} AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY CUBE (c_mktsegment, o_orderpriority)
"""


def q_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide): per-day event counts as one column per event
    type. Explicit value list so the plan is single-pass (no distinct scan)
    — the scalable form of pivot."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "login", "logout", "purchase", "view"]
    return (
        ev.groupBy(F.col("ts").cast("date").alias("event_date"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
        .select("event_date", *[F.col(t).cast("long").alias(f"n_{t}") for t in types])
    )


SQL_EVENT_PIVOT = """
SELECT CAST(ts AS DATE) AS event_date,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(sum(CASE WHEN event_type = 'login' THEN 1 ELSE 0 END) AS BIGINT) AS n_login,
       CAST(sum(CASE WHEN event_type = 'logout' THEN 1 ELSE 0 END) AS BIGINT) AS n_logout,
       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
FROM events GROUP BY 1
"""


def q_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy matching: supplier-name pairs within edit distance 2, blocked
    by nation (the blocking keeps the candidate join linear-ish — the same
    discipline as LSH for text). levenshtein is identical cross-engine."""
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    a = sup.select(
        F.col("s_suppkey").alias("id_a"), F.col("s_name").alias("name_a"), "s_nationkey"
    )
    b = sup.select(
        F.col("s_suppkey").alias("id_b"), F.col("s_name").alias("name_b"), "s_nationkey"
    )
    return (
        a.join(b, "s_nationkey")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= 2)
        .select("id_a", "id_b", "edit_dist")
    )


SQL_FUZZY_PAIRS = """
SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
       levenshtein(a.s_name, b.s_name) AS edit_dist
FROM supplier a JOIN supplier b
  ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey
WHERE levenshtein(a.s_name, b.s_name) <= 2
"""


def q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted Neighborhood Method blocking (Hernández & Stolfo 1995) —
    the third candidate-generation strategy next to LSH banding and
    key-equality blocking: sort by a fuzzy key (lowercased 16-char text
    prefix), emit each record paired with its next w−1 neighbors in sort
    order. One window pass (lead, no self-join); sort scope is bounded
    per 2-char prefix block, so at 100 TB each block sorts
    independently — the standard parallel-SNM partitioning (boundary
    pairs across blocks are the documented recall loss of that scheme).
    Fully deterministic (doc_id tiebreak), exact SQL twin."""
    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    key = F.lower(F.substring(F.trim(F.col("text")), 1, 16))
    base = docs.select("doc_id", key.alias("snm_key")).withColumn(
        "blk", F.substring("snm_key", 1, 2)
    )
    w = Window.partitionBy("blk").orderBy("snm_key", "doc_id")
    led = base.select(
        F.col("doc_id").alias("id_a"),
        F.lead("doc_id", 1).over(w).alias("b1"),
        F.lead("doc_id", 2).over(w).alias("b2"),
    )
    return led.select(
        "id_a", F.expr("stack(2, 1, b1, 2, b2) AS (gap, id_b)")
    ).filter(F.col("id_b").isNotNull()).select("id_a", "id_b", "gap")


SQL_SORTED_NEIGHBORHOOD = """
WITH base AS (
    SELECT doc_id, lower(substr(trim(text), 1, 16)) AS snm_key
    FROM documents
), led AS (
    SELECT doc_id AS id_a,
           lead(doc_id, 1) OVER w AS b1,
           lead(doc_id, 2) OVER w AS b2
    FROM base
    WINDOW w AS (PARTITION BY substr(snm_key, 1, 2) ORDER BY snm_key, doc_id)
)
SELECT id_a, b1 AS id_b, CAST(1 AS INT) AS gap FROM led WHERE b1 IS NOT NULL
UNION ALL
SELECT id_a, b2 AS id_b, CAST(2 AS INT) AS gap FROM led WHERE b2 IS NOT NULL
"""


def q_sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (region → region+nation → grand total) —
    beyond the reference (SURVEY §2.5: "no grouping sets / cube / rollup
    anywhere"); subtotal rows carry NULL group keys in both engines."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    base = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(F.col("r_name").alias("region"), F.col("n_name").alias("nation"), "o_totalprice")
    )
    return base.rollup("region", "nation").agg(
        F.count(F.lit(1)).alias("order_count"),
        _dec_sum("o_totalprice", 2).alias("revenue"),
    )


SQL_SALES_ROLLUP = f"""
SELECT r_name AS region, n_name AS nation,
       count(*) AS order_count,
       {_dec_sum_sql('o_totalprice', 2)} AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates — HyperLogLog++ distinct counts and quantile
    sketches per event type. THE scale path for distincts/percentiles at
    100 TB (exact countDistinct pays an Expand + full shuffle; HLL is one
    mergeable 1.5 KB sketch per group). Sketch internals are
    engine-specific, so the checkable relation is the accuracy contract
    (same pattern as the ANN trio's _recall_check): exact counts/exact
    percentiles hash-match the DuckDB twin, and ``hll_ok``/``q_ok`` flip
    false — failing the driver gate — on any real accuracy regression
    (HLL rsd=0.02 given 5% headroom; approx quantiles given 5% relative
    + 1.0 absolute vs the interpolated exact). Tight bounds are
    additionally pytest-asserted in tests/test_registry.py."""
    ev = _t(spark, sf_dir, "events")
    # The distinct-count aggregates and the percentile aggregates are
    # SPLIT into two aggregations joined on event_type: mixing
    # countDistinct with percentile buffers in one agg forces an Expand
    # whose (event_type, user_id) key count pushes ObjectHashAggregate
    # past its 128-key sort-based fallback, dragging every percentile
    # buffer through sort/serialization (measured r14: 3.25 s fused vs
    # 0.65 s split at sf0.1 — guide §1.2 "per-task work"). Exact columns
    # are bit-identical; approx_count_distinct over the deduped pairs is
    # the same HLL (duplicate-insensitive); __q's summary merge order
    # changes but only feeds the toleranced q_ok contract.
    users = (
        ev.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("exact_users"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("__approx_users"),
        )
    )
    vals = ev.groupBy("event_type").agg(
        F.percentile_approx("value", [0.5, 0.9], 10_000).alias("__q"),
        F.round(F.percentile(F.col("value"), F.lit(0.5)), 4).alias("p50_exact"),
        F.round(F.percentile(F.col("value"), F.lit(0.9)), 4).alias("p90_exact"),
        F.count(F.lit(1)).alias("n"),
    )
    g = users.join(vals, "event_type")
    tol = lambda a, e: F.abs(a - e) <= 0.05 * F.abs(e) + F.lit(1.0)  # noqa: E731
    return g.select(
        "event_type",
        "exact_users",
        "p50_exact",
        "p90_exact",
        "n",
        tol(F.col("__approx_users"), F.col("exact_users")).alias("hll_ok"),
        (
            tol(F.col("__q")[0], F.col("p50_exact"))
            & tol(F.col("__q")[1], F.col("p90_exact"))
        ).alias("q_ok"),
    )


SQL_APPROX_SKETCHES = """
SELECT event_type,
       count(DISTINCT user_id) AS exact_users,
       round(quantile_cont(value, 0.5), 4) AS p50_exact,
       round(quantile_cont(value, 0.9), 4) AS p90_exact,
       count(*) AS n,
       true AS hll_ok,
       true AS q_ok
FROM events GROUP BY event_type
"""


def q_percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median / p90) per event type — the
    reference has no percentiles (SURVEY §2.5); linear interpolation
    (percentile_cont) matches DuckDB quantile_cont."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile(F.col("value"), F.lit(0.5)), 4).alias("p50_value"),
        F.round(F.percentile(F.col("value"), F.lit(0.9)), 4).alias("p90_value"),
        F.count(F.lit(1)).alias("n"),
    )


SQL_PERCENTILE_STATS = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50_value,
       round(quantile_cont(value, 0.9), 4) AS p90_value,
       count(*) AS n
FROM events GROUP BY event_type
"""


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed range join (operators/rangejoin.py): per event, how
    many same-user order-days fall in the 7 days ending at the event.
    Equi-join on (user, day-bucket) — never a nested-loop range join."""
    from ecommerce_analytics_platform_spark.operators.rangejoin import range_join_buckets

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        _t(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("timestamp").alias("order_ts"),
        )
        .distinct()
        .withColumn("win_lo", F.col("order_ts"))
        .withColumn("win_hi", F.col("order_ts") + F.expr("INTERVAL 7 DAYS"))
    )
    joined = range_join_buckets(
        ev, orders, key="user_id", left_ts="ts",
        right_lo="win_lo", right_hi="win_hi",
        bucket_seconds=7 * 86400, how="left",
    )
    return joined.groupBy("event_id", "user_id", "ts").agg(
        F.count("order_ts").alias("orders_in_prior_week")
    )


SQL_RANGE_JOIN = """
WITH o AS (
    SELECT DISTINCT o_custkey AS user_id, CAST(o_orderdate AS TIMESTAMP) AS order_ts
    FROM orders
)
SELECT e.event_id, e.user_id, e.ts,
       count(o.order_ts) AS orders_in_prior_week
FROM events e
LEFT JOIN o ON e.user_id = o.user_id
           AND e.ts >= o.order_ts
           AND e.ts <= o.order_ts + INTERVAL 7 DAY
GROUP BY 1, 2, 3
"""


def q_time_bucket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: 6-hour tumbling
    windows (F.window ≙ DuckDB time_bucket) with per-bucket KPIs — the
    streaming-compatible twin of the daily rollups (SURVEY A6)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("events"),
            F.countDistinct("user_id").alias("users"),
            _dec_sum("value", 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("bucket_start"),
            "event_type",
            "events",
            "users",
            "total_value",
        )
    )


SQL_TIME_BUCKET_ROLLUP = f"""
SELECT time_bucket(INTERVAL 6 HOUR, ts) AS bucket_start,
       event_type,
       count(*) AS events,
       count(DISTINCT user_id) AS users,
       {_dec_sum_sql('value', 2)} AS total_value
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Multimodal plumbing over synthetic binary (rows-only checks: the decode
# kernels are deterministic fakes — see functions/multimodal.py — and byte
# folds aren't reasonably SQL-expressible)
# ---------------------------------------------------------------------------

def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, oracle-checked end to end: per doc a solid-color
    PPM is ENCODED with the pure-numpy codec (dims/color from doc_id
    arithmetic), then DECODED by the real kernel — and DuckDB predicts the
    features from the same arithmetic, so the hash compare verifies the
    whole encode→decode round trip. Colors are multiples of 51 so
    mean/255 lands on exact tenths (no cross-engine round() ambiguity)."""
    from ecommerce_analytics_platform_spark.functions.multimodal import (
        decode_image_features,
    )

    # no fan_out: the tiny-PPM codec work is lighter than the per-task
    # Python-worker overhead of a wider fan (measured r14: 0.43-0.48 s at
    # 1-8 tasks vs 1.34 s at 32 — two chained mapInPandas double the
    # worker population); a cluster-scale scan parallelizes by splits
    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        import numpy as np
        import pandas as pd

        from ecommerce_analytics_platform_spark.functions import codecs

        for pdf in batches:
            content = []
            for did in pdf["doc_id"]:
                w, h, c = 2 + did % 7, 2 + did % 5, 51 * (did % 6)
                content.append(codecs.encode_ppm(np.full((h, w, 3), c, dtype=np.uint8)))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "content": content})

    media = docs.mapInPandas(gen, "media_id long, content binary")
    return decode_image_features(media, kernel="real")


SQL_IMAGE_FEATURES = """
SELECT doc_id AS media_id,
       CAST(2 + doc_id % 7 AS INT) AS width,
       CAST(2 + doc_id % 5 AS INT) AS height,
       round((51 * (doc_id % 6)) / 255.0, 6) AS mean_brightness
FROM documents
"""


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV decode, oracle-checked: per doc a constant-amplitude PCM16
    WAV is encoded (amplitude/length from doc_id arithmetic, rate 8192 Hz
    and sample counts in multiples of 1024 so duration and RMS are exact
    eighths — zero round() ambiguity), decoded by the real RIFF parser,
    and DuckDB predicts duration/energy arithmetically."""
    from ecommerce_analytics_platform_spark.functions.multimodal import audio_features

    # no fan_out: constant-PCM WAV codec work is lighter than the
    # per-task Python overhead of a wide fan (same measurement as
    # image_features, r14)
    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        import numpy as np
        import pandas as pd

        from ecommerce_analytics_platform_spark.functions import codecs

        for pdf in batches:
            content = []
            for did in pdf["doc_id"]:
                amp = 4096 * (1 + did % 7)
                n = 1024 * (1 + did % 5)
                content.append(
                    codecs.encode_wav_pcm16(np.full(n, amp, dtype="<i2"), 8192)
                )
            yield pd.DataFrame({"media_id": pdf["doc_id"], "content": content})

    media = docs.mapInPandas(gen, "media_id long, content binary")
    return audio_features(media, kernel="real")


SQL_AUDIO_FEATURES = """
SELECT doc_id AS media_id,
       round((1 + doc_id % 5) / 8.0, 6) AS duration_sec,
       round((1 + doc_id % 7) / 8.0, 6) AS energy
FROM documents
"""


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling (deterministic fake kernel — real decode needs
    av/ffmpeg): one input blob fans out to N frame rows, the explode-shaped
    mapInPandas pattern of a real media pipeline. Frame bytes dropped from
    the output here (count/sizes only) to keep the driver compare light."""
    from ecommerce_analytics_platform_spark.functions.multimodal import sample_video_frames

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"), F.encode("text", "UTF-8").alias("content")
    )
    frames = sample_video_frames(media, every_n_seconds=1.0, kernel="fake")
    return frames.select(
        "media_id", "frame_idx", "frame_ts_sec", F.length("content").alias("frame_bytes")
    )


SQL_VIDEO_FRAMES = """
WITH d AS (
    SELECT doc_id AS media_id, octet_length(encode(text)) AS nb FROM documents
), f AS (
    SELECT media_id, nb,
           greatest(CAST(floor(nb / 256.0) AS BIGINT), 1) AS n_frames
    FROM d
)
SELECT media_id,
       CAST(i AS INTEGER) AS frame_idx,
       CAST(i AS DOUBLE) AS frame_ts_sec,
       CAST(least(64, greatest(nb - i * 256, 0)) AS INTEGER) AS frame_bytes
FROM f, unnest(generate_series(0, n_frames - 1)) AS t(i)
"""


def q_video_frames_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode, oracle-checked end to end (the r5 GIF codec
    under the driver's hash for the first time): per doc a multi-frame
    animated GIF is ENCODED (frame count/dims/solid colors from doc_id
    arithmetic, 0.25 s per frame) with the pure-numpy LZW codec
    (functions/codecs.py::encode_gif), then the REAL sampling kernel
    (functions/multimodal.py::sample_video_frames, kernel="real")
    decodes it — LZW decode, palette lookup, compositing, Graphic
    Control delay accumulation — and samples every 0.5 s, i.e. every
    second frame. DuckDB predicts sampled indices, timestamps, PPM
    re-encode sizes AND per-frame mean brightness purely arithmetically,
    so a hash match proves the whole encode→decode→sample→re-encode
    chain bit-exact. Colors are multiples of 51 so mean/255 lands on
    exact fifths (no cross-engine round ambiguity); timestamps are exact
    binary fractions (i/4)."""
    from ecommerce_analytics_platform_spark.functions.multimodal import (
        sample_video_frames,
    )

    # fan_out with python_depth=3: GIF LZW encode + frame decode + PPM
    # re-encode are three CHAINED mapInPandas in one stage — each task
    # holds 3 live Python workers, so the fan targets cores/3 to keep
    # the worker population ≈ cores (measured r14: 2.18 s at 1 task,
    # 0.84 s at 8, 3.68 s at 32 on local[32]; guide §4)
    docs = fan_out(
        _t(spark, sf_dir, "documents").select("doc_id"), python_depth=3
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        from ecommerce_analytics_platform_spark.functions import codecs

        for pdf in batches:
            content = []
            for did in pdf["doc_id"]:
                n, w, h = 1 + did % 4, 2 + did % 3, 2 + did % 2
                frames = np.stack(
                    [
                        np.full((h, w, 3), 51 * ((did + i) % 6), dtype=np.uint8)
                        for i in range(n)
                    ]
                )
                content.append(codecs.encode_gif(frames, delay_cs=25))
            yield pd.DataFrame({"media_id": pdf["doc_id"], "content": content})

    media = docs.mapInPandas(gen, "media_id long, content binary")
    frames = sample_video_frames(media, every_n_seconds=0.5, kernel="real")

    def feat(batches):
        import pandas as pd

        from ecommerce_analytics_platform_spark.functions import codecs

        for pdf in batches:
            sizes, means = [], []
            for b in pdf["content"]:
                arr = codecs.decode_ppm(bytes(b))
                sizes.append(len(b))
                means.append(round(float(arr.mean()) / 255.0, 6))
            out = pdf[["media_id", "frame_idx", "frame_ts_sec"]].copy()
            out["frame_bytes"] = sizes
            out["mean_brightness"] = means
            yield out

    return frames.mapInPandas(
        feat,
        "media_id long, frame_idx int, frame_ts_sec double, "
        "frame_bytes int, mean_brightness double",
    )


SQL_VIDEO_FRAMES_GIF = """
WITH d AS (
    SELECT doc_id AS media_id,
           1 + doc_id % 4 AS n_frames,
           CAST(2 + doc_id % 3 AS BIGINT) AS w,
           CAST(2 + doc_id % 2 AS BIGINT) AS h
    FROM documents
), f AS (
    SELECT media_id, w, h, unnest(generate_series(0, n_frames - 1)) AS i
    FROM d
)
SELECT media_id,
       CAST(i AS INT) AS frame_idx,
       CAST(i AS DOUBLE) * 0.25 AS frame_ts_sec,
       CAST(11 + 3 * w * h AS INT) AS frame_bytes,
       round(51 * ((media_id + i) % 6) / 255.0, 6) AS mean_brightness
FROM f WHERE i % 2 = 0
"""


def q_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline JPEG round trip, oracle-checked (functions/jpeg.py —
    573 LoC of pure-numpy DCT/quantization/Huffman that no oracle query
    exercised in r5): per doc a two-band grayscale image (8×8-block-
    aligned bands, gray levels from doc_id arithmetic) is encoded at
    quality 90 and decoded back. Dims and source grays are exact
    integers DuckDB predicts arithmetically; lossiness is pinned by the
    quantization-bounded contract ``max_err_ok`` (block-constant content
    round-trips within ±3 of the DC quantization step; measured 0 —
    tests/test_multimodal.py::test_jpeg_roundtrip_tolerances bounds the
    same at ≤1 for constant RGB). A codec regression flips the booleans
    and fails the hash."""
    # fan_out: the DCT/Huffman round trip is the heaviest per-row Python
    # work in the registry — parallelize the local single-task scan
    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id"))

    def rt(batches):
        import numpy as np
        import pandas as pd

        from ecommerce_analytics_platform_spark.functions import jpeg

        for pdf in batches:
            rows = {
                "media_id": [],
                "width": [],
                "height": [],
                "orig_gray": [],
                "jpeg_ok": [],
                "max_err_ok": [],
            }
            for did in pdf["doc_id"]:
                w, h = 16 + 8 * (did % 3), 8 * (1 + did % 2)
                g = 16 + 8 * (did % 25)
                img = np.full((h, w), g, dtype=np.uint8)
                img[:, 8:] = g + 32  # band edge on a block boundary
                dec = jpeg.decode_jpeg(jpeg.encode_jpeg(img, quality=90))
                max_err = int(np.abs(dec[:, :, 0].astype(int) - img.astype(int)).max())
                rows["media_id"].append(did)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["orig_gray"].append(int(g))
                rows["jpeg_ok"].append(dec.shape == (h, w, 1))
                rows["max_err_ok"].append(max_err <= 3)
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        rt,
        "media_id long, width int, height int, orig_gray int, "
        "jpeg_ok boolean, max_err_ok boolean",
    )


SQL_JPEG_ROUNDTRIP = """
SELECT doc_id AS media_id,
       CAST(16 + 8 * (doc_id % 3) AS INT) AS width,
       CAST(8 * (1 + doc_id % 2) AS INT) AS height,
       CAST(16 + 8 * (doc_id % 25) AS INT) AS orig_gray,
       true AS jpeg_ok,
       true AS max_err_ok
FROM documents
"""


def q_product_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static product catalog (reference producers/product_list.py:15-39,
    seed=894 — behavioral port in fixtures/catalog.py) rolled up per
    price-psychology band (.99 / .95 / .49 / whole-dollar). Spark
    aggregates the generated catalog; the oracle aggregates the SAME 1500
    products embedded as a VALUES literal — the hash compare pins the
    generator's determinism and the band arithmetic."""
    from ecommerce_analytics_platform_spark.fixtures.catalog import catalog_df

    cat = catalog_df(spark)
    band = (
        F.when(F.col("price_usd") < 10, ".99")
        .when(F.col("price_usd") < 50, ".95")
        .when(F.col("price_usd") < 150, ".49")
        .otherwise("whole")
    )
    return (
        cat.groupBy(band.alias("price_band"))
        .agg(
            F.count(F.lit(1)).alias("n_products"),
            F.min("price_usd").alias("min_price"),
            F.max("price_usd").alias("max_price"),
            F.sum(F.col("price_usd").cast("decimal(18,4)")).cast("double").alias("total_price"),
        )
        .orderBy("price_band")
    )


def _product_catalog_sql() -> str:
    from ecommerce_analytics_platform_spark.fixtures.catalog import generate_catalog

    values = ", ".join(
        f"('{p['product_id']}', {p['price_usd']!r})" for p in generate_catalog()
    )
    return f"""
WITH catalog(product_id, price_usd) AS (VALUES {values}),
banded AS (
    SELECT CASE WHEN price_usd < 10 THEN '.99'
                WHEN price_usd < 50 THEN '.95'
                WHEN price_usd < 150 THEN '.49'
                ELSE 'whole' END AS price_band,
           CAST(price_usd AS DOUBLE) AS price_usd
    FROM catalog
)
SELECT price_band,
       count(*) AS n_products,
       min(price_usd) AS min_price,
       max(price_usd) AS max_price,
       CAST(sum(CAST(price_usd AS DECIMAL(18,4))) AS DOUBLE) AS total_price
FROM banded
GROUP BY price_band
ORDER BY price_band
"""


# ---------------------------------------------------------------------------
# Similarity search over embeddings (extension surface)
# ---------------------------------------------------------------------------

def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for every vector via broadcast corpus +
    blocked BLAS matmul inside mapInPandas (~25x over the zip_with
    brute-force at 5k x 5k; see operators/similarity.py). Same semantics:
    score rounded to 4dp, rank by (cosine DESC, id ASC).
    ``cosine_topk_bruteforce`` remains the pure-JVM reference implementation
    (tested equivalent in tests/test_similarity.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk_blas(emb, emb, "vec_id", "vec_id", "embedding", k=5)


SQL_COSINE_TOPK = """
WITH n AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
           sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
    FROM embeddings
), scored AS (
    SELECT a.vec_id AS qid, b.vec_id AS cid,
           round(list_sum(list_transform(generate_series(1, len(a.v)),
                 i -> (a.v[i] / a.nrm) * (b.v[i] / b.nrm))), 4) AS cosine
    FROM n a, n b WHERE a.vec_id <> b.vec_id
), ranked AS (
    SELECT qid, cid, cosine,
           row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid ASC) AS rank
    FROM scored
)
SELECT qid, cid, cosine, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 5
"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.35) — the dense-vector
    member of the dedup family (exact / MinHash / SimHash / Jaccard /
    embedding-cosine), BLAS-blocked like cosine_topk."""
    from ecommerce_analytics_platform_spark.operators.similarity import (
        cosine_neardup_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_neardup_pairs(emb, "vec_id", "embedding", threshold=0.35)


SQL_EMBEDDING_NEARDUP = """
WITH n AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
           sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
    FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_sum(list_transform(generate_series(1, len(a.v)),
             i -> (a.v[i] / a.nrm) * (b.v[i] / b.nrm))), 4) AS cosine
FROM n a, n b
WHERE a.vec_id < b.vec_id
  AND round(list_sum(list_transform(generate_series(1, len(a.v)),
            i -> (a.v[i] / a.nrm) * (b.v[i] / b.nrm))), 4) >= 0.35
"""


def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-tokenizer counting: regex splits into letter runs,
    digit runs, and single punctuation marks (the GPT-2 pre-tokenizer
    shape), plus distinct-token counts — regexp_extract_all in both
    engines, fully vectorized."""
    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = F.regexp_extract_all("text", F.lit(r"([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])"), 1)
    base = docs.select("doc_id", toks.alias("bt"))
    return base.select(
        "doc_id",
        F.size("bt").cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(F.transform("bt", F.lower))).cast("long").alias(
            "n_unique_tokens"
        ),
    )


SQL_BPE_TOKEN_COUNT = r"""
WITH t AS (
    SELECT doc_id, regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])', 1) AS bt
    FROM documents
)
SELECT doc_id,
       len(bt) AS n_bpe_tokens,
       len(list_distinct(list_transform(bt, x -> lower(x)))) AS n_unique_tokens
FROM t
"""


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-3 neighbors via random-hyperplane LSH bucketing +
    in-bucket exact re-rank — the scale path for similarity search (the
    exact twin is cosine_topk). Hash-checked against a full DuckDB twin:
    the hyperplanes depend only on (seed=7, dim=64), so the oracle embeds
    the identical plane literals and reproduces signature, bucket join,
    and re-rank bit-for-bit (signature dots are plain left-fold double
    sums in both engines; a sign flip would need |dot| < accumulation
    error ~1e-15 on a N(0,1)-scaled dot — probability ~1e-11 per
    dataset)."""
    emb = _t(spark, sf_dir, "embeddings")
    return lsh_bucketed_topk(emb, emb, "vec_id", "vec_id", "embedding", k=3, n_planes=6)


def _lsh_sig_terms(n_planes: int = 6, seed: int = 7, dim: int = 64) -> str:
    """DuckDB expression computing the hyperplane-sign signature — built
    from the SAME seeded planes the Spark operators embed (similarity.
    hyperplanes), so bucket membership is engine-identical."""
    from ecommerce_analytics_platform_spark.operators.similarity import hyperplanes

    planes = hyperplanes(dim, n_planes, seed)
    return " + ".join(
        f"(CASE WHEN list_sum(list_transform(generate_series(1, {dim}), "
        f"i -> (v[i]/nrm) * ([{', '.join(repr(x) for x in p)}])[i])) > 0 "
        f"THEN {1 << b} ELSE 0 END)"
        for b, p in enumerate(planes)
    )


def _sql_ann_lsh() -> str:
    """DuckDB twin of q_ann_lsh with the seed-7 hyperplanes inlined."""
    sig_terms = _lsh_sig_terms()
    return f"""
WITH n AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
           sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
    FROM embeddings
), sig AS (
    SELECT vec_id, v, nrm, {sig_terms} AS bucket FROM n
), scored AS (
    SELECT a.vec_id AS qid, b.vec_id AS cid,
           round(list_sum(list_transform(generate_series(1, len(a.v)),
                 i -> (a.v[i] / a.nrm) * (b.v[i] / b.nrm))), 4) AS cosine
    FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
), ranked AS (
    SELECT qid, cid, cosine,
           row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid ASC) AS rank
    FROM scored
)
SELECT qid, cid, cosine, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 3
"""


SQL_ANN_LSH = _sql_ann_lsh()


def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-prefiltered embedding near-dup pairs — the SCALE path for
    cosine_neardup_pairs (only bucket-colliding pairs are scored; the
    shuffle is the bucket join, never all-pairs). Hash-checked against a
    full DuckDB twin built from the identical seed-7 hyperplanes."""
    from ecommerce_analytics_platform_spark.operators.similarity import (
        lsh_neardup_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_neardup_pairs(emb, "vec_id", "embedding", threshold=0.3, n_planes=6)


def _sql_embedding_neardup_lsh() -> str:
    sig_terms = _lsh_sig_terms()
    return f"""
WITH n AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
           sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
    FROM embeddings
), sig AS (
    SELECT vec_id, v, nrm, {sig_terms} AS bucket FROM n
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_sum(list_transform(generate_series(1, len(a.v)),
             i -> (a.v[i] / a.nrm) * (b.v[i] / b.nrm))), 4) AS cosine
FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round(list_sum(list_transform(generate_series(1, len(a.v)),
      i -> (a.v[i] / a.nrm) * (b.v[i] / b.nrm))), 4) >= 0.3
"""


SQL_EMBEDDING_NEARDUP_LSH = _sql_embedding_neardup_lsh()


def _ann_exact_df(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """The exact BLAS top-k (qid, cid) reference each ANN recall contract
    (ann_ivf / ann_int8 / ann_pq) is checked against. Computed per
    invocation — the r14 memo that replayed collected rows across the
    three queries was removed per the r15 gaming directive."""
    return cosine_topk_blas(
        _t(spark, sf_dir, "embeddings"), _t(spark, sf_dir, "embeddings"),
        "vec_id", "vec_id", "embedding", k=k,
    ).select("qid", "cid")


def _recall_check(
    spark: SparkSession, sf_dir: str, approx: DataFrame, check: str, k: int, threshold: float
) -> DataFrame:
    """Materialize ANN quality as a checkable relation: (check, k,
    n_queries, recall_ok). The approximate result is intersected with the
    exact top-k (cosine_topk_blas — itself hash-verified by the
    cosine_topk oracle); recall = |approx ∩ exact| / |exact| must clear
    ``threshold``. n_queries is data-dependent (DuckDB computes it as
    count(embeddings)), so the hash compare verifies real rows, not a
    constant — and any recall regression flips recall_ok and fails the
    driver gate. Thresholds sit well under measured recall so only a real
    algorithmic regression (not data growth) can trip them."""
    exact = _ann_exact_df(spark, sf_dir, k)
    # ONE pass over `exact`: the old shape consumed it twice (semi-join +
    # agg), recomputing the BLAS top-k — ~8-10 s of duplicated CPU per
    # ANN query at sf0.1 (r14 stage profile). A left join from the exact
    # side marks hits, then a single aggregate produces |exact|,
    # |approx ∩ exact| and n_queries together. Both sides' (qid, cid)
    # are unique top-k lists, so the hit count equals the old
    # approx-side semi-join count row for row.
    joined = exact.select("qid", "cid").join(
        approx.select("qid", "cid").withColumn("__hit", F.lit(1)),
        ["qid", "cid"],
        "left",
    )
    return (
        joined.agg(
            F.count(F.lit(1)).alias("__n_exact"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("__n_hits"),
            F.countDistinct("qid").alias("n_queries"),
        )
        .select(
            F.lit(check).alias("check"),
            F.lit(k).alias("k"),
            F.col("n_queries"),
            (F.col("__n_hits") >= F.lit(threshold) * F.col("__n_exact")).alias("recall_ok"),
        )
    )


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate top-3 — the second canonical ANN
    scale path beside LSH bucketing: deterministic k-means coarse
    quantizer, n_probe-list search, exact re-rank. Float k-means
    boundaries aren't cross-engine robust, so the checkable result is the
    recall contract vs the exact top-k (see _recall_check); the raw
    neighbor lists are additionally recall-asserted in
    tests/test_similarity.py."""
    from ecommerce_analytics_platform_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    approx = ivf_topk(emb, emb, "vec_id", "vec_id", "embedding", k=3, n_lists=16, n_probe=4)
    return _recall_check(spark, sf_dir, approx, "ivf_recall_at_3", 3, IVF_RECALL_THRESHOLD)


IVF_RECALL_THRESHOLD = 0.45
INT8_AGREE_THRESHOLD = 0.90

SQL_ANN_IVF = """
SELECT 'ivf_recall_at_3' AS check, 3 AS k,
       (SELECT count(*) FROM embeddings) AS n_queries,
       true AS recall_ok
"""


def q_ann_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized-score ANN: int8 codes (4× smaller broadcast/scan) score
    the approximate pass, exact fp64 rerank of the surviving k×4
    candidates. The candidate cut depends on float rounding, so the
    checkable result is the agreement contract vs the exact top-k
    (recall_ok via _recall_check); ≥95% raw agreement is additionally
    asserted in tests/test_similarity.py."""
    from ecommerce_analytics_platform_spark.operators.similarity import int8_topk

    emb = _t(spark, sf_dir, "embeddings")
    approx = int8_topk(emb, emb, "vec_id", "vec_id", "embedding", k=3, rerank_factor=4)
    return _recall_check(spark, sf_dir, approx, "int8_agree_at_3", 3, INT8_AGREE_THRESHOLD)


SQL_ANN_INT8 = """
SELECT 'int8_agree_at_3' AS check, 3 AS k,
       (SELECT count(*) FROM embeddings) AS n_queries,
       true AS recall_ok
"""


PQ_RECALL_THRESHOLD = 0.60


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN (operators/similarity.py::pq_topk): 64-dim
    fp64 → 8 byte codes (64× compression), ADC table-lookup scoring,
    exact rerank of the k×8 survivors. The memory-bound scale tier past
    int8 (4×): at 10⁹ vectors the approximate pass streams 8 GB of codes
    instead of a 512 GB matrix. Quality pinned by the same recall
    contract as ann_ivf/ann_int8 (threshold well under measured recall,
    so only an algorithmic regression trips it)."""
    from ecommerce_analytics_platform_spark.operators.similarity import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    approx = pq_topk(
        emb, emb, "vec_id", "vec_id", "embedding", k=3, k_codes=32, rerank_factor=16
    )
    return _recall_check(spark, sf_dir, approx, "pq_recall_at_3", 3, PQ_RECALL_THRESHOLD)


SQL_ANN_PQ = """
SELECT 'pq_recall_at_3' AS check, 3 AS k,
       (SELECT count(*) FROM embeddings) AS n_queries,
       true AS recall_ok
"""


def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding statistics: vector count, mean L2 norm — array
    higher-order aggregation (F.aggregate) feeding a groupBy."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    # round each (deterministic per-row) norm to 6dp, then decimal-sum so the
    # group aggregate is summation-order-independent cross-engine
    return (
        emb.select("label", F.round(norm, 6).cast("decimal(18,6)").alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            (F.sum("nrm").cast("double") / F.count(F.lit(1))).alias("avg_l2_norm"),
        )
    )


SQL_EMBEDDING_STATS = """
SELECT label,
       count(*) AS n_vectors,
       (CAST(sum(CAST(round(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS DECIMAL(18,6))) AS DOUBLE) / count(*)) AS avg_l2_norm
FROM embeddings GROUP BY label
"""


def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: MinHash-LSH pairs → connected components → one
    cluster id (min reachable doc_id) per clustered document. The full
    corpus-dedup composition: pick `doc_id == cluster_id` as the keeper,
    drop the rest. Iterative min-label propagation (operators/dedup.py::
    connected_components); oracle is a recursive CTE over the same pairs."""
    from ecommerce_analytics_platform_spark.operators.dedup import connected_components

    pairs = _lsh_pairs_df(spark, sf_dir)
    return connected_components(pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


def _neardup_clusters_sql(num_hashes: int = 16, bands: int = 4) -> str:
    return f"""
WITH RECURSIVE shingled AS (
    SELECT doc_id, ({_SHINGLES_SQL}) AS sh FROM documents
), based AS (
    SELECT doc_id, {_BASES_SQL} AS bases FROM shingled WHERE len(sh) > 0
), sigs AS (
    SELECT doc_id, {_mh_cols_sql(num_hashes)} FROM based
), buckets AS ({_band_rows_sql(num_hashes, bands)}),
pairs AS (
    SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
    FROM buckets l JOIN buckets r
      ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
), e AS (
    SELECT id_a AS u, id_b AS v FROM pairs
    UNION ALL
    SELECT id_b AS u, id_a AS v FROM pairs
), walk(u, lbl) AS (
    SELECT u, u FROM (SELECT DISTINCT u FROM e) t
    UNION
    SELECT e.u, w.lbl FROM e JOIN walk w ON w.u = e.v
)
SELECT u AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY u
"""


def q_top_revenue_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k (ORDER BY … LIMIT): top 100 customers by total order
    value. Spark plans TakeOrderedAndProject — per-partition top-k then a
    single k-row merge on the driver, never a global sort of all rows
    (the scale-correct top-k; SURVEY §2.7 notes the reference has no
    ORDER BY surface at all, so this extends it). Ties broken by custkey
    for cross-engine determinism."""
    # r14: no fan_out — byte-dense aggregate (guide §2.5; 0.54 -> 0.27 s)
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return (
        orders.groupBy("o_custkey")
        .agg(_dec_sum("o_totalprice", 2).alias("revenue"), F.count(F.lit(1)).alias("n_orders"))
        .join(F.broadcast(customer.select("c_custkey", "c_name")), F.col("o_custkey") == F.col("c_custkey"))
        .select(F.col("c_custkey").alias("custkey"), F.col("c_name").alias("name"), "revenue", "n_orders")
        .orderBy(F.desc("revenue"), F.asc("custkey"))
        .limit(100)
    )


SQL_TOP_REVENUE_CUSTOMERS = f"""
SELECT c_custkey AS custkey, c_name AS name,
       {_dec_sum_sql('o_totalprice', 2)} AS revenue,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1, 2
ORDER BY revenue DESC, custkey ASC
LIMIT 100
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — the redaction pass of a training-data pipeline:
    replace email addresses and long digit runs with placeholder tokens,
    report per-doc match counts. Pure vectorized regexp (Java regex and
    RE2 agree on this subset); one scan, no shuffle."""
    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    digits = r"[0-9]{7,}"
    scrubbed = F.regexp_replace(
        F.regexp_replace("text", email, "<EMAIL>"), digits, "<NUM>"
    )
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit(email)).cast("long").alias("n_emails"),
        F.regexp_count("text", F.lit(digits)).cast("long").alias("n_long_nums"),
        scrubbed.alias("scrubbed_text"),
    )


SQL_PII_SCRUB = r"""
SELECT doc_id,
       len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
       len(regexp_extract_all(text, '[0-9]{7,}')) AS n_long_nums,
       regexp_replace(regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                      '[0-9]{7,}', '<NUM>', 'g') AS scrubbed_text
FROM documents
"""


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-5 terms per document — the feature-extraction pass of a
    text pipeline: one explode → (doc, term) counts, term document
    frequencies, corpus size as a broadcast scalar, window top-k with a
    deterministic (score DESC, term ASC) order. Two shuffles (term counts,
    per-doc window); idf = ln((N+1)/(df+1)) — a libm-dependent value, so
    the score goes through the two-stage decimal round (8dp →
    DECIMAL(20,8) → 6dp → double): the hashed double is an exact 6-digit
    decimal, immune to last-ulp ln() drift between JVM Math.log and any
    DuckDB build AND to the HALF_UP-on-repr vs C-round boundary trap."""
    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok")).select(
        "doc_id", F.lower("tok").alias("term")
    )
    tf = _pin(toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")).persist())
    # Eager fill: df_ and n below become BROADCAST-build jobs that launch
    # concurrently with the main pass; all three raced the lazy cache fill
    # and each re-ran the tokenize+aggregate pipeline (3x ~15 s CPU at
    # sf0.1 in the r14 stage profile). One blocking count fills the cache
    # once; the broadcast builds then read blocks (2.58 -> ~1.2 s).
    tf.count()
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = tf.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.round(
                    F.col("tf")
                    * F.log((F.col("n_docs") + F.lit(1)) / (F.col("df") + F.lit(1))),
                    8,
                ).cast("decimal(20,8)"),
                6,
            ).cast("double"),
        )
    )
    # top-5 per doc via hash-agg collect/sort/slice rather than a
    # row_number window: replaces the per-doc sort shuffle with a partial-
    # aggregating hash agg (measured 2.6 -> 1.9 s at sf0.1). Tie order
    # matches the window version: (tfidf DESC, term ASC), term unique per
    # doc so the struct sort is total.
    return (
        scored.groupBy("doc_id")
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_list(
                        F.struct((-F.col("tfidf")).alias("neg"), "term", "tf", "df", "tfidf")
                    )
                ),
                1,
                5,
            ).alias("top")
        )
        .select("doc_id", F.posexplode("top").alias("pos", "s"))
        .select(
            "doc_id",
            F.col("s.term").alias("term"),
            F.col("s.tf").alias("tf"),
            F.col("s.df").alias("df"),
            F.col("s.tfidf").alias("tfidf"),
            (F.col("pos") + 1).cast("int").alias("rk"),
        )
    )


SQL_TFIDF_TOPK = r"""
WITH toks AS (
    SELECT doc_id, lower(unnest(string_split_regex(trim(text), '\s+'))) AS term
    FROM documents WHERE trim(text) <> ''
), tf AS (
    SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
), df AS (
    SELECT term, count(*) AS df FROM tf GROUP BY 1
), n AS (
    SELECT count(DISTINCT doc_id) AS n_docs FROM tf
), scored AS (
    SELECT tf.doc_id, tf.term, tf.tf, df.df,
           CAST(round(CAST(round(tf.tf * ln((n.n_docs + 1) / (df.df + 1.0)), 8)
                           AS DECIMAL(20,8)), 6) AS DOUBLE) AS tfidf
    FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, tfidf, CAST(rk AS INTEGER) AS rk
FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rk
      FROM scored) t
WHERE rk <= 5
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: per-source keep rates applied via
    a content-stable hash of the doc id — same doc → same decision on any
    cluster size (unlike sample()), and per-stratum rates without a
    shuffle (the decision is a scan-local filter)."""
    rates = {"src0": 50, "src1": 25}  # percent; all other sources 10%
    docs = _t(spark, sf_dir, "documents")
    bucket = F.pmod(portable_hash60(F.col("doc_id").cast("string")), F.lit(100))
    rate = F.coalesce(
        *[F.when(F.col("source") == s, F.lit(r)) for s, r in rates.items()], F.lit(10)
    )
    return docs.filter(bucket < rate).select("doc_id", "source", "lang")


SQL_STRATIFIED_SAMPLE = """
SELECT doc_id, source, lang
FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
      < (CASE WHEN source = 'src0' THEN 50 WHEN source = 'src1' THEN 25 ELSE 10 END)
"""


def q_part_outlier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity-order revenue per brand (TPC-H Q17 shape): lineitems
    whose quantity is below 20% of their part's average. The correlated
    scalar subquery decorrelates to a per-part aggregate + join; the
    below-average predicate is expressed in exact integer/decimal cross
    multiplication (5*qty*cnt < sum) so no float-boundary row can differ
    between engines."""
    # r14: no fan_out — byte-dense (guide §2.5); lineitem is consumed
    # twice here (per-part aggregate + re-join), so the keyless exchange
    # and its sort were paid twice (1.82 -> 0.78 s at sf0.1)
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )
    qty = F.col("l_quantity").cast("decimal(18,4)")
    return (
        li.join(per_part, li.l_partkey == F.col("pk"))
        .filter(qty * F.col("cnt") * F.lit(5) < F.col("sum_qty"))
        .join(F.broadcast(part.select("p_partkey", "p_brand")), li.l_partkey == F.col("p_partkey"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            _dec_sum("l_extendedprice", 2).alias("outlier_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


SQL_PART_OUTLIER_REVENUE = f"""
WITH per_part AS (
    SELECT l_partkey AS pk,
           sum(CAST(l_quantity AS DECIMAL(18,4))) AS sum_qty,
           count(*) AS cnt
    FROM lineitem GROUP BY 1
)
SELECT p_brand AS brand,
       {_dec_sum_sql('l_extendedprice', 2)} AS outlier_revenue,
       count(*) AS n_lines
FROM lineitem
JOIN per_part ON l_partkey = pk
JOIN part ON l_partkey = p_partkey
WHERE CAST(l_quantity AS DECIMAL(18,4)) * cnt * 5 < sum_qty
GROUP BY 1
"""


def q_profile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass data profiling of the orders table: row count, null
    counts, exact distinct cardinalities, min/max — the schema-audit
    operator of an ingest pipeline. One scan, one aggregate (the three
    exact countDistincts share the Expand)."""
    # r14: no fan_out — byte-dense aggregate (guide §2.5; 1.28 -> 0.63 s)
    orders = _t(spark, sf_dir, "orders")
    return orders.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct("o_orderstatus").alias("n_statuses"),
        F.countDistinct("o_orderpriority").alias("n_priorities"),
        F.sum(F.col("o_orderstatus").isNull().cast("long")).alias("null_statuses"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
        _dec_sum("o_totalprice", 2).alias("total_value"),
    )


SQL_PROFILE_SUMMARY = f"""
SELECT count(*) AS n_rows,
       count(DISTINCT o_custkey) AS n_customers,
       count(DISTINCT o_orderstatus) AS n_statuses,
       count(DISTINCT o_orderpriority) AS n_priorities,
       CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_statuses,
       min(o_orderdate) AS first_order,
       max(o_orderdate) AS last_order,
       {_dec_sum_sql('o_totalprice', 2)} AS total_value
FROM orders
"""


def q_sliding_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-window rollup (1 h windows every 15 min): each event lands in
    exactly 4 overlapping windows — ``F.window(ts, "1 hour", "15 minutes")``,
    the streaming sliding-agg primitive (SURVEY §2.8 table, 'tumbling/
    sliding windows'). The oracle expands the same 4 windows per row with
    an offset unnest. Spark executes this as one Expand (4 rows per input)
    + one hash aggregate — no self-join."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("events"),
            _dec_sum("value", 2).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "events", "total_value")
    )


SQL_SLIDING_WINDOW_ROLLUP = f"""
WITH expanded AS (
    SELECT time_bucket(INTERVAL 15 MINUTE, ts) - k * INTERVAL 15 MINUTE AS window_start,
           value
    FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) offs
)
SELECT window_start, count(*) AS events, {_dec_sum_sql('value', 2)} AS total_value
FROM expanded GROUP BY 1
"""


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for training: split each document into 50-token
    chunks with stride 40 (10-token overlap) — the context-window prep
    pass of an LLM data pipeline. Pure JVM array ops: tokenize once,
    ``sequence`` over chunk starts, ``slice`` + ``array_join`` per chunk,
    one explode. No Python, no shuffle (chunking is scan-local)."""
    chunk, stride = 50, 40
    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    toks = tokens(F.col("text"))
    base = docs.select("doc_id", toks.alias("tk"), F.size(toks).alias("n_tok")).filter(
        F.col("n_tok") > 0
    )
    return (
        base.select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.floor((F.col("n_tok") - 1) / F.lit(stride)).cast("int")),
                    lambda i: F.struct(
                        i.cast("long").alias("chunk_id"),
                        F.slice(F.col("tk"), i * stride + 1, chunk).alias("ctoks"),
                    ),
                )
            ).alias("c"),
        )
        .select(
            "doc_id",
            F.col("c.chunk_id").alias("chunk_id"),
            F.size("c.ctoks").cast("long").alias("n_tokens"),
            F.array_join("c.ctoks", " ").alias("chunk_text"),
        )
    )


SQL_DOC_CHUNKS = r"""
WITH tokd AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
    FROM documents WHERE trim(text) <> ''
)
SELECT doc_id,
       CAST(i AS BIGINT) AS chunk_id,
       CAST(len(tk[i * 40 + 1 : i * 40 + 50]) AS BIGINT) AS n_tokens,
       array_to_string(tk[i * 40 + 1 : i * 40 + 50], ' ') AS chunk_text
FROM tokd CROSS JOIN (SELECT unnest(generate_series(0, 10000)) AS i) idx
WHERE i <= (len(tk) - 1) // 40
"""


def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition quality signal (Gopher-style): fraction
    of duplicate word trigrams per document — high values flag boilerplate
    / spam for corpus filtering. One pass: shingle (already materialized
    arrays), distinct count vs total count, no shuffle."""
    from ecommerce_analytics_platform_spark.functions.text import (
        word_shingles,
        with_materialized,
    )

    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    # r14: materialize the shingle array behind a Generate so (a) the
    # size() filter runs on the materialized value instead of being
    # pushed below the fan_out exchange where it would re-evaluate the
    # whole shingle pipeline single-task at the scan, and (b) the two
    # downstream references (n, nd) share one evaluation (guide §1.2).
    base = with_materialized(docs, word_shingles(F.col("text"), 3), "sh").filter(
        F.size("sh") > 0
    ).select("doc_id", "sh")
    n = F.size("sh")
    nd = F.size(F.array_distinct("sh"))
    return base.select(
        "doc_id",
        n.cast("long").alias("n_trigrams"),
        nd.cast("long").alias("n_distinct"),
        F.round((n - nd) / n, 6).alias("repetition_ratio"),
    )


SQL_REPETITION_RATIO = f"""
WITH shingled AS (
    SELECT doc_id, ({_SHINGLES_SQL}) AS sh FROM documents
)
SELECT doc_id,
       CAST(len(sh) AS BIGINT) AS n_trigrams,
       CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct,
       round((len(sh) - len(list_distinct(sh))) / len(sh), 6) AS repetition_ratio
FROM shingled WHERE len(sh) > 0
"""


def q_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead window family: per-user inter-event gap seconds and the
    next event type (completes §2.6 beyond the reference's row_number-only
    surface). One shuffle on user_id; deterministic (ts, event_id) order."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    return (
        ev.select(
            "user_id",
            "event_id",
            "event_type",
            (F.col("ts").cast("double") - prev_ts.cast("double")).cast("long").alias("gap_seconds"),
            F.lead("event_type").over(w).alias("next_event_type"),
        )
        .filter(F.col("gap_seconds").isNotNull())
    )


SQL_EVENT_GAPS = """
SELECT user_id, event_id, event_type,
       -- floor, not cast: DuckDB double->int casts ROUND while Spark's long
       -- cast truncates; gaps are non-negative so floor == truncate
       CAST(floor(epoch(ts) - epoch(lag(ts) OVER w)) AS BIGINT) AS gap_seconds,
       lead(event_type) OVER w AS next_event_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
QUALIFY gap_seconds IS NOT NULL
"""


def q_customer_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile + percent_rank: spend quartiles over customers (the cohort
    bucketing primitive). Global window (single ordered partition) — at
    scale, swap for approx quantile cutoffs + a scan-local bucket join;
    kept exact here because the grouped input (one row per customer) is
    small after aggregation."""
    # r14: no fan_out — byte-dense aggregate (guide §2.5; 0.56 -> 0.31 s)
    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(_dec_sum("o_totalprice", 2).alias("spend"))
    w = Window.orderBy(F.desc("spend"), F.asc("o_custkey"))
    return spend.select(
        F.col("o_custkey").alias("custkey"),
        "spend",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
    )


SQL_CUSTOMER_QUARTILES = f"""
WITH spend AS (
    SELECT o_custkey AS custkey, {_dec_sum_sql('o_totalprice', 2)} AS spend
    FROM orders GROUP BY 1
)
SELECT custkey, spend,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank
FROM spend
WINDOW w AS (ORDER BY spend DESC, custkey ASC)
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping_id — the third member of the
    grouping-set family beside ROLLUP/CUBE: exactly (status, priority),
    (status), () subtotals, with gid disambiguating NULL-as-subtotal from
    NULL data."""
    # r14: no fan_out — byte-dense aggregate (guide §2.5; 0.60 -> 0.34 s)
    orders = _t(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus AS status, o_orderpriority AS priority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS INT) AS gid,
               count(*) AS n,
               CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        FROM __orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
        """
    )


SQL_GROUPING_SETS = """
SELECT o_orderstatus AS status, o_orderpriority AS priority,
       CAST(grouping_id(o_orderstatus, o_orderpriority) AS INTEGER) AS gid,
       count(*) AS n,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-quality GATE: keep documents passing ALL of
    (token count in range, repetition below cap, stopword floor —
    C4/Gopher-style rules), emit the keep decision and first failing
    reason per doc. One scan; every signal is a JVM expression over the
    same materialized token array."""
    from ecommerce_analytics_platform_spark.functions.text import (
        _EN_STOPWORDS,
        shingles_from_tokens,
        with_materialized,
    )

    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    base = with_materialized(docs, tokens(F.col("text")), "toks")
    # r14: the shingle array is materialized too (derived from the cached
    # toks, so split() runs once per row); `rep` references it three
    # times, and word_shingles-from-text would re-evaluate split+zip for
    # each reference (guide §1.2 — measured 3.5 s CPU → 1.2 s at sf0.1).
    base = with_materialized(base, shingles_from_tokens(F.col("toks"), 3), "sh")
    n_tok = F.size("toks")
    sh = F.col("sh")
    rep = (F.size(sh) - F.size(F.array_distinct(sh))) / F.greatest(F.size(sh), F.lit(1))
    stop_ratio = F.size(F.filter("toks", lambda w: F.lower(w).isin(*_EN_STOPWORDS))) / F.greatest(
        n_tok, F.lit(1)
    )
    reason = (
        F.when(n_tok < 10, F.lit("too_short"))
        .when(n_tok > 5000, F.lit("too_long"))
        .when(rep > 0.3, F.lit("repetitive"))
        .when(stop_ratio < 0.01, F.lit("low_stopword"))
        .otherwise(F.lit("pass"))
    )
    return base.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        F.round(rep, 6).alias("repetition"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        reason.alias("verdict"),
        (reason == "pass").alias("keep"),
    )


def _quality_filter_sql() -> str:
    stop_list = ", ".join(f"'{w}'" for w in ["the", "and", "of", "to", "is"])
    return rf"""
WITH tokd AS (
    SELECT doc_id, text,
           CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                ELSE string_split_regex(trim(text), '\s+') END AS toks,
           ({_SHINGLES_SQL}) AS sh
    FROM documents
), scored AS (
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           round((len(sh) - len(list_distinct(sh))) / greatest(len(sh), 1), 6) AS repetition,
           round(len(list_filter(toks, w -> lower(w) IN ({stop_list})))
                 / greatest(len(toks), 1), 6) AS stopword_ratio
    FROM tokd
)
SELECT doc_id, n_tokens, repetition, stopword_ratio,
       CASE WHEN n_tokens < 10 THEN 'too_short'
            WHEN n_tokens > 5000 THEN 'too_long'
            WHEN repetition > 0.3 THEN 'repetitive'
            WHEN stopword_ratio < 0.01 THEN 'low_stopword'
            ELSE 'pass' END AS verdict,
       (CASE WHEN n_tokens < 10 THEN 'too_short'
             WHEN n_tokens > 5000 THEN 'too_long'
             WHEN repetition > 0.3 THEN 'repetitive'
             WHEN stopword_ratio < 0.01 THEN 'low_stopword'
             ELSE 'pass' END) = 'pass' AS keep
FROM scored
"""


def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native gap-based sessionization: ``F.session_window(ts, '30 minutes')``
    — the same operator Structured Streaming uses for streaming session
    aggregation (stateful merge of overlapping windows), run in batch and
    proved against the classic lag/cumsum SQL reconstruction. Spark starts
    a new session when the gap is >= the duration, hence ``>=`` in the
    oracle's new-session mark. One shuffle on user_id."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            _dec_sum("value", 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "session_end",
            "n_events",
            "total_value",
        )
    )


SQL_SESSION_WINDOWS = f"""
WITH marked AS (
    SELECT user_id, ts, value,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800 THEN 1 ELSE 0 END AS new_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
    SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
    FROM marked
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) AS session_end,
       count(*) AS n_events,
       {_dec_sum_sql('value', 2)} AS total_value
FROM sess GROUP BY user_id, sid
"""


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill over a dense date spine (time-series feature prep):
    per (event_type, user-cohort) daily averages, re-gridded onto every
    calendar day, gaps filled with the last observed value — Spark
    ``last(..., ignorenulls=True)`` over an unbounded-preceding frame vs
    DuckDB ``last_value(x IGNORE NULLS)``. Scale shape: the spine/series
    grid is tiny (broadcast); the running window shuffles once on the
    series key — the state per key is a single value, so this streams at
    any scale."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        (F.col("user_id") % 20).alias("cohort"),
        F.col("ts").cast("date").alias("d"),
        "value",
    )
    daily = ev.groupBy("event_type", "cohort", "d").agg(
        (F.sum(F.col("value").cast("decimal(18,4)")).cast("double") / F.count(F.lit(1))).alias(
            "avg_value"
        )
    )
    spine = (
        ev.groupBy()
        .agg(F.min("d").alias("dmin"), F.max("d").alias("dmax"))
        .select(F.explode(F.sequence("dmin", "dmax")).alias("d"))
    )
    grid = ev.select("event_type", "cohort").distinct().crossJoin(F.broadcast(spine))
    w = (
        Window.partitionBy("event_type", "cohort")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return grid.join(daily, ["event_type", "cohort", "d"], "left").select(
        "event_type",
        "cohort",
        "d",
        F.last("avg_value", ignorenulls=True).over(w).alias("filled_value"),
        F.col("avg_value").isNull().alias("was_gap"),
    )


SQL_GAP_FILL = """
WITH ev AS (
    SELECT event_type, user_id % 20 AS cohort, CAST(ts AS DATE) AS d, value FROM events
), daily AS (
    SELECT event_type, cohort, d,
           (CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*)) AS avg_value
    FROM ev GROUP BY 1, 2, 3
), bounds AS (
    SELECT min(d) AS dmin, max(d) AS dmax FROM ev
), spine AS (
    SELECT CAST(unnest(generate_series(dmin, dmax, INTERVAL 1 DAY)) AS DATE) AS d FROM bounds
), grid AS (
    SELECT * FROM (SELECT DISTINCT event_type, cohort FROM ev) CROSS JOIN spine
)
SELECT g.event_type, g.cohort, g.d,
       last_value(daily.avg_value IGNORE NULLS) OVER (
           PARTITION BY g.event_type, g.cohort ORDER BY g.d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
       daily.avg_value IS NULL AS was_gap
FROM grid g LEFT JOIN daily
  ON g.event_type = daily.event_type AND g.cohort = daily.cohort AND g.d = daily.d
"""


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram binning (profiling / drift monitoring): bin =
    floor(value / width) as a computed group key. Pure map-side arithmetic
    + one hash aggregate — the bin count is bounded by the value range, so
    the reduce side is O(bins), not O(rows), at any scale."""
    width = 25.0
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type", F.floor(F.col("value") / F.lit(width)).cast("long").alias("bin")
        )
        .agg(F.count(F.lit(1)).alias("n"), _dec_sum("value", 2).alias("sum_value"))
        .withColumn("bin_low", (F.col("bin") * F.lit(width)).cast("double"))
    )


SQL_VALUE_HISTOGRAM = f"""
SELECT event_type,
       CAST(floor(value / 25.0) AS BIGINT) AS bin,
       count(*) AS n,
       {_dec_sum_sql('value', 2)} AS sum_value,
       CAST(CAST(floor(value / 25.0) AS BIGINT) * 25.0 AS DOUBLE) AS bin_low
FROM events GROUP BY 1, 2
"""


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM pretraining: concatenate documents in
    deterministic order within a shard and slice the token stream into
    fixed 512-token context windows — each doc gets (pack_id,
    offset_in_pack). One running-sum window per shard; shards are
    independent, so packing parallelizes embarrassingly (shard count
    scales with the cluster, state per shard is one running count).
    Oversize docs are truncated to the context length, the standard
    concat-and-chunk prep."""
    ctx, nshards = 512, 32
    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    base = docs.select(
        "doc_id",
        (F.col("doc_id") % nshards).alias("shard"),
        F.least(F.size(tokens(F.col("text"))).cast("long"), F.lit(ctx)).alias("n_tokens"),
    ).filter(F.col("n_tokens") > 0)
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_tok")
    return base.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.floor(start / F.lit(float(ctx))).cast("long").alias("pack_id"),
        (start % F.lit(ctx)).cast("long").alias("offset_in_pack"),
    )


SQL_SEQUENCE_PACK = r"""
WITH tokd AS (
    SELECT doc_id, doc_id % 32 AS shard,
           least(CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT), 512) AS n_tokens
    FROM documents WHERE trim(text) <> ''
), runs AS (
    SELECT doc_id, shard, n_tokens,
           sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) - n_tokens AS start_tok
    FROM tokd
)
SELECT doc_id, shard, n_tokens,
       CAST(floor(start_tok / 512.0) AS BIGINT) AS pack_id,
       CAST(start_tok % 512 AS BIGINT) AS offset_in_pack
FROM runs
"""


_SSJ_T10 = 6  # Jaccard threshold 0.6 carried as an integer tenth


def _set_sim_join_df(
    spark: SparkSession, sf_dir: str, _persist: bool = True
) -> DataFrame:
    """EXACT set-similarity self-join at Jaccard ≥ 0.6 via prefix
    filtering (PPJoin family, Xiao et al. 2008) — the exact-threshold
    counterpart to MinHash-LSH banding: no false negatives by
    construction. Each doc's distinct-token set is ranked by
    (global frequency asc, token) — the canonical rare-first total order
    — and only its first |s| − ⌈t·|s|⌉ + 1 tokens (the prefix) are
    exploded into the inverted candidate index: two sets with J ≥ t MUST
    share a prefix token, so the candidate join touches the rare end of
    the vocabulary instead of all postings. Candidates verify with exact
    intersection/union counts; the threshold compare is integer
    (10·|∩| ≥ 6·|∪|) and ⌈t·|s|⌉ is computed as (6·|s|+9) div 10, so no
    float boundary exists anywhere. Sets are distinct 3-word SHINGLES
    (the same granularity MinHash signs): on this template-generated
    corpus, token-set Jaccard is degenerate (≥0.6 for ~60% of ALL pairs
    — shared template vocabulary), while shingle Jaccard isolates the
    planted near-dups exactly. Scale shape: one count-table join (freq),
    one window per doc, a prefix-shingle equi-join (rare shingles →
    small postings), verification on candidate pairs only. The shingle
    relation is persisted (it feeds the postings build AND both sides of
    verification — 3 scans → 1) and candidates carry set sizes so the
    PPJoin LENGTH filter (J ≥ t ⇒ t·|larger| ≤ |smaller|, integer form
    10·min ≥ 6·max) prunes before the distinct and the array
    intersections."""
    from ecommerce_analytics_platform_spark.functions.text import (
        word_shingles,
        with_materialized,
    )

    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    # r14: Generate-materialized so the size() filter isn't pushed below
    # the fan_out exchange (scan-side single-task re-evaluation of the
    # whole shingle pipeline during the cache fill — guide §1.2).
    tkset = with_materialized(
        docs, F.array_distinct(word_shingles(F.col("text"), 3)), "tk"
    ).filter(F.size("tk") > 0).select("doc_id", "tk")
    tkset = tkset.withColumn("sz", F.size("tk").cast("long"))
    if _persist:
        # no blocking fill here: the pref.count() fill below evaluates
        # tkset's shingle pipeline as its single consumer (no race) and
        # fills this cache transitively; the later verify sides read the
        # warm cache
        tkset = _pin(tkset.persist())
    tok = tkset.select("doc_id", "sz", F.explode("tk").alias("tok"))
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    w = Window.partitionBy("doc_id").orderBy("freq", "tok")
    prefix_len = F.col("sz") - ((F.lit(_SSJ_T10) * F.col("sz") + 9) / 10).cast(
        "long"
    ) + 1
    pref = (
        tok.join(freq, "tok")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= prefix_len)
        .select("doc_id", "sz", "tok")
    )
    # persist + blocking fill (r15 profile): the prefix-postings relation
    # feeds BOTH sides of the candidate self-join, and the two aliased
    # subtrees do NOT share an exchange — the tok→freq join + per-doc
    # window chain executed twice (duplicate 32-task stages, ~2.2 s
    # execRunSum each). The relation is prefix-bounded (q·d+1 grams per
    # doc), so the cache is small by construction.
    pref = _pin(pref.persist())
    pref.count()
    cands = (
        pref.alias("a")
        .join(pref.alias("b"), "tok")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(
            F.lit(10) * F.least("a.sz", "b.sz")
            >= F.lit(_SSJ_T10) * F.greatest("a.sz", "b.sz")
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
        # spread the exact verification: the candidate relation is tiny in
        # BYTES (two longs per pair) so AQE coalesces it to a handful of
        # tasks, but each row pays an array_intersect over two shingle
        # sets — CPU-dense ≠ byte-dense (guide §2.5; r15 profile: the
        # verify stage ran 6 s of CPU on 5 tasks). Round-robin exempt
        # from AQE coalescing.
        .repartition(spark.sparkContext.defaultParallelism)
    )
    ta = tkset.select(F.col("doc_id").alias("id_a"), F.col("tk").alias("tk_a"),
                      F.col("sz").alias("sz_a"))
    tb = tkset.select(F.col("doc_id").alias("id_b"), F.col("tk").alias("tk_b"),
                      F.col("sz").alias("sz_b"))
    # (r15 negative result, measured: materializing `inter` behind a
    # Generate — the with_materialized pattern — DOUBLED the query; the
    # Generate forces the two shingle arrays through an extra
    # non-codegen node, costing more than the filter's re-inlined
    # array_intersect saves. Left as withColumn + filter.)
    scored = (
        cands.join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn("inter", F.size(F.array_intersect("tk_a", "tk_b")).cast("long"))
        .withColumn("uni", F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        .filter(F.lit(10) * F.col("inter") >= F.lit(_SSJ_T10) * F.col("uni"))
    )
    return scored.select(
        "id_a", "id_b", "inter", "uni",
        (F.col("inter").cast("double") / F.col("uni").cast("double")).alias("jaccard"),
    )


def q_set_sim_join(
    spark: SparkSession, sf_dir: str, _persist: bool = True
) -> DataFrame:
    """Front of :func:`_set_sim_join_df` (full docstring there). Computes
    the scored PPJoin pair relation per invocation — the r14 memo that
    replayed collected rows (leaving a bare LocalTableScan plan) was
    removed per the r15 gaming directive."""
    return _set_sim_join_df(spark, sf_dir, _persist)


SQL_SET_SIM_JOIN = rf"""
WITH tkset AS (
    SELECT doc_id, list_distinct({_SHINGLES_SQL}) AS tk
    FROM documents
), sized AS (
    SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS sz FROM tkset WHERE len(tk) > 0
), tok AS (
    SELECT doc_id, sz, unnest(tk) AS tok FROM sized
), freq AS (
    SELECT tok, count(*) AS freq FROM tok GROUP BY tok
), ranked AS (
    SELECT tok.doc_id, tok.tok, tok.sz,
           row_number() OVER (PARTITION BY tok.doc_id ORDER BY freq.freq, tok.tok) AS rn,
           tok.sz - ((6 * tok.sz + 9) // 10) + 1 AS plen
    FROM tok JOIN freq USING (tok)
), pref AS (
    SELECT doc_id, sz, tok FROM ranked WHERE rn <= plen
), cands AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM pref a JOIN pref b ON a.tok = b.tok AND a.doc_id < b.doc_id
    WHERE 10 * least(a.sz, b.sz) >= 6 * greatest(a.sz, b.sz)
), scored AS (
    SELECT c.id_a, c.id_b,
           CAST(len(list_intersect(sa.tk, sb.tk)) AS BIGINT) AS inter,
           sa.sz + sb.sz - CAST(len(list_intersect(sa.tk, sb.tk)) AS BIGINT) AS uni
    FROM cands c
    JOIN sized sa ON sa.doc_id = c.id_a
    JOIN sized sb ON sb.doc_id = c.id_b
)
SELECT id_a, id_b, inter, uni,
       CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS jaccard
FROM scored WHERE 10 * inter >= 6 * uni
"""


def q_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-threshold entity clustering — end-to-end record linkage and
    the GUARANTEED-COMPLETE counterpart to the probabilistic
    neardup_clusters: the PPJoin prefix filter (q_set_sim_join) emits
    every pair with shingle-Jaccard ≥ 0.6 (no LSH false negatives by
    construction), and min-label connected components
    (operators/dedup.py::connected_components) fold the verified pair
    graph into entity ids. Output: one (doc_id, entity_id) row per doc
    that belongs to a multi-doc entity. The DuckDB twin runs the same
    prefix-filter pipeline plus recursive-CTE reachability."""
    from ecommerce_analytics_platform_spark.operators.dedup import (
        connected_components,
    )

    # _persist=False: connected_components persists the (symmetrized)
    # edge relation itself, so the PPJoin DAG evaluates exactly once —
    # caching tkset underneath it is pure cache-write overhead plus
    # storage occupancy across the iterative label rounds (measured
    # ~1.3s slower at sf0.1 with the cache on).
    pairs = q_set_sim_join(spark, sf_dir, _persist=False).select("id_a", "id_b")
    cc = connected_components(pairs, "id_a", "id_b")
    return cc.select(
        F.col("node").alias("doc_id"), F.col("component").alias("entity_id")
    )


SQL_ENTITY_CLUSTERS = (
    SQL_SET_SIM_JOIN.rstrip()
    .replace("WITH tkset AS (", "WITH RECURSIVE tkset AS (", 1)
    .replace(
        "SELECT id_a, id_b, inter, uni,\n"
        "       CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS jaccard\n"
        "FROM scored WHERE 10 * inter >= 6 * uni",
        """, verified AS (
    SELECT id_a, id_b FROM scored WHERE 10 * inter >= 6 * uni
), e AS (
    SELECT id_a AS u, id_b AS v FROM verified
    UNION ALL
    SELECT id_b AS u, id_a AS v FROM verified
), walk(u, lbl) AS (
    SELECT u, u FROM (SELECT DISTINCT u FROM e) t
    UNION
    SELECT e.u, w.lbl FROM e JOIN walk w ON w.u = e.v
)
SELECT u AS doc_id, min(lbl) AS entity_id FROM walk GROUP BY u""",
    )
)


_CDC_SEED, _CDC_MOD = 7177, 8


def q_content_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking over the documents table
    (operators/corpus.py::content_defined_chunks): rolling-hash token
    boundaries (LBFS/FastCDC idea applied to token streams) so shared
    passages produce byte-identical interior chunks regardless of where
    they sit in a document; ``n_docs_sharing > 1`` flags the shared
    passages an exact chunk-level dedup would drop. The oracle replays
    boundary gating, running-sum chunk numbering, ordered chunk-text
    hashing and the cross-doc sharing count with the portable hash —
    full hash-match."""
    from ecommerce_analytics_platform_spark.operators.corpus import (
        content_defined_chunks,
    )

    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return content_defined_chunks(
        docs, "doc_id", "text", modulus=_CDC_MOD, seed=_CDC_SEED
    )


def _content_chunks_sql() -> str:
    gate = seeded_hash60_sql("prev || ' ' || tok", _CDC_SEED)
    chash = portable_hash60_sql("string_agg(tok, ' ' ORDER BY pos)")
    return f"""
WITH t AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
    FROM documents WHERE trim(text) <> ''
), tok AS (
    SELECT doc_id, i - 1 AS pos, tk[i] AS tok,
           CASE WHEN i > 1 THEN tk[i - 1] END AS prev
    FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM t)
), flagged AS (
    SELECT doc_id, pos, tok,
           CASE WHEN pos > 0 AND {gate} % {_CDC_MOD} = 0 THEN 1 ELSE 0 END AS brk
    FROM tok
), numbered AS (
    SELECT doc_id, pos, tok,
           CAST(sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS chunk_id
    FROM flagged
), chunks AS (
    SELECT doc_id, chunk_id, CAST(count(*) AS BIGINT) AS n_tokens,
           {chash} AS chunk_hash
    FROM numbered GROUP BY 1, 2
), sharing AS (
    SELECT chunk_hash, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs_sharing
    FROM chunks GROUP BY 1
)
SELECT c.doc_id, c.chunk_id, c.n_tokens, c.chunk_hash, s.n_docs_sharing
FROM chunks c JOIN sharing s USING (chunk_hash)"""


_SHUF_SEED, _SHUF_SHARDS = 91, 64


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training shuffle: every doc gets a seeded
    portable-hash sort key; shard = key mod N, position = rank within
    shard by (key, doc_id). Content-stable (same doc → same slot on any
    cluster size — unlike orderBy(rand())), reproducible across engines,
    and the standard way a 100 TB corpus is shuffled once before
    sequence packing: N independent shards, each sorted locally, no
    global sort."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    key = seeded_hash60(F.col("doc_id").cast("string"), _SHUF_SEED)
    w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    return (
        docs.select(
            "doc_id",
            key.alias("skey"),
            (key % F.lit(_SHUF_SHARDS)).alias("shard"),
        )
        .withColumn("pos", F.row_number().over(w).cast("long") - 1)
        .select("doc_id", "shard", "pos")
    )


def _corpus_shuffle_sql() -> str:
    h = seeded_hash60_sql("CAST(doc_id AS VARCHAR)", _SHUF_SEED)
    return f"""
WITH keyed AS (
    SELECT doc_id, {h} AS skey, {h} % {_SHUF_SHARDS} AS shard
    FROM documents
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id) AS BIGINT) - 1 AS pos
FROM keyed
"""


_DUP_N = 8


def q_dup_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-PASSAGE detection — the ExactSubstr idea
    (Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    Better") at fixed 8-token sliding granularity, which Spark can do
    without a distributed suffix array: every 8-token sliding shingle is
    hashed with position; shingles occurring in MORE THAN ONE document
    mark their positions; per doc, the marked [pos, pos+8) intervals
    coalesce (operators/intervals.py::merge_intervals) into maximal
    duplicated passages. Any duplicated run of length ≥ 8 tokens is
    recovered exactly (an L-token run yields L−7 marked shingles whose
    union is the full run); shorter repeats are below the granularity
    floor, documented. Scale shape: ONE pass — the cross-doc test is a
    count-distinct window over the shingle-hash partition (near-unique
    key space, tiny partitions — no skew, no self-join, no second corpus
    scan), then one per-doc islands window; documents themselves never
    shuffle (only (doc_id, pos, hash) tuples move)."""
    from ecommerce_analytics_platform_spark.operators.intervals import merge_intervals

    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    tk = tokens(F.col("text"))
    base = docs.select("doc_id", tk.alias("tk"), F.size(tk).alias("n")).filter(
        F.col("n") >= _DUP_N
    )
    sh = base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.col("n") - F.lit(_DUP_N - 1)),
                lambda i: F.struct(
                    (i - 1).cast("long").alias("pos"),
                    portable_hash60(
                        F.array_join(F.slice(F.col("tk"), i, _DUP_N), " ")
                    ).alias("h"),
                ),
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.pos").alias("pos"), F.col("s.h").alias("h"))
    hw = Window.partitionBy("h")
    dup = (
        sh.withColumn("nd", F.size(F.collect_set("doc_id").over(hw)))
        .filter(F.col("nd") > 1)
        .select(
            "doc_id",
            F.col("pos").alias("m_start"),
            (F.col("pos") + F.lit(_DUP_N)).alias("m_end"),
        )
    )
    merged = merge_intervals(dup, ["doc_id"], "m_start", "m_end")
    return merged.select(
        "doc_id",
        F.col("island_start").alias("dup_start"),
        F.col("island_end").alias("dup_end"),
        "n_intervals",
        (F.col("island_end") - F.col("island_start")).alias("dup_tokens"),
    )


SQL_DUP_PASSAGES = r"""
WITH base AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
    FROM documents WHERE trim(text) <> ''
), sized AS (
    SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n FROM base WHERE len(tk) >= 8
), sh AS (
    SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
           (('0x' || substr(md5(CAST(array_to_string(list_slice(tk, i, i + 7), ' ') AS VARCHAR)), 1, 15))::BIGINT) AS h
    FROM sized, unnest(generate_series(1, n - 7)) AS t(i)
), multi AS (
    SELECT h FROM sh GROUP BY h HAVING count(DISTINCT doc_id) > 1
), dup AS (
    SELECT sh.doc_id, sh.pos AS m_start, sh.pos + 8 AS m_end
    FROM sh JOIN multi USING (h)
), flagged AS (
    SELECT doc_id, m_start, m_end,
           CASE WHEN max(m_end) OVER w IS NULL OR m_start > max(m_end) OVER w
                THEN 1 ELSE 0 END AS new_island
    FROM dup
    WINDOW w AS (PARTITION BY doc_id ORDER BY m_start, m_end
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), isl AS (
    SELECT doc_id, m_start, m_end,
           sum(new_island) OVER (PARTITION BY doc_id ORDER BY m_start, m_end
                                 ROWS UNBOUNDED PRECEDING) AS island
    FROM flagged
)
SELECT doc_id,
       min(m_start) AS dup_start,
       max(m_end) AS dup_end,
       count(*) AS n_intervals,
       max(m_end) - min(m_start) AS dup_tokens
FROM isl GROUP BY doc_id, island
"""


_MIX_BUDGET = 100_000


def q_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static domain-mixture construction (DoReMi/The-Pile-style
    reweighting, simplified to the canonical sqrt-token heuristic):
    bucket the corpus by predicted language (the same deterministic
    marker-word argmax as language_id), weight each domain ∝
    √(domain tokens) — the standard temperature-style flattening that
    up-samples small domains — normalize, and emit per-domain sampling
    targets for a fixed document budget. Cross-engine exactness: each
    √tokens is rounded 6dp → DECIMAL (per-row deterministic), the
    normalizer is an exact decimal sum, and the weight division runs on
    the identical doubles both engines decode from those decimals."""
    from ecommerce_analytics_platform_spark.functions.text import (
        language_score_struct,
        predicted_lang_from_struct,
        with_materialized,
    )

    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    # r14: score struct materialized once per row — see q_language_id
    # (0.90 -> 0.47 s for this aggregate at sf0.1)
    dom = with_materialized(docs, language_score_struct(F.col("text")), "ls").select(
        predicted_lang_from_struct(F.col("ls")).alias("domain"),
        F.size(tokens(F.col("text"))).cast("long").alias("ntok"),
    )
    agg = dom.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").alias("domain_tokens"),
    )
    sq = F.round(F.sqrt(F.col("domain_tokens").cast("double")), 6).cast(
        "decimal(18,6)"
    )
    per = agg.select("domain", "n_docs", "domain_tokens", sq.alias("sq"))
    # normalizer via a global window over the DOMAINS relation (a handful
    # of rows post-aggregation) — one corpus scan total; a self-join for
    # the total would scan the corpus twice (decimal sum stays exact and
    # order-independent under the window too)
    zw = F.sum("sq").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w = F.col("sq").cast("double") / zw.cast("double")
    return per.select(
        "domain",
        "n_docs",
        "domain_tokens",
        w.alias("mix_weight"),
        F.floor(w * F.lit(float(_MIX_BUDGET))).cast("long").alias("target_docs"),
    )


def _domain_mixture_sql() -> str:
    from ecommerce_analytics_platform_spark.functions.text import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    score_exprs = {
        l: (
            r"len(list_filter(string_split_regex(lower(trim(text)), '\s+'), w -> w IN ("
            + ", ".join(f"'{m}'" for m in LANG_MARKERS[l])
            + ")))"
        )
        for l in langs
    }
    greatest = "greatest(" + ", ".join(score_exprs[l] for l in langs) + ")"
    case = (
        "CASE "
        + " ".join(
            f"WHEN {score_exprs[l]} = {greatest} AND {greatest} > 0 THEN '{l}'"
            for l in langs
        )
        + " ELSE 'und' END"
    )
    return rf"""
WITH dom AS (
    SELECT CASE WHEN trim(text) = '' THEN 'und' ELSE {case} END AS domain,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ntok,
           trim(text) = '' AS is_empty
    FROM documents
), agg AS (
    SELECT domain, count(*) AS n_docs,
           CAST(sum(CASE WHEN is_empty THEN 0 ELSE ntok END) AS BIGINT) AS domain_tokens
    FROM dom GROUP BY domain
), per AS (
    SELECT domain, n_docs, domain_tokens,
           CAST(round(sqrt(CAST(domain_tokens AS DOUBLE)), 6) AS DECIMAL(18,6)) AS sq
    FROM agg
), tot AS (
    SELECT sum(sq) AS z FROM per
)
SELECT domain, n_docs, domain_tokens,
       CAST(sq AS DOUBLE) / CAST(z AS DOUBLE) AS mix_weight,
       CAST(floor(CAST(sq AS DOUBLE) / CAST(z AS DOUBLE) * 100000.0) AS BIGINT) AS target_docs
FROM per, tot
"""


_MASK_SEED = 37


def q_span_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption mask layout, fully deterministic: per doc
    (≥20 tokens) propose ``ntok div 20`` length-3 spans at
    hash-pseudorandom starts (portable seeded hash — the same
    reproducible-noise discipline as train_val_split), then coalesce
    overlapping/abutting proposals with the interval-islands operator
    (operators/intervals.py::merge_intervals, half-open semantics) into
    the final mask intervals — exactly how span corruption resolves
    overlaps before emitting sentinel tokens. Zero data movement beyond
    one explode + one per-doc window; reproducible across engines, so
    the DuckDB twin rebuilds every island bit-for-bit."""
    from ecommerce_analytics_platform_spark.operators.intervals import merge_intervals

    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    base = docs.select(
        "doc_id", F.size(tokens(F.col("text"))).cast("long").alias("ntok")
    ).filter(F.col("ntok") >= 20)
    spans = base.select(
        "doc_id",
        "ntok",
        F.explode(F.sequence(F.lit(0), F.expr("ntok div 20") - F.lit(1))).alias("s"),
    )
    h = seeded_hash60(
        F.concat(
            F.col("doc_id").cast("string"), F.lit(":"), F.col("s").cast("string")
        ),
        _MASK_SEED,
    )
    props = spans.select(
        "doc_id",
        (h % (F.col("ntok") - F.lit(2))).alias("m_start"),
        (h % (F.col("ntok") - F.lit(2)) + F.lit(3)).alias("m_end"),
    )
    merged = merge_intervals(props, ["doc_id"], "m_start", "m_end")
    return merged.select(
        "doc_id",
        F.col("island_start").alias("mask_start"),
        F.col("island_end").alias("mask_end"),
        "n_intervals",
        (F.col("island_end") - F.col("island_start")).alias("masked_tokens"),
    )


def _span_mask_sql() -> str:
    h = seeded_hash60_sql(
        "CAST(doc_id AS VARCHAR) || ':' || CAST(s AS VARCHAR)", _MASK_SEED
    )
    return rf"""
WITH tokd AS (
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS ntok
    FROM documents WHERE trim(text) <> ''
), eligible AS (
    SELECT doc_id, ntok FROM tokd WHERE ntok >= 20
), spans AS (
    SELECT doc_id, ntok, unnest(generate_series(0, ntok // 20 - 1)) AS s
    FROM eligible
), props AS (
    SELECT doc_id,
           {h} % (ntok - 2) AS m_start,
           {h} % (ntok - 2) + 3 AS m_end
    FROM spans
), flagged AS (
    SELECT doc_id, m_start, m_end,
           CASE WHEN max(m_end) OVER w IS NULL OR m_start > max(m_end) OVER w
                THEN 1 ELSE 0 END AS new_island
    FROM props
    WINDOW w AS (PARTITION BY doc_id ORDER BY m_start, m_end
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), isl AS (
    SELECT doc_id, m_start, m_end,
           sum(new_island) OVER (PARTITION BY doc_id ORDER BY m_start, m_end
                                 ROWS UNBOUNDED PRECEDING) AS island
    FROM flagged
)
SELECT doc_id,
       min(m_start) AS mask_start,
       max(m_end) AS mask_end,
       count(*) AS n_intervals,
       max(m_end) - min(m_start) AS masked_tokens
FROM isl GROUP BY doc_id, island
"""


# ---------------------------------------------------------------------------
# Corpus-preparation extensions round 2 (operators/corpus.py):
# decontamination, inverted index, token-budget + balanced sampling,
# exact integer PageRank.
# ---------------------------------------------------------------------------

_WORDS_SQL = r"string_split_regex(trim(text), '\s+')"


def _grams_sql(n: int) -> str:
    """DuckDB word n-gram list over the ``w`` alias (twin of
    text.word_shingles)."""
    concat = " || ' ' || ".join(f"w[i+{j}]" for j in range(n))
    return (
        f"CASE WHEN len(w) < {n} THEN CAST([] AS VARCHAR[]) "
        f"ELSE list_transform(generate_series(1, len(w) - {n - 1}), i -> {concat}) END"
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: train docs sharing any word 4-gram with
    the held-out eval slice (doc_id % 13 == 0) are flagged with the number
    of distinct colliding grams and eval docs hit — the pretraining-corpus
    hygiene pass (eval grams dedup → broadcast; train text never shuffles)."""
    from ecommerce_analytics_platform_spark.operators.corpus import ngram_overlap

    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    eval_set = docs.filter(F.col("doc_id") % 13 == 0)
    train = docs.filter(F.col("doc_id") % 13 != 0)
    return ngram_overlap(train, eval_set, "text", "doc_id", n=4)


SQL_DECONTAMINATE = f"""
WITH w AS (
    SELECT doc_id, {_WORDS_SQL} AS w FROM documents WHERE trim(text) <> ''
), g AS (
    SELECT doc_id, unnest({_grams_sql(4)}) AS gram FROM w
), tg AS (
    SELECT doc_id, gram FROM g WHERE doc_id % 13 <> 0
), eg AS (
    SELECT DISTINCT doc_id AS eval_id, gram FROM g WHERE doc_id % 13 = 0
)
SELECT tg.doc_id AS doc_id,
       count(DISTINCT tg.gram) AS n_shared_grams,
       count(DISTINCT eg.eval_id) AS n_eval_docs
FROM tg JOIN eg USING (gram)
GROUP BY 1
"""


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting-list construction: term → document frequency + first 10 doc
    ids (sorted). The postings cap is the skew guard — a stop-word term
    cannot blow out one reducer; df still reports the full count."""
    from ecommerce_analytics_platform_spark.operators.corpus import inverted_index

    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    idx = inverted_index(docs, "text", "doc_id", min_df=20, max_postings=10)
    # posting list serialized for cross-engine value hashing (arrays
    # stringify differently via Arrow vs DuckDB)
    return idx.select("term", "df", F.concat_ws(",", "postings").alias("postings"))


SQL_INVERTED_INDEX = f"""
WITH t AS (
    SELECT DISTINCT doc_id, lower(term) AS term
    FROM (SELECT doc_id, unnest({_WORDS_SQL}) AS term
          FROM documents WHERE trim(text) <> '')
)
SELECT term, count(*) AS df,
       array_to_string((list_sort(list(doc_id)))[1:10], ',') AS postings
FROM t GROUP BY term HAVING count(*) >= 20
"""


def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible token-budget cut: hash-sharded running token sums, keep
    docs while the per-shard budget lasts (how "the first N tokens" of a
    shuffled corpus is taken deterministically on any cluster size)."""
    from ecommerce_analytics_platform_spark.operators.corpus import token_budget_sample

    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return token_budget_sample(docs, "text", "doc_id", budget_tokens=20_000, n_shards=8)


SQL_TOKEN_BUDGET_SAMPLE = f"""
WITH b AS (
    SELECT doc_id,
           {portable_hash60_sql('doc_id')} AS h,
           CAST(len({_WORDS_SQL}) AS BIGINT) AS n_tokens
    FROM documents WHERE trim(text) <> ''
), r AS (
    SELECT doc_id, h % 8 AS shard, n_tokens,
           sum(n_tokens) OVER (PARTITION BY h % 8 ORDER BY h, doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum_tokens
    FROM b
)
SELECT doc_id, shard, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM r WHERE cum_tokens <= 2500
"""


def q_lang_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-balanced resample: every language thinned to (expected)
    min-language size with an exact-integer deterministic predicate —
    multilingual corpus balancing with zero float-fraction drift."""
    from ecommerce_analytics_platform_spark.operators.corpus import balanced_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return balanced_sample(docs, "lang", "doc_id").select("doc_id", "lang")


SQL_LANG_BALANCED_SAMPLE = f"""
WITH c AS (
    SELECT lang, count(*) AS stratum_n FROM documents GROUP BY lang
), m AS (
    SELECT min(stratum_n) AS min_n FROM c
)
SELECT d.doc_id, d.lang
FROM documents d JOIN c USING (lang) CROSS JOIN m
WHERE ({portable_hash60_sql('d.doc_id')} % 1000000) * c.stratum_n < m.min_n * 1000000
"""


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank over the part co-purchase graph (parts sharing
    an order, sampled orders), in scaled-integer arithmetic — iterative
    graph algorithm with bit-exact results under any partitioning (each
    iteration = one join + one shuffle agg; lineage truncated per round)."""
    from ecommerce_analytics_platform_spark.operators.corpus import pagerank_exact

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 10 == 0)
        .select("l_orderkey", "l_partkey")
    )
    a, b = li.alias("a"), li.alias("b")
    pairs = a.join(b, "l_orderkey").select(
        F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
    ).filter(F.col("src") < F.col("dst"))
    edges = pairs.union(pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    # eager=True (r14 negative result, kept deliberately): eager=False
    # fuses all 3 rounds + the edge build into ONE plan, and the fused
    # whole-stage-codegen compile is a 9.7 s first-run / +0.7 s
    # steady-state REGRESSION in the bench (full-bench pagerank hit
    # 13.3 s), dwarfing the per-checkpoint job latency it saves.
    return pagerank_exact(edges, iterations=3)


def _pagerank_sql(iterations: int = 3, scale: int = 1_000_000_000) -> str:
    base = (15 * scale) // 100
    its = []
    prev = "r0"
    for k in range(1, iterations + 1):
        its.append(
            f"""c{k} AS (
    SELECT e.dst, sum({prev}.rank // deg.deg) AS in_sum
    FROM e JOIN {prev} ON e.src = {prev}.node JOIN deg ON e.src = deg.src
    GROUP BY e.dst
), r{k} AS (
    SELECT n.node, CAST({base} + (85 * coalesce(c{k}.in_sum, 0)) // 100 AS BIGINT) AS rank
    FROM n LEFT JOIN c{k} ON n.node = c{k}.dst
)"""
        )
        prev = f"r{k}"
    return f"""
WITH li AS (
    SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 10 = 0
), p AS (
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), e AS (
    SELECT src, dst FROM p UNION SELECT dst, src FROM p
), deg AS (
    SELECT src, count(*) AS deg FROM e GROUP BY src
), n AS (
    SELECT DISTINCT src AS node FROM e
), r0 AS (
    SELECT node, CAST({scale} AS BIGINT) AS rank FROM n
), {', '.join(its)}
SELECT node, rank FROM {prev}
"""


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup (C4/RefinedWeb boilerplate removal): 10-token
    spans, keep only the globally first occurrence of each distinct span,
    reconstruct cleaned text. Spanning is scan-local; the keep-first pass
    shuffles (hash, doc_id, idx) — never whole documents."""
    from ecommerce_analytics_platform_spark.operators.corpus import span_dedup

    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return span_dedup(docs, "text", "doc_id", span_tokens=10)


SQL_SPAN_DEDUP = r"""
WITH tokd AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
    FROM documents WHERE trim(text) <> ''
), s AS (
    SELECT doc_id, CAST(i AS BIGINT) AS idx,
           array_to_string(tk[i * 10 + 1 : i * 10 + 10], ' ') AS span
    FROM tokd CROSS JOIN (SELECT unnest(generate_series(0, 10000)) AS i) idx
    WHERE i <= (len(tk) - 1) // 10
), k AS (
    SELECT doc_id, idx, span,
           row_number() OVER (
               PARTITION BY ('0x' || substr(md5(span), 1, 15))::BIGINT
               ORDER BY doc_id, idx) AS rn
    FROM s
)
SELECT doc_id,
       count(*) AS n_spans,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_spans,
       coalesce(string_agg(CASE WHEN rn = 1 THEN span END, ' ' ORDER BY idx), '') AS clean_text
FROM k GROUP BY doc_id
"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot incremental dedup: the incoming delta (doc_id % 10 ==
    7) is fingerprinted and anti-joined against the existing corpus's
    distinct fingerprint set, then self-deduped — how a continuously
    ingesting corpus dedups a batch without re-deduping 100 TB."""
    from ecommerce_analytics_platform_spark.operators.dedup import dedup_against_corpus

    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    incoming = docs.filter(F.col("doc_id") % 10 == 7)
    corpus = docs.filter(F.col("doc_id") % 10 != 7)
    return dedup_against_corpus(incoming, corpus, "text", "doc_id")


SQL_INCREMENTAL_DEDUP = r"""
WITH fp AS (
    SELECT doc_id,
           ('0x' || substr(md5(regexp_replace(trim(text), '\s+', ' ', 'g')), 1, 15))::BIGINT AS fingerprint
    FROM documents
), seen AS (
    SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 10 <> 7
)
SELECT min(doc_id) AS doc_id, fingerprint
FROM fp
WHERE doc_id % 10 = 7 AND fingerprint NOT IN (SELECT fingerprint FROM seen)
GROUP BY fingerprint
"""


def q_token_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency quality scoring, exact-integer: corpus
    vocabulary ranked by global frequency (deterministic tiebreak), each
    document scored by the ranks of its tokens (sum/max/rare-count). The
    vocab aggregate is the only corpus-wide shuffle; scoring is a broadcast
    join back."""
    from ecommerce_analytics_platform_spark.operators.corpus import token_zipf_stats

    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return token_zipf_stats(docs, "text", "doc_id", rare_rank=20)


SQL_TOKEN_ZIPF = r"""
WITH t AS (
    SELECT doc_id, lower(unnest(string_split_regex(trim(text), '\s+'))) AS term
    FROM documents WHERE trim(text) <> ''
), v AS (
    SELECT term, count(*) AS n FROM t GROUP BY term
), r AS (
    SELECT term, CAST(dense_rank() OVER (ORDER BY n DESC, term ASC) AS BIGINT) AS rank FROM v
)
SELECT doc_id,
       count(*) AS n_tokens,
       CAST(sum(rank) AS BIGINT) AS sum_rank,
       max(rank) AS max_rank,
       CAST(sum(CASE WHEN rank > 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
FROM t JOIN r USING (term) GROUP BY doc_id
"""


def q_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped correlated EXISTS + NOT EXISTS (adapted to this
    schema: "late" = shipped >60 days after the order date, finalized
    orders): suppliers who were the SOLE late shipper on a multi-supplier
    order. Exercises Catalyst's decorrelation of a semi and an anti join
    over the same relation plus a deterministic top-k
    (TakeOrderedAndProject); supplier dim is broadcast."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    ords = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    late = (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .filter(F.col("l_shipdate") > F.date_add("o_orderdate", 60))
        .select("l_orderkey", "l_suppkey")
    )
    others = li.select(
        F.col("l_orderkey").alias("o2_orderkey"), F.col("l_suppkey").alias("o2_suppkey")
    )
    late_others = late.select(
        F.col("l_orderkey").alias("o3_orderkey"), F.col("l_suppkey").alias("o3_suppkey")
    )
    l1 = late.join(
        others,
        (F.col("l_orderkey") == F.col("o2_orderkey"))
        & (F.col("l_suppkey") != F.col("o2_suppkey")),
        "left_semi",
    ).join(
        late_others,
        (F.col("l_orderkey") == F.col("o3_orderkey"))
        & (F.col("l_suppkey") != F.col("o3_suppkey")),
        "left_anti",
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        l1.join(F.broadcast(sup), l1.l_suppkey == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(50)
    )


SQL_LATE_SUPPLIERS = """
WITH f AS (
    SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'
), late AS (
    SELECT l.l_orderkey, l.l_suppkey
    FROM lineitem l JOIN f ON l.l_orderkey = f.o_orderkey
    WHERE l.l_shipdate > f.o_orderdate + INTERVAL 60 DAY
)
SELECT s.s_name AS s_name, CAST(count(*) AS BIGINT) AS numwait
FROM late l1
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY s.s_name
ORDER BY numwait DESC, s_name
LIMIT 50
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix over the events stream (generalizes the
    reference's metrics_user_lifecycle first/last-seen rollup,
    /root/reference/dbt_project/models/marts/metrics/metrics_user_lifecycle.sql:5-23,
    into cohort × week-offset cells; weekly grain because the testdata
    events span ~30 days). Exact integer week arithmetic (Monday-truncated
    datediff/7 in both engines) — bit-identical cross-engine."""
    from ecommerce_analytics_platform_spark.operators.analytics import cohort_matrix

    return cohort_matrix(_t(spark, sf_dir, "events"), "user_id", "ts", period="week")


SQL_COHORT_RETENTION = """
WITH act AS (
    SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS act_week
    FROM events
), first AS (
    SELECT user_id, min(act_week) AS cohort_period FROM act GROUP BY user_id
)
SELECT f.cohort_period,
       CAST(date_diff('day', f.cohort_period, a.act_week) / 7 AS BIGINT) AS periods_since,
       count(*) AS n_active
FROM act a JOIN first f USING (user_id)
GROUP BY 1, 2
"""


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quartile segmentation of customers by order history
    (generalizes metrics_user_lifecycle's total_orders / total_spent /
    first-purchase columns, metrics_user_lifecycle.sql:24-43, into ntile
    scores). Deterministic (metric, entity) total order; monetary compared
    in the DECIMAL domain so bucket cut points cannot float-flip."""
    from ecommerce_analytics_platform_spark.operators.analytics import rfm_scores

    return rfm_scores(
        _t(spark, sf_dir, "orders"), "o_custkey", "o_orderdate", "o_totalprice", n_tiles=4
    )


SQL_RFM_SEGMENTS = """
WITH per AS (
    SELECT o_custkey AS entity,
           max(CAST(o_orderdate AS DATE)) AS last_date,
           count(*) AS frequency,
           sum(CAST(o_totalprice AS DECIMAL(18,4))) AS monetary_dec
    FROM orders GROUP BY 1
), a AS (SELECT max(CAST(o_orderdate AS DATE)) AS anchor FROM orders)
SELECT entity,
       CAST(date_diff('day', last_date, anchor) AS BIGINT) AS recency_days,
       frequency,
       CAST(monetary_dec AS DOUBLE) AS monetary,
       CAST(ntile(4) OVER (ORDER BY date_diff('day', last_date, anchor) ASC, entity ASC) AS INT) AS r,
       CAST(ntile(4) OVER (ORDER BY frequency DESC, entity ASC) AS INT) AS f,
       CAST(ntile(4) OVER (ORDER BY monetary_dec DESC, entity ASC) AS INT) AS m
FROM per, a
"""


def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence counts over lineitem (basket =
    l_orderkey, item = l_partkey). Extends the reference's
    fact_order_items grain (order × product,
    /root/reference/dbt_project/models/marts/core/facts/fact_order_items.sql)
    to item-pair support counts — the support/confidence/lift primitive.
    Quadratic guard drops baskets > 100 distinct items before pairing."""
    from ecommerce_analytics_platform_spark.operators.analytics import basket_pairs

    return basket_pairs(
        _t(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey",
        min_support=2, max_basket=100,
    )


SQL_BASKET_PAIRS = """
WITH items AS (
    SELECT DISTINCT l_orderkey AS basket, l_partkey AS item FROM lineitem
), sized AS (
    SELECT basket, item FROM (
        SELECT basket, item, count(*) OVER (PARTITION BY basket) AS bsize FROM items
    ) WHERE bsize <= 100
), pairs AS (
    SELECT a.item AS item_a, b.item AS item_b, count(*) AS pair_n
    FROM sized a JOIN sized b USING (basket)
    WHERE a.item < b.item
    GROUP BY 1, 2
    HAVING count(*) >= 2
), n AS (
    SELECT item, count(*) AS n FROM sized GROUP BY 1
), nb AS (
    SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n_baskets FROM sized
)
SELECT p.item_a, p.item_b, p.pair_n, na.n AS a_n, nbn.n AS b_n, nb.n_baskets
FROM pairs p
JOIN n na ON na.item = p.item_a
JOIN n nbn ON nbn.item = p.item_b, nb
"""


def q_state_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix per user (Markov counts).
    Generalizes the funnel-stage bitmap of metrics_daily_funnel
    (/root/reference/dbt_project/models/marts/metrics/metrics_daily_funnel.sql:5-15)
    into full adjacency counts. Deterministic (ts, event_id) order."""
    from ecommerce_analytics_platform_spark.operators.analytics import transition_counts

    return transition_counts(
        _t(spark, sf_dir, "events"), "user_id", "ts", "event_type", tiebreak_col="event_id"
    )


SQL_STATE_TRANSITIONS = """
SELECT prev_state, state, count(*) AS n FROM (
    SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_state,
           event_type AS state
    FROM events
) WHERE prev_state IS NOT NULL
GROUP BY 1, 2
"""


def q_status_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval collapse: consecutive same-status order
    runs per customer (ordered by o_orderkey) — the SCD Type 2 validity-
    range build primitive the reference's full-rebuild dims sidestep
    (/root/reference/dbt_project/models/marts/core/dimensions/dim_users.sql).
    Both row_numbers share one window sort; a single shuffle."""
    from ecommerce_analytics_platform_spark.operators.analytics import run_length_intervals

    return run_length_intervals(
        _t(spark, sf_dir, "orders"), "o_custkey", "o_orderkey", "o_orderstatus"
    )


SQL_STATUS_INTERVALS = """
WITH s AS (
    SELECT o_custkey AS entity, o_orderstatus AS state, o_orderkey AS seq,
           row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey)
           - row_number() OVER (PARTITION BY o_custkey, o_orderstatus ORDER BY o_orderkey) AS grp
    FROM orders
)
SELECT entity, state, min(seq) AS valid_from, max(seq) AS valid_to, count(*) AS n_rows
FROM s GROUP BY entity, state, grp
"""


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 dimension build (operators/scd.py): per user, every
    event_type state run with [valid_from, valid_to) validity, version
    number and is_current flag — the Type 2 upgrade of the reference's
    full-rebuild Type 1 dims (dim_users.sql keeps only latest values). One
    key shuffle; dedup window, change-detect lag and valid_to lead share
    the same (key, ts) sort."""
    from ecommerce_analytics_platform_spark.operators.scd import scd2_history

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type", "event_id")
    return scd2_history(ev, "user_id", ["event_type"], "ts", tiebreak_col="event_id")


SQL_SCD2 = """
WITH log AS (
    SELECT user_id, ts, event_type FROM (
        SELECT user_id, ts, event_type,
               row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM events) t WHERE rn = 1
), runs AS (
    SELECT user_id, ts, event_type FROM (
        SELECT log.*, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        FROM log) t WHERE prev IS DISTINCT FROM event_type
)
SELECT user_id, event_type,
       ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts) AS INTEGER) AS version,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL AS is_current
FROM runs
"""


def q_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD Type 2 merge: build the dimension from the first
    half of the event log, then merge the second half as a change batch
    (operators/scd.py::scd2_merge — untouched keys anti-join through;
    changed keys replay run-starts ∪ delta). The oracle is the FULL
    rebuild (SQL_SCD2): the hash compare proves merge == rebuild, the
    correctness contract that lets a 100 TB dimension absorb a daily batch
    without rewriting itself. The split point is data-derived (midpoint of
    the event-time range) via a broadcast 1-row scalar, not a collect."""
    from ecommerce_analytics_platform_spark.operators.scd import (
        scd2_history,
        scd2_merge,
    )

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    cut = ev.agg(
        ((F.unix_micros(F.min("ts")) + F.unix_micros(F.max("ts"))) / 2)
        .cast("long")
        .alias("cut_us")
    )
    tagged = ev.crossJoin(F.broadcast(cut))
    initial = tagged.filter(F.unix_micros(F.col("ts")) < F.col("cut_us")).drop("cut_us")
    delta = tagged.filter(F.unix_micros(F.col("ts")) >= F.col("cut_us")).drop("cut_us")
    dim = scd2_history(initial, "user_id", ["event_type"], "ts", tiebreak_col="event_id")
    return scd2_merge(
        dim, delta, "user_id", ["event_type"], "ts", tiebreak_col="event_id"
    )


def q_funnel_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-ordered funnel signup → view → purchase: stage k counts only
    strictly after the entity's stage k-1 min-qualifying timestamp. The
    ordered upgrade of the reference's per-day unordered funnel bitmap
    (metrics_daily_funnel.sql:5-15 computes max(case when …) flags with no
    ordering constraint). Entity-keyed joins co-partition with the event
    relation."""
    from ecommerce_analytics_platform_spark.operators.analytics import ordered_funnel

    return ordered_funnel(
        _t(spark, sf_dir, "events"), "user_id", "ts", "event_type",
        stages=["signup", "view", "purchase"],
    )


SQL_FUNNEL_ORDERED = """
WITH s1 AS (
    SELECT user_id AS entity, min(ts) AS stage_signup
    FROM events WHERE event_type = 'signup' GROUP BY 1
), s2 AS (
    SELECT e.user_id AS entity, min(e.ts) AS stage_view
    FROM events e JOIN s1 ON s1.entity = e.user_id
    WHERE e.event_type = 'view' AND e.ts > s1.stage_signup GROUP BY 1
), s3 AS (
    SELECT e.user_id AS entity, min(e.ts) AS stage_purchase
    FROM events e JOIN s2 ON s2.entity = e.user_id
    WHERE e.event_type = 'purchase' AND e.ts > s2.stage_view GROUP BY 1
)
SELECT s1.entity, s1.stage_signup, s2.stage_view, s3.stage_purchase,
       CAST(CASE WHEN s1.stage_signup IS NOT NULL THEN 1 ELSE 0 END
            + CASE WHEN s2.stage_view IS NOT NULL THEN 1 ELSE 0 END
            + CASE WHEN s3.stage_purchase IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
           AS stages_completed
FROM s1 LEFT JOIN s2 ON s2.entity = s1.entity LEFT JOIN s3 ON s3.entity = s1.entity
"""


# ---------------------------------------------------------------------------
# Round-3 coverage widening: relational reshaping (unpivot), full window-frame
# surface, array set algebra, distributed graph triangle counting,
# weight-proportional deterministic sampling, and mergeable-sketch rollups.
# ---------------------------------------------------------------------------

_KPI_METRICS = ["clicks", "views", "purchases", "signups", "errors"]
_KPI_TYPES = ["click", "view", "purchase", "signup", "error"]


def q_kpi_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long relational reshaping (melt): conditional-count pivot per
    day, then ``DataFrame.unpivot`` back to (date, metric, n) — Spark's
    Expand-based unpivot vs DuckDB's UNPIVOT. The long shape is what a
    metrics store ingests; Expand emits all metric rows in one pass with no
    shuffle beyond the day aggregate."""
    ev = _t(spark, sf_dir, "events")
    wide = ev.groupBy(F.col("ts").cast("date").alias("event_date")).agg(
        *[
            F.count(F.when(F.col("event_type") == t, 1)).alias(m)
            for m, t in zip(_KPI_METRICS, _KPI_TYPES)
        ]
    )
    return wide.unpivot(["event_date"], _KPI_METRICS, "metric", "n")


SQL_KPI_UNPIVOT = f"""
WITH wide AS (
    SELECT CAST(ts AS DATE) AS event_date,
           {', '.join(f"count(CASE WHEN event_type = '{t}' THEN 1 END) AS {m}"
                      for m, t in zip(_KPI_METRICS, _KPI_TYPES))}
    FROM events GROUP BY 1
)
SELECT event_date, metric, n
FROM wide UNPIVOT (n FOR metric IN ({', '.join(_KPI_METRICS)}))
"""


def q_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full window-frame surface over the per-user event stream:
    first_value / last_value / nth_value with explicit ROWS frames plus
    cume_dist — the remaining §2.6 window family beyond rank/lag/ntile.
    The (ts, event_id) compound order key makes every pick deterministic
    (no peer ties); cume_dist is an exact int/int double division, so the
    doubles are bit-identical cross-engine without rounding."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 20 == 3)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    grow = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.first("value").over(grow).alias("first_val"),
        F.last("value").over(full).alias("last_val"),
        F.nth_value("value", 3).over(grow).alias("third_val"),
        F.cume_dist().over(w).alias("cd"),
    )


SQL_WINDOW_FRAMES = """
SELECT user_id, event_id, ts, value,
       first_value(value) OVER w_grow AS first_val,
       last_value(value)  OVER w_full AS last_val,
       nth_value(value, 3) OVER w_grow AS third_val,
       cume_dist() OVER w_ord AS cd
FROM events
WHERE user_id % 20 = 3
WINDOW
    w_ord  AS (PARTITION BY user_id ORDER BY ts, event_id),
    w_grow AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w_full AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def q_array_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set algebra per user: distinct event-type sets for two halves
    of the month (conditional collect_set), then array_intersect /
    array_union / array_except cardinalities — churn/overlap analysis done
    entirely in one hash aggregate + scan-local array ops (one shuffle;
    the sets are bounded by the event-type vocabulary, not event count)."""
    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-15").cast("timestamp")
    sets = ev.groupBy("user_id").agg(
        F.array_distinct(
            F.collect_list(F.when(F.col("ts") < cut, F.col("event_type")))
        ).alias("w1"),
        F.array_distinct(
            F.collect_list(F.when(F.col("ts") >= cut, F.col("event_type")))
        ).alias("w2"),
    )
    return sets.select(
        "user_id",
        F.size("w1").cast("long").alias("n_w1"),
        F.size("w2").cast("long").alias("n_w2"),
        F.size(F.array_intersect("w1", "w2")).cast("long").alias("n_common"),
        F.size(F.array_union("w1", "w2")).cast("long").alias("n_union"),
        F.size(F.array_except("w1", "w2")).cast("long").alias("n_only_w1"),
    )


SQL_ARRAY_SETOPS = """
WITH a AS (
    SELECT DISTINCT user_id, event_type FROM events WHERE ts < TIMESTAMP '2024-01-15'
), b AS (
    SELECT DISTINCT user_id, event_type FROM events WHERE ts >= TIMESTAMP '2024-01-15'
), j AS (
    SELECT coalesce(a.user_id, b.user_id) AS user_id,
           CASE WHEN a.user_id IS NOT NULL THEN 1 ELSE 0 END AS ina,
           CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END AS inb
    FROM a FULL OUTER JOIN b
      ON a.user_id = b.user_id AND a.event_type = b.event_type
)
SELECT user_id,
       CAST(sum(ina) AS BIGINT)             AS n_w1,
       CAST(sum(inb) AS BIGINT)             AS n_w2,
       CAST(sum(ina * inb) AS BIGINT)       AS n_common,
       CAST(count(*) AS BIGINT)             AS n_union,
       CAST(sum(ina * (1 - inb)) AS BIGINT) AS n_only_w1
FROM j GROUP BY user_id
"""


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting on the part co-purchase graph (same
    sampled edge set as pagerank): ordered edges a<b only, two equi-joins
    close the wedge — each triangle {a<b<c} counted exactly once, attributed
    to its lowest node. The ordered-edge trick keeps the join fan-out at
    O(E^1.5) worst case instead of 6× counting with undirected edges; at
    scale the edge relation would be bucketed by src so both joins
    co-partition."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 10 == 0)
        .select("l_orderkey", "l_partkey")
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        .distinct()
        .persist()
    )
    _pin(edges)
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    return (
        e1.join(e2, F.col("e1.dst") == F.col("e2.src"))
        .join(
            e3,
            (F.col("e1.src") == F.col("e3.src")) & (F.col("e2.dst") == F.col("e3.dst")),
        )
        .groupBy(F.col("e1.src").alias("node"))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


SQL_TRIANGLE_COUNT = """
WITH li AS (
    SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 10 = 0
), e AS (
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM li a JOIN li b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT e1.src AS node, count(*) AS n_triangles
FROM e e1
JOIN e e2 ON e1.dst = e2.src
JOIN e e3 ON e1.src = e3.src AND e2.dst = e3.dst
GROUP BY e1.src
"""


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-proportional sampling (priority sampling,
    Duffield-Lund-Thorup): priority = uniform-hash / weight, keep the k
    smallest — longer documents are proportionally more likely to be kept,
    and the decision is a pure function of the key, so any cluster size or
    re-run selects the same sample. The k-smallest is a distributed
    TakeOrderedAndProject (per-partition top-k then merge), not a global
    sort; the single division is IEEE-exact so both engines rank
    identically."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    pri = (portable_hash60(F.col("doc_id").cast("string")) / F.col("n_chars")).alias(
        "priority"
    )
    top = docs.select("doc_id", "n_chars", pri).orderBy("priority", "doc_id").limit(100)
    w = Window.orderBy("priority", "doc_id")
    return top.withColumn("rk", F.row_number().over(w).cast("int"))


SQL_WEIGHTED_SAMPLE = f"""
SELECT doc_id, n_chars, priority, CAST(rk AS INTEGER) AS rk
FROM (
    SELECT doc_id, n_chars,
           {portable_hash60_sql('doc_id')} / n_chars AS priority,
           row_number() OVER (ORDER BY {portable_hash60_sql('doc_id')} / n_chars, doc_id) AS rk
    FROM documents
) t
WHERE rk <= 100
"""


def q_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level mergeable-sketch rollup: per-day HLL sketches of the
    distinct-user set (datasketches binary column), merged with
    hll_union_agg into weekly uniques — THE pattern for distinct counts at
    100 TB, where exact countDistinct needs a full shuffle of every key but
    sketches reduce to a few KB per partition and merge associatively.
    Sketch estimates are engine-specific, so the checkable relation is the
    accuracy contract (ANN-trio pattern): per-week exact uniques hash-match
    the DuckDB twin and ``hll_ok`` flips false on a real merge/accuracy
    regression (lgK=14 ⇒ ~0.8% rsd; 5% + 5 absolute headroom). Tight
    bounds are additionally pytest-asserted."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.hll_sketch_agg(F.col("user_id"), F.lit(14)).alias("sk")
    )
    weekly = daily.groupBy(
        F.date_trunc("week", F.col("d")).cast("date").alias("week_start")
    ).agg(
        F.hll_sketch_estimate(F.hll_union_agg(F.col("sk"), F.lit(True))).alias(
            "__approx_users"
        )
    )
    exact = ev.groupBy(
        F.date_trunc("week", F.col("ts").cast("date")).cast("date").alias("week_start")
    ).agg(F.countDistinct("user_id").alias("exact_users"))
    return (
        weekly.join(exact, "week_start")
        .select(
            "week_start",
            "exact_users",
            (
                F.abs(F.col("__approx_users") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users") + F.lit(5.0)
            ).alias("hll_ok"),
        )
        .orderBy("week_start")
    )


SQL_SKETCH_MERGE = """
SELECT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS week_start,
       count(DISTINCT user_id) AS exact_users,
       true AS hll_ok
FROM events
GROUP BY 1 ORDER BY 1
"""


def q_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame over event time: per-user trailing-1-hour moving
    sum/count — the value-based frame family (§2.6), distinct from ROWS
    frames (window_frames) and tumbling buckets (time_bucket_rollup). The
    order key is epoch milliseconds (unix_millis ↔ epoch_ms, exact BIGINT
    cross-engine); the moving double sum goes through the decimal trick so
    frame-internal summation order can't flip a bit."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") % 20 == 7)
    ms = F.unix_millis(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(ms)
        .rangeBetween(-3_600_000, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        ms.alias("ts_ms"),
        F.sum(F.col("value").cast("decimal(18,4)")).over(w).cast("double").alias("trail_1h_sum"),
        F.count(F.lit(1)).over(w).alias("trail_1h_n"),
    )


SQL_RANGE_FRAME = """
SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
       CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE) AS trail_1h_sum,
       count(*) OVER w AS trail_1h_n
FROM events
WHERE user_id % 20 = 7
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
             RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
"""


def q_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted corpus mixing (α = 0.5): per-source sampling
    weights w_i ∝ p_i^α, the standard multi-source LLM-pretraining mix
    (GPT-3/PaLM style upsampling of small high-quality sources). All float
    steps are chosen for bit-exact cross-engine parity: p_i is one exact
    double division, α = 0.5 uses IEEE-exact sqrt (not pow), the
    normalizing sum runs in the decimal domain (order-independent), and the
    final expected-document count is floored into an integer."""
    docs = _t(spark, sf_dir, "documents")
    n = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = n.select(F.sum("n_docs").alias("n_total"))
    scored = n.crossJoin(F.broadcast(tot)).withColumn(
        "sqrt_p_dec",
        F.sqrt(F.col("n_docs") / F.col("n_total")).cast("decimal(20,12)"),
    )
    z = scored.select(F.sum("sqrt_p_dec").alias("z"))
    return (
        scored.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_docs",
            (F.col("n_docs") / F.col("n_total")).alias("p"),
            (F.col("sqrt_p_dec").cast("double") / F.col("z").cast("double")).alias("weight"),
            F.floor(
                F.col("sqrt_p_dec").cast("double") / F.col("z").cast("double") * 10000
            ).cast("long").alias("docs_per_10k"),
        )
    )


SQL_SOURCE_MIX = """
WITH n AS (
    SELECT source, count(*) AS n_docs FROM documents GROUP BY 1
), tot AS (
    SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM n
), scored AS (
    SELECT source, n_docs, n_total,
           CAST(sqrt(n_docs / CAST(n_total AS DOUBLE)) AS DECIMAL(20,12)) AS sqrt_p_dec
    FROM n CROSS JOIN tot
), z AS (
    SELECT sum(sqrt_p_dec) AS z FROM scored
)
SELECT source, n_docs,
       n_docs / CAST(n_total AS DOUBLE) AS p,
       CAST(sqrt_p_dec AS DOUBLE) / CAST(z AS DOUBLE) AS weight,
       CAST(floor(CAST(sqrt_p_dec AS DOUBLE) / CAST(z AS DOUBLE) * 10000) AS BIGINT)
           AS docs_per_10k
FROM scored CROSS JOIN z
"""


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (per-vector max-abs scale) —
    the 4× storage/bandwidth compression step before ANN at 100 TB
    embedding scale. Every float op is IEEE-exact-deterministic (abs/max
    fold, one multiply, one divide, floor(x+0.5) rounding — no
    transcendentals), so the quantized codes are bit-identical
    cross-engine; the array is emitted as an order-preserving fingerprint
    (portable hash of the joined codes) plus exact integer sum so the
    oracle comparison needs no array-repr canonicalization."""
    from ecommerce_analytics_platform_spark.functions.text import with_materialized

    emb = fan_out(_t(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding"))
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    emb = with_materialized(emb, v, "v")
    maxabs = F.aggregate(F.col("v"), F.lit(0.0), lambda a, x: F.greatest(a, F.abs(x)))
    emb = with_materialized(emb, maxabs, "maxabs")
    q = F.transform(
        F.col("v"),
        lambda x: F.when(F.col("maxabs") == 0.0, F.lit(0))
        .otherwise(F.floor(x * F.lit(127.0) / F.col("maxabs") + F.lit(0.5)))
        .cast("long"),
    )
    emb = with_materialized(emb, q, "q")
    return emb.select(
        "vec_id",
        "label",
        (F.col("maxabs") / F.lit(127.0)).alias("qscale"),
        F.aggregate(F.col("q"), F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        portable_hash60(F.array_join(F.transform(F.col("q"), lambda x: x.cast("string")), ",")).alias(
            "q_hash"
        ),
    )


SQL_EMBEDDING_QUANTIZE = f"""
WITH v AS (
    SELECT vec_id, label,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings
), m AS (
    SELECT vec_id, label, v,
           list_reduce(list_prepend(0.0, list_transform(v, x -> abs(x))),
                       (a, x) -> CASE WHEN x > a THEN x ELSE a END) AS maxabs
    FROM v
), q AS (
    SELECT vec_id, label, maxabs,
           list_transform(v, x -> CAST(CASE WHEN maxabs = 0.0 THEN 0
                ELSE floor(x * 127.0 / maxabs + 0.5) END AS BIGINT)) AS q
    FROM m
)
SELECT vec_id, label,
       maxabs / 127.0 AS qscale,
       CAST(list_sum(q) AS BIGINT) AS q_sum,
       {portable_hash60_sql("array_to_string(q, ',')")} AS q_hash
FROM q
"""


# ---------------------------------------------------------------------------
# LM-count broadcast guard (VERDICT r4 weak #1).
#
# Vocab and bigram-count tables are corpus-derived and unbounded (bigram
# cardinality grows ~vocab² worst case) — an unconditional F.broadcast OOMs
# every executor at 100 TB. Mirror similarity.py::broadcast_threshold: the
# count table is persisted, counted once (the count materializes the cache,
# so the later join pays nothing extra), and broadcast ONLY under the row
# cap; above it the join falls back to a plain shuffle join (AQE's runtime
# broadcast conversion still localizes it if the actual size turns out
# small). Production path above the cap: top-K vocab cut + OOV bucket
# (CCNet) if the shuffle join itself becomes the bottleneck.
# ---------------------------------------------------------------------------

LM_BROADCAST_MAX_ROWS = 2_000_000


# Pin registry lives in session.py so operator modules (dedup's LSH
# signature persist, LM count tables here) can register caller-consumed
# persists without importing this module. Release is STRUCTURAL, not
# conventional (r6 ADVICE): every registry entry is wrapped by
# ``_with_pin_release`` at assembly time, so entering ANY registry query
# first drops the previous invocation's pins — a future query function
# cannot leak even if it never heard of ``release_pinned``.
from ecommerce_analytics_platform_spark.session import (  # noqa: E402
    pin as _pin,
    release_pinned,
)

# back-compat alias (r5/r6 name) — existing call sites inside the LM
# query functions keep working and are now redundant-but-harmless
_release_lm_pinned = release_pinned


def _bounded_broadcast(df: DataFrame, max_rows: int | None = None) -> DataFrame:
    """Broadcast ``df`` only if its (materialized) row count is under the
    cap; above it, pin a sort-merge hint — the counted size is ground
    truth, so the hint also overrides Catalyst's estimate-based
    auto-broadcast (which would happily broadcast a "small-looking"
    multi-GB count table built from a mis-estimated aggregate). The
    persisted df goes to the session pin registry and is released by the
    next ``release_pinned()`` call (structural: any registry-query entry)."""
    cap = LM_BROADCAST_MAX_ROWS if max_rows is None else max_rows
    df = _pin(df.persist())
    return F.broadcast(df) if df.count() <= cap else df.hint("merge")


def q_unigram_logprob(
    spark: SparkSession, sf_dir: str, broadcast_max_rows: int | None = None
) -> DataFrame:
    """Per-document average unigram log-probability — the cheap
    perplexity proxy used for corpus quality filtering (CCNet-style):
    tokens scored against the corpus's own unigram distribution, low
    average log-prob = rare-token-heavy / low-quality text.

    Shape (r5): score per OCCURRENCE — the old per-(doc_id, term) tf
    pre-aggregation was a second full-width shuffle for no gain
    (tf·round(ln p) == Σ_occurrences round(ln p) exactly). One map-side-
    combined term shuffle builds the vocab counts; the occurrence→vocab
    join is size-guarded (``_bounded_broadcast``); then ONE doc_id shuffle
    of map-side-combined partials. Per-token ln is rounded to 6dp then
    decimal-summed so the per-doc aggregate is summation-order-independent
    cross-engine (same recipe as tfidf_topk's idf)."""
    _release_lm_pinned()
    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    # Tokenize ONCE: the regex split is the dominant CPU of this query and
    # `toks` is consumed twice (vocab build + scored join) — un-persisted it
    # ran twice (r14 stage profile). The compact token-ARRAY form is
    # persisted (not the exploded table — same information, fewer rows);
    # _bounded_broadcast's eager count fills it sequentially before the
    # broadcast-build jobs can race, and the scored pass just re-explodes
    # cached arrays.
    docs_t = _pin(
        docs.select(
            "doc_id", F.transform(tokens(F.col("text")), lambda x: F.lower(x)).alias("t")
        ).persist()
    )
    toks = docs_t.select("doc_id", F.explode("t").alias("term"))
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    # r14: fold the ln/round into the vocab-sized table BEFORE the
    # broadcast, so the per-OCCURRENCE pass is one hash probe picking a
    # ready decimal — the log/round/division ran per occurrence (~|corpus
    # tokens| times) when only |vocab| distinct values exist (guide §1.2).
    # tf·round(ln p) == Σ_occurrences round(ln p) still holds untouched.
    # The normalizer is a global window over the VOCAB relation (the
    # domain_mixture pattern) — no scalar crossJoin, no second pass; the
    # single-partition window is over catalog-sized rows only.
    total = F.sum("cnt").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    scores = vocab.select(
        "term",
        F.round(F.log(F.col("cnt") / total), 6)
        .cast("decimal(18,6)")
        .alias("logp_dec"),
    )
    scored = toks.join(_bounded_broadcast(scores, broadcast_max_rows), "term")
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (F.sum("logp_dec").cast("double") / F.count(F.lit(1))).alias("avg_logp"),
    )


SQL_UNIGRAM_LOGPROB = r"""
WITH toks AS (
    SELECT doc_id, lower(unnest(string_split_regex(trim(text), '\s+'))) AS term
    FROM documents WHERE trim(text) <> ''
), tf AS (
    SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2
), vocab AS (
    SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1
), total AS (
    SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab
), scored AS (
    SELECT tf.doc_id, tf.tf,
           tf.tf * CAST(round(ln(vocab.cnt / CAST(total.total AS DOUBLE)), 6)
                        AS DECIMAL(18,6)) AS logp_dec
    FROM tf JOIN vocab USING (term) CROSS JOIN total
)
SELECT doc_id,
       CAST(sum(tf) AS BIGINT) AS n_tokens,
       CAST(sum(logp_dec) AS DOUBLE) / sum(tf) AS avg_logp
FROM scored GROUP BY doc_id
"""


def q_bigram_logprob(
    spark: SparkSession, sf_dir: str, broadcast_max_rows: int | None = None
) -> DataFrame:
    """Per-document average BIGRAM log-probability — the conditional-LM
    upgrade of unigram_logprob (CCNet-style quality scoring uses n-gram
    LMs; a bigram model is the largest that stays one shuffle + broadcast
    in-engine). Add-1 smoothing over the corpus vocabulary:
    p(cur|prev) = (c(prev,cur)+1) / (c(prev)+V). Same cross-engine float
    recipe as unigram_logprob: each ln rounded to 6dp, carried as
    DECIMAL, summed order-independently. Bigram extraction is a
    scan-local zip of two array slices (no window/lag shuffle). Both
    count-table joins are size-guarded (``_bounded_broadcast``) — bigram
    cardinality grows ~vocab², so the broadcast path is never assumed."""
    _release_lm_pinned()
    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    # Tokenize ONCE into a persisted token-array table: vocab_size used to
    # re-tokenize the whole corpus in its own branch (~16 s CPU at sf0.1,
    # r14 stage profile — as much as the gram pass itself). Both the
    # bigram extraction and the distinct-term count now derive from the
    # cached arrays.
    docs_t = _pin(
        docs.select(
            "doc_id", F.transform(tokens(F.col("text")), lambda t: F.lower(t)).alias("t")
        ).persist()
    )
    toks = docs_t.filter(F.size("t") >= 2)
    n = F.size("t")
    grams = toks.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("t", 1, n - 1).alias("prev"), F.slice("t", 2, n - 1).alias("cur")
            )
        ).alias("g"),
    ).select("doc_id", "g.prev", "g.cur")
    grams = _pin(grams.persist())
    bigram_counts = _pin(
        grams.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c_bg")).persist()
    )
    # context counts = occurrences of `prev` AS a bigram context (n-1 per doc)
    ctx_counts = bigram_counts.groupBy("prev").agg(F.sum("c_bg").alias("c_ctx"))
    vocab_size = (
        docs_t.select(F.explode("t").alias("term")).distinct().agg(F.count(F.lit(1)).alias("v"))
    )
    # score per OCCURRENCE with broadcast count tables, then ONE doc_id
    # shuffle of map-side-combined partials — the per-(doc,bigram) tf
    # pre-aggregation was a second full-width shuffle for no gain
    # (tf·round(ln p) == Σ_occurrences round(ln p) exactly).
    # r14: the smoothing/log/round is folded into a bigram-cardinality
    # score table BEFORE the broadcast — the occurrence pass had been
    # paying TWO hash probes plus ln/round per gram occurrence when the
    # value only depends on the (prev, cur) key (guide §1.2; stage CPU
    # 9.1 s → 4.1 s at sf0.1). Both score-table joins keep the row-cap
    # guard (the context join inherits it too).
    scores = (
        bigram_counts.join(_bounded_broadcast(ctx_counts, broadcast_max_rows), "prev")
        .crossJoin(F.broadcast(vocab_size))
        .select(
            "prev",
            "cur",
            F.round(
                F.log((F.col("c_bg") + 1) / (F.col("c_ctx") + F.col("v"))), 6
            ).cast("decimal(18,6)").alias("logp_dec"),
        )
    )
    scored = grams.join(_bounded_broadcast(scores, broadcast_max_rows), ["prev", "cur"])
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (F.sum("logp_dec").cast("double") / F.count(F.lit(1))).alias("avg_logp"),
    )


SQL_BIGRAM_LOGPROB = r"""
WITH t AS (
    SELECT doc_id,
           list_transform(string_split_regex(trim(text), '\s+'), x -> lower(x)) AS t
    FROM documents WHERE trim(text) <> ''
), grams AS (
    SELECT doc_id, t[i] AS prev, t[i + 1] AS cur
    FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - 1)) AS i FROM t WHERE len(t) >= 2)
), bg AS (
    SELECT doc_id, prev, cur, count(*) AS tf FROM grams GROUP BY 1, 2, 3
), bigram_counts AS (
    SELECT prev, cur, CAST(sum(tf) AS BIGINT) AS c_bg FROM bg GROUP BY 1, 2
), ctx_counts AS (
    SELECT prev, CAST(sum(c_bg) AS BIGINT) AS c_ctx FROM bigram_counts GROUP BY 1
), vocab AS (
    SELECT count(DISTINCT lower(tok)) AS v FROM (
        SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
        FROM documents WHERE trim(text) <> ''
    )
), scored AS (
    SELECT bg.doc_id, bg.tf,
           bg.tf * CAST(round(ln((bc.c_bg + 1) / CAST(cc.c_ctx + vocab.v AS DOUBLE)), 6)
                        AS DECIMAL(18,6)) AS logp_dec
    FROM bg JOIN bigram_counts bc USING (prev, cur)
    JOIN ctx_counts cc USING (prev)
    CROSS JOIN vocab
)
SELECT doc_id,
       CAST(sum(tf) AS BIGINT) AS n_bigrams,
       CAST(sum(logp_dec) AS DOUBLE) / sum(tf) AS avg_logp
FROM scored GROUP BY doc_id
"""


def q_feature_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time feature snapshot for purchase events — the
    feature-store join discipline: every feature is computed strictly from
    data at-or-before the label event's timestamp (no leakage). Two
    feature families composed in one pass: a cumulative behavioral feature
    (prior event count/value via a 1-preceding window over the SAME
    user-partitioned shuffle the label filter reuses) and an as-of
    dimensional feature (most recent order-day total, operators/asof.py —
    union + window, never a range-join blowup)."""
    from ecommerce_analytics_platform_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    feats = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.count(F.lit(1)).over(w).alias("prior_events"),
        F.coalesce(
            F.sum(F.col("value").cast("decimal(18,4)")).over(w), F.lit(0).cast("decimal(18,4)")
        )
        .cast("double")
        .alias("prior_value"),
    ).filter(F.col("event_type") == "purchase")
    orders = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("timestamp").alias("order_ts"),
        )
        .agg(_dec_sum("o_totalprice", 2).alias("day_total"))
    )
    out = asof_join(
        feats.select("event_id", "user_id", "ts", "prior_events", "prior_value"),
        orders,
        key="user_id",
        left_ts="ts",
        right_ts="order_ts",
        right_payload=["day_total"],
    )
    return out.select(
        "event_id", "user_id", "ts", "prior_events", "prior_value",
        F.col("day_total").alias("asof_day_total"),
    )


SQL_FEATURE_SNAPSHOT = f"""
WITH feats AS (
    SELECT event_id, user_id, ts, event_type,
           count(*) OVER w AS prior_events,
           CAST(coalesce(sum(CAST(value AS DECIMAL(18,4))) OVER w,
                         CAST(0 AS DECIMAL(18,4))) AS DOUBLE) AS prior_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
), purchases AS (
    SELECT event_id, user_id, ts, prior_events, prior_value
    FROM feats WHERE event_type = 'purchase'
), day_orders AS (
    SELECT o_custkey AS user_id,
           CAST(o_orderdate AS TIMESTAMP) AS order_ts,
           {_dec_sum_sql('o_totalprice', 2)} AS day_total
    FROM orders GROUP BY 1, 2
)
SELECT p.event_id, p.user_id, p.ts, p.prior_events, p.prior_value,
       o.day_total AS asof_day_total
FROM purchases p
ASOF LEFT JOIN day_orders o
  ON p.user_id = o.user_id AND p.ts >= o.order_ts
"""


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution: each purchase credits the user's
    most recent preceding non-purchase event's type (the marketing-channel
    stand-in); purchases with no prior touch go to 'direct'. As-of
    (union + window, one user-keyed shuffle) → channel rollup. Touches are
    deduped to one per (user, instant) so as-of ties are deterministic."""
    from ecommerce_analytics_platform_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    wt = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    touches = (
        ev.filter(F.col("event_type") != "purchase")
        .withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("ts").alias("touch_ts"), F.col("event_type").alias("channel"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    att = asof_join(
        purchases, touches, key="user_id", left_ts="ts", right_ts="touch_ts",
        right_payload=["channel"],
    )
    return (
        att.groupBy(F.coalesce(F.col("channel"), F.lit("direct")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            _dec_sum("value", 2).alias("attributed_value"),
        )
    )


SQL_ATTRIBUTION = f"""
WITH t AS (
    SELECT user_id, ts, event_type,
           row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
    FROM events WHERE event_type <> 'purchase'
), tu AS (
    SELECT user_id, ts AS touch_ts, event_type AS channel FROM t WHERE rn = 1
), p AS (
    SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
)
SELECT coalesce(tu.channel, 'direct') AS channel,
       count(*) AS n_purchases,
       {_dec_sum_sql('p.value', 2)} AS attributed_value
FROM p ASOF LEFT JOIN tu
  ON p.user_id = tu.user_id AND p.ts >= tu.touch_ts
GROUP BY 1
"""


def q_neardup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same cluster contract as neardup_clusters, computed by large-star/
    small-star contraction (operators/dedup.py::connected_components_star,
    Kiveris SoCC'14) instead of min-label propagation — O(log²n) rounds on
    any graph shape, so the same oracle doubles as a cross-algorithm
    equivalence check."""
    from ecommerce_analytics_platform_spark.operators.dedup import (
        connected_components_star,
    )

    pairs = _lsh_pairs_df(spark, sf_dir)
    return connected_components_star(pairs, "id_a", "id_b").select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


def q_cluster_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup POLICY on top of near-dup clustering: per cluster keep the
    highest-quality member (longest document, doc_id tiebreak) rather than
    the arbitrary min-id — what a real corpus dedup ships. One window over
    the cluster assignment (already shuffled on component) picks keeper and
    member count in the same pass."""
    from ecommerce_analytics_platform_spark.operators.dedup import connected_components

    docs = _t(spark, sf_dir, "documents")
    pairs = _lsh_pairs_df(spark, sf_dir)
    members = (
        connected_components(pairs, "id_a", "id_b")
        .join(docs.select(F.col("doc_id").alias("node"), "n_chars"), "node")
    )
    w = Window.partitionBy("component").orderBy(F.desc("n_chars"), F.asc("node"))
    wc = Window.partitionBy("component")
    return (
        members.withColumn("rn", F.row_number().over(w))
        .withColumn("n_docs", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") == 1)
        .select(
            F.col("component").alias("cluster_id"),
            F.col("node").alias("keeper_doc_id"),
            "n_docs",
            F.col("n_chars").alias("kept_n_chars"),
        )
    )


def _cluster_keepers_sql(num_hashes: int = 16, bands: int = 4) -> str:
    base = _neardup_clusters_sql(num_hashes, bands).strip()
    # reuse the recursive-CTE cluster twin as a subquery, add the keeper pick
    return f"""
WITH clusters AS (
{base}
)
SELECT cluster_id, keeper_doc_id, n_docs, kept_n_chars
FROM (
    SELECT c.cluster_id,
           c.doc_id AS keeper_doc_id,
           count(*) OVER (PARTITION BY c.cluster_id) AS n_docs,
           d.n_chars AS kept_n_chars,
           row_number() OVER (PARTITION BY c.cluster_id
                              ORDER BY d.n_chars DESC, c.doc_id ASC) AS rn
    FROM clusters c JOIN documents d USING (doc_id)
) t
WHERE rn = 1
"""


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event type between the two halves of
    the month — the standard drift monitor for feature/data-quality gates
    (PSI > 0.2 = investigate). Fixed-width bins on value, exact integer
    counts, Laplace-smoothed exact-double fractions, per-bin
    (p1-p2)·ln(p1/p2) rounded then decimal-summed — the same cross-engine
    float recipe as unigram_logprob. One scan, one (event_type, bin)
    aggregate, one event_type rollup."""
    ev = _t(spark, sf_dir, "events")
    cut = F.lit("2024-01-15").cast("timestamp")
    bin_ = F.least(F.floor(F.col("value") / 50.0), F.lit(9)).cast("int")
    per_bin = (
        ev.select(
            "event_type",
            bin_.alias("bin"),
            F.when(F.col("ts") < cut, 1).otherwise(0).alias("w1"),
        )
        .groupBy("event_type", "bin")
        .agg(
            F.sum("w1").alias("n1"),
            F.sum(F.lit(1) - F.col("w1")).alias("n2"),
        )
    )
    tot = per_bin.groupBy("event_type").agg(
        F.sum("n1").alias("t1"), F.sum("n2").alias("t2"), F.count(F.lit(1)).alias("nb")
    )
    j = per_bin.join(tot, "event_type")
    # Laplace smoothing keeps empty bins finite and is exact: (n+1)/(t+nb)
    p1 = (F.col("n1") + F.lit(1)) / (F.col("t1") + F.col("nb"))
    p2 = (F.col("n2") + F.lit(1)) / (F.col("t2") + F.col("nb"))
    term = F.round((p1 - p2) * F.log(p1 / p2), 6).cast("decimal(18,6)")
    return (
        j.select("event_type", term.alias("term"))
        .groupBy("event_type")
        .agg(F.sum("term").cast("double").alias("psi"))
    )


SQL_PSI_DRIFT = """
WITH b AS (
    SELECT event_type,
           CAST(CASE WHEN floor(value / 50.0) > 9 THEN 9
                     ELSE floor(value / 50.0) END AS INTEGER) AS bin,
           CASE WHEN ts < TIMESTAMP '2024-01-15' THEN 1 ELSE 0 END AS w1
    FROM events
), per_bin AS (
    SELECT event_type, bin,
           CAST(sum(w1) AS BIGINT) AS n1,
           CAST(sum(1 - w1) AS BIGINT) AS n2
    FROM b GROUP BY 1, 2
), tot AS (
    SELECT event_type, CAST(sum(n1) AS BIGINT) AS t1, CAST(sum(n2) AS BIGINT) AS t2,
           count(*) AS nb
    FROM per_bin GROUP BY 1
)
SELECT p.event_type,
       CAST(sum(CAST(round(((p.n1 + 1) / CAST(t.t1 + t.nb AS DOUBLE)
                            - (p.n2 + 1) / CAST(t.t2 + t.nb AS DOUBLE))
                           * ln(((p.n1 + 1) / CAST(t.t1 + t.nb AS DOUBLE))
                                / ((p.n2 + 1) / CAST(t.t2 + t.nb AS DOUBLE))), 6)
                AS DECIMAL(18,6))) AS DOUBLE) AS psi
FROM per_bin p JOIN tot t USING (event_type)
GROUP BY 1
"""


def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup ingestion: the incoming delta (doc_id % 10 ==
    7) LSH-banded against the existing corpus's band-bucket table — the
    MinHash companion to incremental_dedup's exact fingerprints. The
    corpus is never re-shingled per batch at scale (its buckets persist as
    a bucketed table); here both sides derive from the same documents
    table for the oracle — so band ONCE, persist the small bucket table,
    and filter it into the two sides (r14: banding(all).filter(pred) ==
    banding(filter(pred)) since MinHash is per-row; one shingle+MinHash
    pipeline instead of two, 1.9 -> 1.1 s at sf0.1)."""
    from ecommerce_analytics_platform_spark.operators.dedup import (
        lsh_band_buckets,
        neardup_join_buckets,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    buckets = _pin(
        lsh_band_buckets(docs, "doc_id", "text", 16, 4, persist_sig=False).persist()
    )
    # blocking fill: the two filtered sides launch as CONCURRENT stages
    # of one join and would otherwise race the lazy cache fill, each
    # recomputing the shingle+MinHash pipeline (measured 5.1 s spikes;
    # with the fill 1.1-1.3 s stable)
    buckets.count()
    incoming = buckets.filter(F.col("__id") % 10 == 7)
    corpus = buckets.filter(F.col("__id") % 10 != 7)
    return neardup_join_buckets(incoming, corpus, "doc_id")


def _incremental_neardup_sql(num_hashes: int = 16, bands: int = 4) -> str:
    return f"""
WITH shingled AS (
    SELECT doc_id, ({_SHINGLES_SQL}) AS sh FROM documents
), based AS (
    SELECT doc_id, {_BASES_SQL} AS bases FROM shingled WHERE len(sh) > 0
), sigs AS (
    SELECT doc_id, {_mh_cols_sql(num_hashes)} FROM based
), buckets AS ({_band_rows_sql(num_hashes, bands)}),
bin AS (
    SELECT * FROM buckets WHERE doc_id % 10 = 7
), bcorp AS (
    SELECT * FROM buckets WHERE doc_id % 10 <> 7
), cand AS (
    SELECT DISTINCT i.doc_id AS doc_id, c.doc_id AS corpus_doc
    FROM bin i JOIN bcorp c ON i.band = c.band AND i.bucket = c.bucket
), alln AS (
    SELECT DISTINCT doc_id FROM bin
)
SELECT a.doc_id,
       CAST(count(cand.corpus_doc) AS BIGINT) AS n_candidates,
       min(cand.corpus_doc) AS matched_doc_id
FROM alln a LEFT JOIN cand USING (doc_id)
GROUP BY a.doc_id
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup contract (operators/similarity.py::
    semantic_dedup — k-means clusters, greedy within-cluster cosine
    pruning at τ=0.9). Float k-means boundaries are engine-specific, so
    the checkable relation materializes the operator's INVARIANTS (ANN
    pattern): n_docs is exact (DuckDB count), row_cover_ok pins that every
    doc gets exactly one verdict, sound_ok that every dropped doc's
    recomputed cosine to its keeper clears τ, keeper_ok that every
    ``dup_of`` points at a kept row of the same cluster. Any algorithmic
    regression flips a flag and fails the driver gate; planted-duplicate
    recall is pytest-asserted."""
    from ecommerce_analytics_platform_spark.operators.similarity import (
        _dot,
        _l2norm,
        semantic_dedup,
    )

    tau = 0.9
    emb = _t(spark, sf_dir, "embeddings")
    res = semantic_dedup(emb, "vec_id", "embedding", tau=tau, n_lists=8)
    v = emb.select("vec_id", "embedding")
    dropped = (
        res.filter(~F.col("kept"))
        .join(
            v.select(F.col("vec_id").alias("id"), F.col("embedding").alias("va")), "id"
        )
        .join(
            v.select(F.col("vec_id").alias("dup_of"), F.col("embedding").alias("vb")),
            "dup_of",
        )
        .join(
            res.filter(F.col("kept")).select(
                F.col("id").alias("dup_of"),
                F.col("list_id"),
                F.lit(1).alias("__keeper"),
            ),
            ["dup_of", "list_id"],
            "left",
        )
    )
    va = F.transform(F.col("va"), lambda x: x.cast("double"))
    vb = F.transform(F.col("vb"), lambda x: x.cast("double"))
    cos = _dot(va, vb) / (_l2norm(va) * _l2norm(vb))
    checks = dropped.agg(
        F.coalesce(F.bool_and(cos >= F.lit(tau - 1e-6)), F.lit(True)).alias("sound_ok"),
        F.coalesce(F.bool_and(F.col("__keeper").isNotNull()), F.lit(True)).alias(
            "keeper_ok"
        ),
    )
    counts = res.agg(F.count(F.lit(1)).alias("__n_rows"))
    return (
        emb.agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(F.broadcast(counts))
        .crossJoin(F.broadcast(checks))
        .select(
            "n_docs",
            (F.col("__n_rows") == F.col("n_docs")).alias("row_cover_ok"),
            "sound_ok",
            "keeper_ok",
        )
    )


SQL_SEMANTIC_DEDUP = """
SELECT count(*) AS n_docs, true AS row_cover_ok, true AS sound_ok, true AS keeper_ok
FROM embeddings
"""


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order key (sources/layout.py::zorder_key): bit-interleave
    of (user_id, day-of-year) buckets — the multi-column clustering key
    behind write_zordered's data skipping (1-D range layouts prune only
    their lead column; Z-order prunes every interleaved one). Pure int64
    shift/and/or, bit-identical cross-engine."""
    from ecommerce_analytics_platform_spark.sources.layout import zorder_key

    ev = _t(spark, sf_dir, "events")
    b = ev.select(
        "event_id",
        F.col("user_id").bitwiseAND(F.lit(1023)).alias("x"),
        F.dayofyear("ts").cast("long").bitwiseAND(F.lit(1023)).alias("y"),
    )
    return b.select("event_id", "x", "y", zorder_key(["x", "y"], bits=10).alias("z"))


def _sql_zorder_key() -> str:
    from ecommerce_analytics_platform_spark.sources.layout import zorder_key_sql

    return f"""
WITH b AS (
    SELECT event_id, user_id & 1023 AS x,
           CAST(dayofyear(ts) AS BIGINT) & 1023 AS y
    FROM events
)
SELECT event_id, x, y, {zorder_key_sql(['x', 'y'], bits=10)} AS z FROM b
"""


SQL_ZORDER_KEY = _sql_zorder_key()


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Membership / frequency sketches and CDC replay (round 4)
# ---------------------------------------------------------------------------

_BLOOM_M, _BLOOM_K, _BLOOM_SEED = 1 << 14, 4, 101
_BLOOM_PRICE = 480000


def q_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership pushdown: build a filter over the
    high-value-order customer set, probe EVERY customer map-side against
    the broadcast bitmap (operators/membership.py — zero-shuffle probe,
    the semi-join prefilter shape used for decontamination / runtime
    filters at 100 TB). Every hash is the portable md5 family, so the
    DuckDB twin reproduces the filter bit-for-bit — false positives
    included — and the whole relation (hit flag AND ground truth)
    hash-matches. No false negatives by construction."""
    from ecommerce_analytics_platform_spark.operators.membership import (
        bloom_bitmap,
        bloom_build,
        bloom_probe,
    )

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    members = (
        orders.filter(F.col("o_totalprice") > _BLOOM_PRICE)
        .select(F.col("o_custkey").alias("key"))
        .distinct()
    )
    bmp = bloom_bitmap(bloom_build(members, "key", _BLOOM_M, _BLOOM_K, _BLOOM_SEED), _BLOOM_M)
    probed = bloom_probe(
        cust.select("c_custkey"), "c_custkey", bmp, _BLOOM_M, _BLOOM_K, _BLOOM_SEED
    )
    return probed.join(
        members.withColumn("true_member", F.lit(True)),
        probed["c_custkey"] == members["key"],
        "left",
    ).select(
        "c_custkey",
        "bloom_hit",
        F.coalesce("true_member", F.lit(False)).alias("true_member"),
    )


def _bloom_filter_sql() -> str:
    from ecommerce_analytics_platform_spark.operators.membership import bloom_position_sql

    m, k, seed = _BLOOM_M, _BLOOM_K, _BLOOM_SEED
    build_pos = "\n    UNION SELECT ".join(
        f"{bloom_position_sql('key', m, i, seed)} AS pos FROM members" for i in range(k)
    )
    probe_cols = ",\n           ".join(
        f"{bloom_position_sql('c_custkey', m, i, seed)} AS p{i}" for i in range(k)
    )
    hit = " AND ".join(f"(p{i} IN (SELECT pos FROM pos))" for i in range(k))
    return f"""
WITH members AS (
    SELECT DISTINCT o_custkey AS key FROM orders WHERE o_totalprice > {_BLOOM_PRICE}
), pos AS (
    SELECT {build_pos}
), probe AS (
    SELECT c_custkey,
           {probe_cols}
    FROM customer
)
SELECT c_custkey,
       ({hit}) AS bloom_hit,
       (c_custkey IN (SELECT key FROM members)) AS true_member
FROM probe
"""


_CMS_W, _CMS_D, _CMS_SEED = 256, 3, 202


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency estimation over event users — the linear
    sketch for heavy-hitter / hot-key detection before a skewed join.
    The sketch is a ≤ d·w-row counter relation (operators/membership.py)
    built with the portable hash family, so the DuckDB twin reproduces
    every counter and every estimate exactly; ``over_ok`` pins the CMS
    guarantee (estimate never under-counts) as a checkable column."""
    from ecommerce_analytics_platform_spark.operators.membership import (
        cms_build,
        cms_lookup,
    )

    ev = _t(spark, sf_dir, "events")
    sketch = cms_build(ev, "user_id", _CMS_W, _CMS_D, _CMS_SEED)
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    est = cms_lookup(exact, "user_id", sketch, _CMS_W, _CMS_D, _CMS_SEED)
    return est.select(
        "user_id", "exact_n", "cms_est", (F.col("cms_est") >= F.col("exact_n")).alias("over_ok")
    )


def _heavy_hitters_sql() -> str:
    from ecommerce_analytics_platform_spark.operators.membership import cms_cell_sql

    w, d, seed = _CMS_W, _CMS_D, _CMS_SEED
    cells = "\n    UNION ALL ".join(
        f"SELECT {i} AS row_idx, {cms_cell_sql('user_id', w, i, seed)} AS col_idx FROM events"
        for i in range(d)
    )
    probes = "\n    UNION ALL ".join(
        f"SELECT user_id, exact_n, {i} AS row_idx, {cms_cell_sql('user_id', w, i, seed)} AS col_idx FROM exact"
        for i in range(d)
    )
    return f"""
WITH cells AS (
    {cells}
), sketch AS (
    SELECT row_idx, col_idx, count(*) AS cnt FROM cells GROUP BY 1, 2
), exact AS (
    SELECT user_id, count(*) AS exact_n FROM events GROUP BY 1
), probes AS (
    {probes}
)
SELECT p.user_id, p.exact_n, min(s.cnt) AS cms_est,
       (min(s.cnt) >= p.exact_n) AS over_ok
FROM probes p JOIN sketch s USING (row_idx, col_idx)
GROUP BY 1, 2
"""


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log replay (operators/cdc.py): the event stream is read as a
    Debezium-style change feed — signup ⇒ INSERT, error ⇒ DELETE,
    anything else ⇒ UPDATE — keyed on user, ordered by (ts, event_id).
    The Spark side deliberately replays in TWO phases (bootstrap the
    snapshot from the first 15 days, then apply the rest on top); the
    oracle replays the whole log in ONE window. The hash match is
    therefore the associativity proof: apply(apply(∅,L1),L2) ==
    apply(∅, L1∪L2) — the property that makes incremental CDC correct.
    Beyond the reference's upsert-only dbt delete+insert
    (dbt_project.yml:26-30): deletes are honored."""
    from ecommerce_analytics_platform_spark.operators.cdc import apply_changes

    ev = _t(spark, sf_dir, "events")
    log = ev.select(
        "user_id",
        F.when(F.col("event_type") == "signup", F.lit("I"))
        .when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        "ts",
        "event_id",
        "value",
    )
    cut = log.agg(F.date_add(F.min("ts").cast("date"), 15).alias("c")).collect()[0]["c"]
    phase1 = log.filter(F.col("ts").cast("date") < F.lit(cut))
    phase2 = log.filter(F.col("ts").cast("date") >= F.lit(cut))
    snap = apply_changes(None, phase1, ["user_id"], ["ts"], tiebreak="event_id")
    final = apply_changes(snap, phase2, ["user_id"], ["ts"], tiebreak="event_id")
    return final.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("ts").alias("last_ts"),
        F.col("value").alias("last_value"),
    )


SQL_CDC_APPLY = """
WITH log AS (
    SELECT user_id,
           CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D' ELSE 'U' END AS op,
           ts, event_id, value
    FROM events
), latest AS (
    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
    FROM log
)
SELECT user_id, event_id AS last_event_id, ts AS last_ts, value AS last_value
FROM latest WHERE rn = 1 AND op <> 'D'
"""


_DSIR_M, _DSIR_SEED, _DSIR_KEEP = 512, 31, 100


def q_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (operators/corpus.py::dsir_sample):
    resample the full document corpus toward the English-document target
    distribution via hashed-unigram importance weights + deterministic
    Gumbel-top-k. Portable hashes + DECIMAL-carried rounded logs make the
    sampler — noise included — exactly reproducible by the DuckDB twin."""
    from ecommerce_analytics_platform_spark.operators.corpus import dsir_sample

    docs = _t(spark, sf_dir, "documents")
    return dsir_sample(
        docs,
        docs.filter(F.col("lang") == "en"),
        "doc_id",
        "text",
        n_keep=_DSIR_KEEP,
        n_buckets=_DSIR_M,
        seed=_DSIR_SEED,
    )


def _dsir_sample_sql() -> str:
    from ecommerce_analytics_platform_spark.functions.compat import (
        portable_hash60_sql,
        seeded_hash60_sql,
    )

    m, seed, keep = _DSIR_M, _DSIR_SEED, _DSIR_KEEP
    tok_bucket = f"({portable_hash60_sql('term')} % {m})"
    u = f"(({seeded_hash60_sql('doc_id', seed)}) + 1) / 1152921504606846977.0"
    return rf"""
WITH src_toks AS (
    SELECT doc_id, lower(unnest(string_split_regex(trim(text), '\s+'))) AS term
    FROM documents WHERE trim(text) <> ''
), tgt_toks AS (
    SELECT doc_id, lower(unnest(string_split_regex(trim(text), '\s+'))) AS term
    FROM documents WHERE lang = 'en' AND trim(text) <> ''
), s_h AS (
    SELECT {tok_bucket} AS bucket, count(*) AS cnt FROM src_toks GROUP BY 1
), t_h AS (
    SELECT {tok_bucket} AS bucket, count(*) AS cnt FROM tgt_toks GROUP BY 1
), s_tot AS (SELECT sum(cnt) AS s_total FROM s_h),
t_tot AS (SELECT sum(cnt) AS t_total FROM t_h),
buckets AS (
    SELECT b.bucket,
           CAST(round(ln((coalesce(t.cnt, 0) + 1) / (tt.t_total + {m})), 6) AS DECIMAL(18,6))
           - CAST(round(ln((coalesce(s.cnt, 0) + 1) / (st.s_total + {m})), 6) AS DECIMAL(18,6)) AS ratio_dec
    FROM (SELECT unnest(generate_series(0, {m - 1})) AS bucket) b
    LEFT JOIN s_h s USING (bucket) LEFT JOIN t_h t USING (bucket)
    CROSS JOIN s_tot st CROSS JOIN t_tot tt
), tf AS (
    SELECT doc_id, {tok_bucket} AS bucket, count(*) AS tf FROM src_toks GROUP BY 1, 2
), weighted AS (
    SELECT tf.doc_id, sum(tf.tf) AS n_tokens, sum(tf.tf * b.ratio_dec) AS lam_dec
    FROM tf JOIN buckets b USING (bucket) GROUP BY 1
), keyed AS (
    SELECT doc_id, n_tokens,
           CAST(lam_dec AS DOUBLE) AS logratio,
           CAST(lam_dec + CAST(round(-ln(-ln({u})), 6) AS DECIMAL(18,6)) AS DOUBLE) AS sample_key
    FROM weighted
), ranked AS (
    SELECT doc_id, n_tokens, logratio, sample_key,
           row_number() OVER (ORDER BY sample_key DESC, doc_id ASC) AS rank
    FROM keyed
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, logratio, sample_key,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {keep}
"""


def q_sliding_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day from MERGED portable-HLL
    registers — the sliding-window distinct count that exact DISTINCT
    cannot do incrementally: daily register sets (≤2^b rows each) are
    built ONCE, and every day's trailing window is a max-merge of 7
    register sets (a bounded explode+groupBy), never a re-scan of 7 days
    of raw events. Exact trailing uniques ride along (day×events range
    join — the verification cost, not the production path) with the
    ±15% envelope flag. The whole relation hash-matches: registers,
    estimate, exact, and flag."""
    from ecommerce_analytics_platform_spark.operators.membership import (
        hll_build,
        hll_estimate,
    )

    ev = _t(spark, sf_dir, "events").withColumn("day", F.col("ts").cast("date"))
    daily = hll_build(ev, "user_id", ["day"], _HLL_B, _HLL_SEED)
    # replicate each day's registers to the 7 windows ending on day..day+6
    windows = daily.select(
        F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6))).alias("win_day"),
        "bucket",
        "rmax",
    )
    days = ev.select("day").distinct()
    merged = (
        windows.join(days, windows["win_day"] == days["day"])
        .groupBy("win_day", "bucket")
        .agg(F.max("rmax").alias("rmax"))
    )
    est = hll_estimate(merged, ["win_day"], _HLL_B)
    exact = (
        days.join(
            ev.select(F.col("day").alias("ev_day"), "user_id"),
            (F.col("ev_day") <= F.col("day"))
            & (F.col("ev_day") >= F.date_sub(F.col("day"), 6)),
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("n_exact"))
    )
    return (
        est.join(exact, est["win_day"] == exact["day"])
        .select(
            F.col("day"),
            "n_exact",
            "hll_est",
            (
                F.abs((F.col("hll_est") - F.col("n_exact")) / F.col("n_exact")) <= 0.15
            ).alias("err_ok"),
        )
    )


def _sliding_uniques_sql() -> str:
    from ecommerce_analytics_platform_spark.operators.membership import (
        hll_estimate_sql,
        hll_rho_sql,
    )

    bucket, rho = hll_rho_sql("user_id", _HLL_B, _HLL_SEED)
    est = hll_estimate_sql("merged", ["win_day"], _HLL_B).strip()
    return f"""
WITH ev AS (
    SELECT CAST(ts AS DATE) AS day, user_id FROM events
), daily AS (
    SELECT day, {bucket} AS bucket, max({rho}) AS rmax FROM ev GROUP BY 1, 2
), days AS (
    SELECT DISTINCT day FROM ev
), windows AS (
    SELECT CAST(unnest(generate_series(CAST(d.day AS TIMESTAMP),
                       CAST(d.day AS TIMESTAMP) + INTERVAL 6 DAY,
                       INTERVAL 1 DAY)) AS DATE) AS win_day,
           d.bucket, d.rmax
    FROM daily d
), merged AS (
    SELECT w.win_day, w.bucket, max(w.rmax) AS rmax
    FROM windows w JOIN days ON days.day = w.win_day
    GROUP BY 1, 2
), est AS (
{est}
), exact AS (
    SELECT days.day, count(DISTINCT e.user_id) AS n_exact
    FROM days JOIN ev e
      ON e.day <= days.day AND e.day >= days.day - INTERVAL 6 DAY
    GROUP BY 1
)
SELECT x.day, x.n_exact, e.hll_est,
       (abs((e.hll_est - x.n_exact) / x.n_exact) <= 0.15) AS err_ok
FROM est e JOIN exact x ON e.win_day = x.day
"""


# BPE training runs per invocation (the r14 cross-query merge cache was
# removed per the r15 gaming directive): each round's winning pair is
# driver data by construction — the algorithm needs it to build the next
# round's states — but nothing survives across invocations.
_BPE_K = 3


def _bpe_trained_merges(spark: SparkSession, sf_dir: str) -> list[tuple[str, str, int]]:
    from ecommerce_analytics_platform_spark.operators.bpe import bpe_train

    docs = fan_out(_t(spark, sf_dir, "documents").select("text"))
    _merges_df, merges = bpe_train(docs, "text", k_merges=_BPE_K)
    return merges


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge TRAINING (operators/bpe.py — Sennrich 2016):
    learn the top-3 merges from the documents corpus. One corpus-sized
    word-count shuffle, then vocab-local rounds (pair stats + greedy
    fold); the oracle unrolls the identical loop in DuckDB (list_reduce
    fold, same count-desc/lexicographic tie-break), so the learned merge
    table hash-matches cross-engine — the pagerank iterative-twin
    pattern. k=3 keeps the SQL unroll readable; the operator takes any k.
    Training runs per invocation; the learned list (driver data by
    construction — each round's winner drives the next) is returned as a
    literal DataFrame."""
    merges = _bpe_trained_merges(spark, sf_dir)
    return _literal_df(
        spark,
        [(i + 1, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "merge_rank int, left_sym string, right_sym string, pair_cnt bigint",
    )


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLY (operators/bpe.py::bpe_segment): per-document
    token count under the trained merge list — the tokenizer-family
    counterpart to unigram_token_count (both trainers now ship train AND
    apply under the oracle). Scan-local: the k merges are applied in rank
    order as pure column expressions over each word's symbol state — no
    join, no shuffle before the per-doc rollup. The oracle reuses the
    unrolled training chain's final word-state relation (r3 IS the
    word -> segmentation mapping) and joins doc words against it."""
    from ecommerce_analytics_platform_spark.operators.bpe import bpe_segment

    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    merges = _bpe_trained_merges(spark, sf_dir)
    return bpe_segment(docs, merges, "text", "doc_id")


def _bpe_round_sql(n: int) -> str:
    """One unrolled training round: pair stats over r{n-1}, top-1 pick,
    greedy fold producing r{n}."""
    sep = "chr(31)"
    last = f"string_split(acc, {sep})[-1]"
    return f"""
p{n} AS (
    SELECT s[i] AS l, s[i + 1] AS r, CAST(sum(cnt) AS BIGINT) AS c
    FROM (SELECT string_split(state, {sep}) AS s, cnt,
                 unnest(generate_series(1, len(string_split(state, {sep})) - 1)) AS i
          FROM r{n - 1})
    GROUP BY 1, 2
), b{n} AS (
    SELECT l, r, c FROM p{n} ORDER BY c DESC, l, r LIMIT 1
), r{n} AS (
    SELECT w, cnt,
           list_reduce(string_split(state, {sep}), (acc, x) ->
               CASE WHEN {last} = b{n}.l AND x = b{n}.r
                    THEN substr(acc, 1, length(acc) - length({last})) || b{n}.l || b{n}.r
                    ELSE acc || {sep} || x END) AS state
    FROM r{n - 1} CROSS JOIN b{n}
)"""


SQL_BPE_MERGES = r"""
WITH toks AS (
    SELECT lower(unnest(string_split_regex(trim(text), '\s+'))) AS w
    FROM documents WHERE trim(text) <> ''
), words AS (
    SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1
), r0 AS (
    SELECT w, cnt,
           rtrim(regexp_replace(w, '(.)', '\1' || chr(31), 'g'), chr(31)) AS state
    FROM words
),""" + ",".join(_bpe_round_sql(n) for n in (1, 2, 3)) + r"""
SELECT merge_rank, left_sym, right_sym, pair_cnt FROM (
    SELECT 1 AS merge_rank, l AS left_sym, r AS right_sym, c AS pair_cnt FROM b1
    UNION ALL SELECT 2, l, r, c FROM b2
    UNION ALL SELECT 3, l, r, c FROM b3
)
"""

# apply twin: replay the same unrolled training chain, then join each
# document's words against the final word-state relation (r3 maps every
# distinct corpus word to its segmentation under the learned merges)
SQL_BPE_ENCODE = r"""
WITH toks AS (
    SELECT lower(unnest(string_split_regex(trim(text), '\s+'))) AS w
    FROM documents WHERE trim(text) <> ''
), words AS (
    SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1
), r0 AS (
    SELECT w, cnt,
           rtrim(regexp_replace(w, '(.)', '\1' || chr(31), 'g'), chr(31)) AS state
    FROM words
),""" + ",".join(_bpe_round_sql(n) for n in (1, 2, 3)) + r""",
dtoks AS (
    SELECT doc_id, lower(unnest(string_split_regex(trim(text), '\s+'))) AS w
    FROM documents WHERE trim(text) <> ''
)
SELECT d.doc_id,
       CAST(sum(len(string_split(r3.state, chr(31)))) AS BIGINT) AS bpe_tokens,
       CAST(count(*) AS BIGINT) AS words
FROM dtoks d JOIN r3 USING (w)
GROUP BY 1
"""


# --- unigram-LM tokenizer (operators/unigram.py — Kudo 2018 hard-EM) ------
_UNI_SCALE, _UNI_MAXW, _UNI_MAXP = 10000, 12, 4
_UNI_SEED_MULTI, _UNI_VOCAB_MULTI, _UNI_ROUNDS = 200, 64, 2


# Unigram training runs per invocation (the r14 cross-query vocab cache
# was removed per the r15 gaming directive): the EM loop collects each
# round's pruned vocab to drive the next round's Viterbi — driver data
# the algorithm inherently needs — but nothing survives across
# invocations.


def _unigram_trained_rows(spark: SparkSession, sf_dir: str) -> list[tuple]:
    from ecommerce_analytics_platform_spark.operators.unigram import unigram_train

    docs = fan_out(_t(spark, sf_dir, "documents").select("text"))
    vocab = unigram_train(
        docs,
        "text",
        max_word_len=_UNI_MAXW,
        max_piece_len=_UNI_MAXP,
        seed_multi=_UNI_SEED_MULTI,
        vocab_multi=_UNI_VOCAB_MULTI,
        rounds=_UNI_ROUNDS,
        scale=_UNI_SCALE,
    )
    return [
        (r["piece"], r["score"], r["used"])
        for r in vocab.select("piece", "score", "used").collect()
    ]


def q_unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer TRAINING (operators/unigram.py — Kudo 2018
    hard-EM): seed every ≤4-char substring, then 2 rounds of (scan-local
    Viterbi segmentation, piece-count M-step, prune to 64 multi-char
    pieces + all single chars). Scores are integer micro-nats (one ln,
    immediately quantized at 1e4 — the BPE bit-exactness recipe), Viterbi
    ties break max-score-then-shortest-piece in both engines, so the
    trained (piece, score, used) table hash-matches the oracle's unrolled
    EM chain exactly. All DP compute runs on the DISTINCT-WORD relation;
    the corpus is touched once. The trained rows come back as a literal
    DataFrame (the vocab is ~264 rows of driver data the EM loop already
    collected to drive its final round). Training runs per invocation."""
    rows = _unigram_trained_rows(spark, sf_dir)
    return _literal_df(spark, rows, "piece string, score bigint, used bigint")


def q_unigram_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the trained unigram vocab: per doc, total
    Viterbi pieces and characters over in-bounds words. The DP runs once
    per distinct word and docs join the result — vocab-bound compute,
    corpus-bound join (operators/unigram.py::unigram_token_count). The
    vocab is trained in this invocation (same parameters as
    q_unigram_vocab; the oracle twin replays training AND segmentation
    in one unrolled chain)."""
    from ecommerce_analytics_platform_spark.operators.unigram import (
        unigram_token_count,
    )

    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    vrows = [(p, s) for p, s, _u in _unigram_trained_rows(spark, sf_dir)]
    return unigram_token_count(
        docs,
        "doc_id",
        "text",
        vrows,
        max_word_len=_UNI_MAXW,
        max_piece_len=_UNI_MAXP,
        scale=_UNI_SCALE,
    )


def _uni_vocab_sql(name: str, used_src: str, keep_multi: int) -> str:
    """M-step twin of unigram._prune_and_score: top-``keep_multi``
    multi-char pieces by (used DESC, piece ASC), all single chars with a
    +1 floor, integer micro-nat scores vs the post-prune total.
    MATERIALIZED: the vocab is referenced by 4 DP joins; inlining would
    re-run the whole upstream EM chain per join (measured 19 s → 0.5 s)."""
    return f"""
{name} AS MATERIALIZED (
    SELECT piece,
           CAST(round({_UNI_SCALE} * ln(CAST(used AS DOUBLE) / total)) AS BIGINT) AS score,
           used
    FROM (
        SELECT piece, used, CAST(sum(used) OVER () AS DOUBLE) AS total
        FROM (
            SELECT piece, used FROM (
                SELECT piece, used, row_number() OVER (ORDER BY used DESC, piece) AS rk
                FROM {used_src} WHERE length(piece) >= 2
            ) WHERE rk <= {keep_multi}
            UNION ALL
            SELECT s.piece, coalesce(u.used, 0) + 1 AS used
            FROM singles s LEFT JOIN (
                SELECT piece, used FROM {used_src} WHERE length(piece) = 1
            ) u USING (piece)
        )
    )
)"""


def _uni_seg_sql(n: int, vocab: str, words_src: str = "words") -> str:
    """One Viterbi E-step as a recursive CTE: the state row carries a
    4-slot DP window — b1..b4 = best score at (pos, pos-1, pos-2, pos-3),
    l1..l4 = that position's best piece list — so no backtrace pass is
    needed. Candidates mirror the Spark fold: struct(score, -piece_len),
    max by (score, then SHORTEST piece); unmatched single chars fall back
    to the UNK floor. ``used{n}`` re-counts piece usage over finished
    words (pos = len)."""
    unk = -40 * _UNI_SCALE
    cands = [
        "{'s': s.b1 + coalesce(k1.score, CAST(%d AS BIGINT)), 'nk': -1, "
        "'ps': list_append(s.l1, substr(s.word, s.pos + 1, 1))}" % unk
    ]
    for k in range(2, _UNI_MAXP + 1):
        cands.append(
            f"CASE WHEN s.pos + 1 >= {k} AND k{k}.score IS NOT NULL THEN "
            f"{{'s': s.b{k} + k{k}.score, 'nk': -{k}, "
            f"'ps': list_append(s.l{k}, substr(s.word, s.pos + {2 - k}, {k}))}} END"
        )
    joins = "\n        ".join(
        f"LEFT JOIN {vocab} k{k} ON s.pos + 1 >= {k} "
        f"AND k{k}.piece = substr(s.word, s.pos + {2 - k}, {k})"
        for k in range(1, _UNI_MAXP + 1)
    )
    cand_list = ",\n                ".join(cands)
    return f"""
seg{n} AS (
    SELECT word, cnt, 0 AS pos,
           CAST(0 AS BIGINT) AS b1, CAST(NULL AS BIGINT) AS b2,
           CAST(NULL AS BIGINT) AS b3, CAST(NULL AS BIGINT) AS b4,
           CAST([] AS VARCHAR[]) AS l1, CAST(NULL AS VARCHAR[]) AS l2,
           CAST(NULL AS VARCHAR[]) AS l3, CAST(NULL AS VARCHAR[]) AS l4
    FROM {words_src}
    UNION ALL
    SELECT word, cnt, pos + 1,
           best['s'], b1, b2, b3,
           best['ps'], l1, l2, l3
    FROM (
        SELECT s.word, s.cnt, s.pos, s.b1, s.b2, s.b3, s.l1, s.l2, s.l3,
               list_sort(list_filter([
                {cand_list}
               ], x -> x IS NOT NULL))[-1] AS best
        FROM seg{n} s
        {joins}
        WHERE s.pos < length(s.word)
    )
), used{n} AS (
    SELECT piece, CAST(sum(cnt) AS BIGINT) AS used
    FROM (SELECT unnest(l1) AS piece, cnt FROM seg{n} WHERE pos = length(word))
    GROUP BY 1
)"""


def _uni_train_chain_sql() -> str:
    """words → seed substring counts → v0 → (seg, prune) × 2 → v2: the
    unrolled twin of unigram_train(rounds=2)."""
    return (
        rf"""words AS MATERIALIZED (
    SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT lower(unnest(string_split_regex(trim(text), '\s+'))) AS w
        FROM documents WHERE trim(text) <> ''
    ) WHERE length(w) BETWEEN 1 AND {_UNI_MAXW}
    GROUP BY 1
), subs AS MATERIALIZED (
    SELECT substr(word, i, p) AS piece, CAST(sum(cnt) AS BIGINT) AS used
    FROM (SELECT word, cnt, unnest(generate_series(1, length(word))) AS i FROM words),
         (SELECT unnest(generate_series(1, {_UNI_MAXP})) AS p)
    WHERE i + p - 1 <= length(word)
    GROUP BY 1
), singles AS (
    SELECT piece FROM subs WHERE length(piece) = 1
),"""
        + _uni_vocab_sql("v0", "subs", _UNI_SEED_MULTI)
        + ","
        + _uni_seg_sql(1, "v0")
        + ","
        + _uni_vocab_sql("v1", "used1", _UNI_VOCAB_MULTI)
        + ","
        + _uni_seg_sql(2, "v1")
        + ","
        + _uni_vocab_sql("v2", "used2", _UNI_VOCAB_MULTI)
    )


def _unigram_vocab_sql() -> str:
    return (
        "WITH RECURSIVE "
        + _uni_train_chain_sql()
        + "\nSELECT piece, score, used FROM v2"
    )


def _unigram_token_count_sql() -> str:
    """Training chain + one more Viterbi pass (seg3 under the final v2)
    over the same distinct-word relation, joined back to per-doc words."""
    return (
        "WITH RECURSIVE "
        + _uni_train_chain_sql()
        + ","
        + _uni_seg_sql(3, "v2")
        + rf""", doc_words AS (
    SELECT doc_id, w AS word FROM (
        SELECT doc_id, lower(unnest(string_split_regex(trim(text), '\s+'))) AS w
        FROM documents WHERE trim(text) <> ''
    ) WHERE length(w) BETWEEN 1 AND {_UNI_MAXW}
), word_pieces AS (
    SELECT word, CAST(len(l1) AS BIGINT) AS n_pieces
    FROM seg3 WHERE pos = length(word)
)
SELECT d.doc_id,
       CAST(sum(p.n_pieces) AS BIGINT) AS n_pieces,
       CAST(sum(length(d.word)) AS BIGINT) AS n_chars
FROM doc_words d JOIN word_pieces p USING (word)
GROUP BY 1"""
    )


def q_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-prep FUNNEL as one relation: how many documents survive
    each stage of the standard pretraining pipeline — raw → train split
    (eval slice held out) → exact-dedup canonical → quality gate →
    decontamination. One row per stage with a stable order key; each
    stage's predicate is the SAME logic its standalone oracled query uses
    (exact_dedup keep-first hash, quality_filter's composed gate,
    decontaminate's 4-gram collision), so this is the end-to-end
    composition proof on top of the per-stage proofs."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 13 != 0)
    h = portable_hash60(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    canon = train.withColumn(
        "is_canon",
        F.col("doc_id") == F.min("doc_id").over(Window.partitionBy(h)),
    ).select("doc_id", "is_canon")
    quality = q_quality_filter(spark, sf_dir).select("doc_id", "keep")
    contam = q_decontaminate(spark, sf_dir).select("doc_id").withColumn(
        "is_contam", F.lit(True)
    )
    flags = (
        train.select("doc_id")
        .join(canon, "doc_id")
        .join(quality, "doc_id")
        .join(contam, "doc_id", "left")
        .withColumn("is_contam", F.coalesce("is_contam", F.lit(False)))
    )
    agg = flags.agg(
        F.count(F.lit(1)).alias("n_train"),
        F.sum(F.when(F.col("is_canon"), 1).otherwise(0)).alias("n_unique"),
        F.sum(F.when(F.col("is_canon") & F.col("keep"), 1).otherwise(0)).alias(
            "n_quality"
        ),
        F.sum(
            F.when(F.col("is_canon") & F.col("keep") & ~F.col("is_contam"), 1).otherwise(0)
        ).alias("n_final"),
    ).crossJoin(docs.agg(F.count(F.lit(1)).alias("n_raw")))
    return agg.select(
        F.expr(
            "stack(5, 'raw', 0, n_raw, 'train_split', 1, n_train, "
            "'exact_unique', 2, n_unique, 'quality_pass', 3, n_quality, "
            "'decontaminated', 4, n_final) AS (stage, stage_order, n)"
        )
    )


def _corpus_funnel_sql() -> str:
    stop_list = ", ".join(f"'{w}'" for w in ["the", "and", "of", "to", "is"])
    return rf"""
WITH train AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 0
), canon AS (
    SELECT doc_id,
           doc_id = min(doc_id) OVER (
               PARTITION BY ('0x' || substr(md5(regexp_replace(trim(text), '\s+', ' ', 'g')), 1, 15))::BIGINT
           ) AS is_canon
    FROM train
), tokd AS (
    SELECT doc_id,
           CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                ELSE string_split_regex(trim(text), '\s+') END AS toks,
           ({_SHINGLES_SQL}) AS sh
    FROM documents
), quality AS (
    SELECT doc_id,
           (CASE WHEN len(toks) < 10 THEN 'too_short'
                 WHEN len(toks) > 5000 THEN 'too_long'
                 WHEN round((len(sh) - len(list_distinct(sh))) / greatest(len(sh), 1), 6) > 0.3 THEN 'repetitive'
                 WHEN round(len(list_filter(toks, w -> lower(w) IN ({stop_list})))
                      / greatest(len(toks), 1), 6) < 0.01 THEN 'low_stopword'
                 ELSE 'pass' END) = 'pass' AS keep
    FROM tokd
), w AS (
    SELECT doc_id, {_WORDS_SQL} AS w FROM documents WHERE trim(text) <> ''
), g AS (
    SELECT doc_id, unnest({_grams_sql(4)}) AS gram FROM w
), contam AS (
    SELECT DISTINCT tg.doc_id
    FROM (SELECT doc_id, gram FROM g WHERE doc_id % 13 <> 0) tg
    JOIN (SELECT DISTINCT gram FROM g WHERE doc_id % 13 = 0) eg USING (gram)
), flags AS (
    SELECT t.doc_id, c.is_canon, q.keep, (x.doc_id IS NOT NULL) AS is_contam
    FROM train t
    JOIN canon c USING (doc_id)
    JOIN quality q USING (doc_id)
    LEFT JOIN contam x USING (doc_id)
)
SELECT 'raw' AS stage, 0 AS stage_order, (SELECT count(*) FROM documents) AS n
UNION ALL SELECT 'train_split', 1, count(*) FROM flags
UNION ALL SELECT 'exact_unique', 2, CAST(sum(CASE WHEN is_canon THEN 1 ELSE 0 END) AS BIGINT) FROM flags
UNION ALL SELECT 'quality_pass', 3, CAST(sum(CASE WHEN is_canon AND keep THEN 1 ELSE 0 END) AS BIGINT) FROM flags
UNION ALL SELECT 'decontaminated', 4,
          CAST(sum(CASE WHEN is_canon AND keep AND NOT is_contam THEN 1 ELSE 0 END) AS BIGINT) FROM flags
"""


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid (mean pooling) — the class-prototype
    representation used for nearest-centroid classification and cluster
    seeding. Component sums ride as DECIMAL (exact double→decimal cast,
    order-independent), so the centroid doubles are bit-identical
    cross-engine with no rounding. One scan-local posexplode + one
    (label, dim) shuffle; output exploded (label, dim_idx, centroid, n) —
    hash-stable, no array-format ambiguity."""
    emb = _t(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label", F.posexplode(F.col("embedding")).alias("dim_idx", "x")
    )
    return comp.groupBy("label", "dim_idx").agg(
        (
            F.sum(F.col("x").cast("double").cast("decimal(18,8)")).cast("double")
            / F.count(F.lit(1))
        ).alias("centroid"),
        F.count(F.lit(1)).alias("n"),
    )


SQL_EMBEDDING_CENTROIDS = """
WITH comp AS (
    SELECT label, i - 1 AS dim_idx,
           CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,8)) AS x
    FROM (SELECT label, embedding, unnest(generate_series(1, len(embedding))) AS i
          FROM embeddings)
)
SELECT label, dim_idx,
       CAST(sum(x) AS DOUBLE) / count(*) AS centroid,
       count(*) AS n
FROM comp GROUP BY 1, 2
"""


def q_nearest_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification confusion matrix: every embedding
    is assigned to the closest per-label mean vector (squared L2,
    deterministic (distance, label) tie order) and tallied against its
    true label — the cheapest embedding-space classifier and the standard
    probe of whether labels are linearly separable. Composition: the
    exact centroids of ``embedding_centroids`` re-packed to arrays,
    broadcast (5 × 64 doubles), distances as codegen'd array folds —
    zero extra shuffle beyond the confusion-count groupBy."""
    emb = _t(spark, sf_dir, "embeddings")
    cents = q_embedding_centroids(spark, sf_dir)
    packed = cents.groupBy("label").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("dim_idx", "centroid"))),
            lambda s: s["centroid"],
        ).alias("cvec")
    )
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dist = F.round(
        F.aggregate(
            F.zip_with(v, F.col("cvec"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        ),
        6,
    )
    scored = emb.crossJoin(F.broadcast(packed.withColumnRenamed("label", "cand"))).select(
        "vec_id", F.col("label").alias("true_label"), F.col("cand"), dist.alias("d")
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("d"), F.asc("cand"))
    pred = scored.withColumn("rn", F.row_number().over(w)).filter("rn = 1")
    return pred.groupBy(F.col("true_label"), F.col("cand").alias("pred_label")).agg(
        F.count(F.lit(1)).alias("n")
    )


SQL_NEAREST_CENTROID = """
WITH comp AS (
    SELECT label, i - 1 AS dim_idx,
           CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,8)) AS x
    FROM (SELECT label, embedding, unnest(generate_series(1, len(embedding))) AS i
          FROM embeddings)
), cents AS (
    SELECT label, dim_idx, CAST(sum(x) AS DOUBLE) / count(*) AS centroid
    FROM comp GROUP BY 1, 2
), packed AS (
    SELECT label AS cand, list(centroid ORDER BY dim_idx) AS cvec FROM cents GROUP BY 1
), scored AS (
    SELECT e.vec_id, e.label AS true_label, p.cand,
           round(list_sum(list_transform(generate_series(1, len(e.embedding)),
                 i -> (CAST(e.embedding[i] AS DOUBLE) - p.cvec[i])
                    * (CAST(e.embedding[i] AS DOUBLE) - p.cvec[i]))), 6) AS d
    FROM embeddings e CROSS JOIN packed p
), pred AS (
    SELECT vec_id, true_label, cand,
           row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cand ASC) AS rn
    FROM scored
)
SELECT true_label, cand AS pred_label, count(*) AS n
FROM pred WHERE rn = 1 GROUP BY 1, 2
"""


def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust outlier detection per event type — the
    anomaly-detection twin of part_outlier_revenue's mean-based Q17 shape.
    Mean/stddev break under the very outliers being hunted (one huge
    value inflates σ and hides the rest); median ± 3·1.4826·MAD does not.
    Two grouped exact percentiles (F.percentile ≙ quantile_cont) on one
    key shuffle each + a broadcast joinback; the flag compare runs on
    bit-identical doubles, so the outlier COUNT hash-matches exactly."""
    ev = _t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.percentile(F.col("value"), F.lit(0.5)).alias("med_value")
    )
    dev = ev.join(F.broadcast(med), "event_type")
    mad = dev.groupBy("event_type").agg(
        F.percentile(F.abs(F.col("value") - F.col("med_value")), F.lit(0.5)).alias(
            "mad_value"
        )
    )
    flagged = dev.join(F.broadcast(mad), "event_type").withColumn(
        "is_outlier",
        F.abs(F.col("value") - F.col("med_value"))
        > 3 * 1.4826 * F.col("mad_value"),
    )
    return flagged.groupBy("event_type", "med_value", "mad_value").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("is_outlier"), 1).otherwise(0)).alias("n_outliers"),
    )


SQL_ROBUST_OUTLIERS = """
WITH med AS (
    SELECT event_type, quantile_cont(value, 0.5) AS med_value
    FROM events GROUP BY 1
), mad AS (
    SELECT e.event_type, quantile_cont(abs(e.value - m.med_value), 0.5) AS mad_value
    FROM events e JOIN med m USING (event_type) GROUP BY 1
)
SELECT e.event_type, m.med_value, d.mad_value,
       count(*) AS n,
       CAST(sum(CASE WHEN abs(e.value - m.med_value) > 3 * 1.4826 * d.mad_value
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM events e JOIN med m USING (event_type) JOIN mad d USING (event_type)
GROUP BY 1, 2, 3
"""


_STATS_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]


def q_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style catalog statistics: per-column row count, null
    count, exact NDV, and portable-HLL NDV estimate — the stats a
    cost-based optimizer feeds on, maintained as a relation (the HLL
    registers merge across partitions/days, so stats update incrementally
    at 100 TB instead of re-scanning). The melt (one row per
    column×value) is a scan-local explode shared by both aggregate
    branches — two scans TOTAL (counts + registers), never one per
    profiled column; the only shuffles are the bounded register/NDV
    aggregations. Integer/varchar columns only: the
    portable hash canonicalizes values via CAST AS VARCHAR, which is
    engine-identical for those types (double→string formatting is not)."""
    from ecommerce_analytics_platform_spark.operators.membership import (
        hll_build,
        hll_estimate,
    )

    orders = _t(spark, sf_dir, "orders")
    melted = orders.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(c).cast("string").alias("sval"),
                    )
                    for c in _STATS_COLS
                ]
            )
        ).alias("m")
    ).select("m.column_name", "m.sval")
    base = melted.groupBy("column_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("sval").isNull(), 1).otherwise(0)).alias("n_nulls"),
        F.countDistinct("sval").alias("ndv_exact"),
    )
    regs = hll_build(melted.filter(F.col("sval").isNotNull()), "sval", ["column_name"])
    est = hll_estimate(regs, ["column_name"])
    return base.join(est, "column_name").select(
        "column_name",
        "n_rows",
        "n_nulls",
        "ndv_exact",
        F.col("hll_est").alias("ndv_hll"),
        (
            F.abs((F.col("hll_est") - F.col("ndv_exact")) / F.col("ndv_exact")) <= 0.15
        ).alias("hll_ok"),
    )


def _table_stats_sql() -> str:
    from ecommerce_analytics_platform_spark.operators.membership import (
        hll_estimate_sql,
        hll_rho_sql,
    )

    melt = "\n    UNION ALL ".join(
        f"SELECT '{c}' AS column_name, CAST({c} AS VARCHAR) AS sval FROM orders"
        for c in _STATS_COLS
    )
    bucket, rho = hll_rho_sql("sval", 8, 303)
    est = hll_estimate_sql("regs", ["column_name"], 8).strip()
    return f"""
WITH melted AS (
    {melt}
), base AS (
    SELECT column_name, count(*) AS n_rows,
           CAST(sum(CASE WHEN sval IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           count(DISTINCT sval) AS ndv_exact
    FROM melted GROUP BY 1
), regs AS (
    SELECT column_name, {bucket} AS bucket, max({rho}) AS rmax
    FROM melted WHERE sval IS NOT NULL GROUP BY 1, 2
), est AS (
{est}
)
SELECT b.column_name, b.n_rows, b.n_nulls, b.ndv_exact,
       e.hll_est AS ndv_hll,
       (abs((e.hll_est - b.ndv_exact) / b.ndv_exact) <= 0.15) AS hll_ok
FROM base b JOIN est e USING (column_name)
"""


def q_salted_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-robust two-stage salted aggregation
    (operators/skew.py::salted_agg): per-event-type totals computed as
    (key, salt) partials then re-combined — a hot key spreads over 16
    tasks instead of one straggler (AQE splits skewed JOINS at runtime
    but not aggregations, so salting is the aggregation-side remedy).
    The salt is execution-layout only: algebraic re-aggregation in exact
    DECIMAL means the result is identical to the plain one-stage rollup,
    which is exactly what the un-salted DuckDB oracle checks."""
    from ecommerce_analytics_platform_spark.operators.skew import salted_agg

    ev = _t(spark, sf_dir, "events").withColumn(
        "value_dec", F.col("value").cast("decimal(18,4)")
    )
    out = salted_agg(
        ev,
        ["event_type"],
        {
            "n_events": ("event_id", "count"),
            "total_value": ("value_dec", "sum"),
            "min_ts": ("ts", "min"),
            "max_ts": ("ts", "max"),
        },
    )
    return out.select(
        "event_type",
        "n_events",
        F.col("total_value").cast("double").alias("total_value"),
        "min_ts",
        "max_ts",
    )


SQL_SALTED_ROLLUP = """
SELECT event_type,
       count(event_id) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
       min(ts) AS min_ts,
       max(ts) AS max_ts
FROM events GROUP BY event_type
"""


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 analog (shipping priority): top-10 unshipped-revenue
    orders for one market segment — the classic 3-way
    customer⨝orders⨝lineitem with date filters on both fact sides.
    Plan shape: segment filter pushed to the customer scan, customer side
    broadcast, net revenue in exact DECIMAL; the top-10 runs as
    TakeOrderedAndProject (per-partition top-k + k-row driver merge),
    never a full sort."""
    cutoff = "1998-06-15"
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit(cutoff).cast("timestamp"))
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(cutoff).cast("timestamp")
    )
    return (
        li.join(
            orders.join(F.broadcast(cust), cust["c_custkey"] == orders["o_custkey"]),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_net_revenue().alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


SQL_SHIPPING_PRIORITY = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       {_NET_REVENUE_SQL} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON c_custkey = o_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-15'
  AND l_shipdate > TIMESTAMP '1998-06-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q_multi_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch LINEAR attribution (the companion to the last-touch
    ``attribution`` query): every view/click in the 7 days before a
    purchase shares the revenue equally. The touch×purchase pairing is the
    bucketed range join (operators/rangejoin.py — (user, day-bucket)
    equi-join, never a nested-loop range scan); credits divide exactly
    (double/long, identical cross-engine) and aggregate in DECIMAL.
    Purchases with no prior touches credit a 'direct' channel."""
    from ecommerce_analytics_platform_spark.operators.rangejoin import range_join_buckets

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
        (F.col("ts") - F.expr("INTERVAL 7 DAY")).alias("lo"),
    )
    touches = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id",
        F.col("event_type").alias("channel"),
        F.col("ts").alias("t_ts"),
    )
    m = range_join_buckets(touches, purchases, "user_id", "t_ts", "lo", "p_ts")
    n = F.count(F.lit(1)).over(Window.partitionBy("p_id"))
    credits = m.select("p_id", "p_value", "channel", n.alias("n"))
    att = credits.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_credits"),
        F.sum((F.col("p_value") / F.col("n")).cast("decimal(18,6)")).alias("cr"),
    )
    direct = (
        purchases.join(credits.select("p_id").distinct(), "p_id", "left_anti")
        .agg(
            F.count(F.lit(1)).alias("n_credits"),
            F.sum(F.col("p_value").cast("decimal(18,6)")).alias("cr"),
        )
        .select(F.lit("direct").alias("channel"), "n_credits", "cr")
    )
    return att.unionByName(direct).select(
        "channel", "n_credits", F.col("cr").cast("double").alias("credited_revenue")
    )


SQL_MULTI_TOUCH = """
WITH p AS (
    SELECT event_id AS p_id, user_id, ts AS p_ts, value AS p_value,
           ts - INTERVAL 7 DAY AS lo
    FROM events WHERE event_type = 'purchase'
), t AS (
    SELECT user_id, event_type AS channel, ts AS t_ts
    FROM events WHERE event_type IN ('view', 'click')
), m AS (
    SELECT p.p_id, p.p_value, t.channel
    FROM p JOIN t ON t.user_id = p.user_id AND t.t_ts >= p.lo AND t.t_ts <= p.p_ts
), c AS (
    SELECT p_id, p_value, channel, count(*) OVER (PARTITION BY p_id) AS n FROM m
), att AS (
    SELECT channel, count(*) AS n_credits,
           sum(CAST(p_value / n AS DECIMAL(18,6))) AS cr
    FROM c GROUP BY 1
), direct AS (
    SELECT 'direct' AS channel, count(*) AS n_credits,
           sum(CAST(p_value AS DECIMAL(18,6))) AS cr
    FROM p WHERE p_id NOT IN (SELECT p_id FROM m)
)
SELECT channel, n_credits, CAST(cr AS DOUBLE) AS credited_revenue FROM att
UNION ALL
SELECT channel, n_credits, CAST(cr AS DOUBLE) AS credited_revenue FROM direct
"""


def q_ewma_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of event value per user over
    the trailing 10 events — the classic decayed behavioral feature. α=1/2
    makes every weight a dyadic rational, so the whole computation is
    EXACT: value→DECIMAL cast, ×2^k (exact powers), DECIMAL sum
    (order-independent), and a final double division by the integer
    2^n − 1 (= Σ 2^k). No rounding anywhere — the doubles are
    bit-identical cross-engine by construction. One user shuffle shared
    by the window; the 10× posexplode is scan-local."""
    ev = _t(spark, sf_dir, "events")
    # Explicit repartition on the window key: AQE coalesced the 2 MB
    # window exchange to 2 tasks, serializing the CPU-dense
    # collect_list-window + 10x posexplode (r14 profile). The explicit
    # exchange IS the window's required partitioning (no extra shuffle)
    # and is exempt from byte-based coalescing.
    ev = ev.repartition(spark.sparkContext.defaultParallelism, "user_id")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.asc("ts"), F.asc("event_id"))
        .rowsBetween(-9, 0)
    )
    vals = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.collect_list(F.col("value")).over(w).alias("vals"),
    )
    exploded = vals.select(
        "event_id",
        "user_id",
        "ts",
        F.size("vals").alias("n"),
        F.posexplode("vals").alias("pos", "x"),
    )
    # weight for the k-th oldest of n values (0-based pos) is 2^pos; the
    # normalizer Σ_{k<n} 2^k telescopes to the integer 2^n − 1
    term = F.col("x").cast("decimal(18,6)") * F.pow(F.lit(2.0), F.col("pos")).cast(
        "decimal(18,0)"
    )
    return (
        exploded.groupBy("event_id", "user_id", "ts", "n")
        .agg(F.sum(term).alias("num"))
        .select(
            "event_id",
            "user_id",
            "ts",
            (
                F.col("num").cast("double")
                / (F.expr("shiftleft(CAST(1 AS BIGINT), n)") - F.lit(1)).cast("double")
            ).alias("ewma"),
        )
    )


SQL_EWMA_FEATURES = """
WITH vals AS (
    SELECT event_id, user_id, ts,
           list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS vals
    FROM events
), exploded AS (
    SELECT event_id, user_id, ts, len(vals) AS n,
           CAST(vals[i] AS DECIMAL(18,6)) AS x, i - 1 AS pos
    FROM (SELECT *, unnest(generate_series(1, len(vals))) AS i FROM vals)
)
SELECT event_id, user_id, ts,
       CAST(sum(x * CAST(pow(2.0, pos) AS DECIMAL(18,0))) AS DOUBLE)
         / CAST((CAST(1 AS BIGINT) << n) - 1 AS DOUBLE) AS ewma
FROM exploded GROUP BY event_id, user_id, ts, n
"""


def q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation on the part co-purchase graph
    (operators/corpus.py::label_propagation): parts with p_size <= 10 are
    brand-labeled seeds; two synchronous rounds spread labels over the
    co-order edges (same sampled edge set as pagerank/triangle_count),
    majority vote with (count DESC, label ASC) ties — fully deterministic,
    so the 2-round run is verified by an unrolled DuckDB twin."""
    from ecommerce_analytics_platform_spark.operators.corpus import label_propagation

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 10 == 0)
        .select("l_orderkey", "l_partkey")
    )
    a, b = li.alias("a"), li.alias("b")
    # no .distinct() here: label_propagation symmetrizes and distincts
    # the edge set itself, so the inner distinct was a redundant
    # exchange+aggregate pair (r14, guide §2.4)
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
    )
    seeds = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 10)
        .select(F.col("p_partkey").alias("node"), F.col("p_brand").alias("label"))
    )
    # eager=True: see q_pagerank — the lazy fused-plan variant measured
    # a wash at best (2.06-2.31 vs 2.03 s) under bench conditions, with
    # the same codegen-compile risk
    return label_propagation(edges, seeds, iterations=2)


def _label_prop_round_sql(prev: str, idx: int) -> str:
    return f"""v{idx} AS (
    SELECT e.dst AS node, l.label, count(*) AS c
    FROM e JOIN {prev} l ON l.node = e.src
    GROUP BY 1, 2
), w{idx} AS (
    SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node ORDER BY c DESC, label ASC) AS rn
        FROM v{idx}
    ) WHERE rn = 1
), l{idx} AS (
    SELECT * FROM seeds
    UNION ALL
    SELECT * FROM w{idx} WHERE node NOT IN (SELECT node FROM seeds)
)"""


SQL_LABEL_PROP = f"""
WITH e0 AS (
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    WHERE a.l_orderkey % 10 = 0 AND b.l_orderkey % 10 = 0
), e AS (
    SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0
), seeds AS (
    SELECT p_partkey AS node, p_brand AS label FROM part WHERE p_size <= 10
), {_label_prop_round_sql('seeds', 1)}, {_label_prop_round_sql('l1', 2)}
SELECT node, label FROM l2
"""


_KMV_K, _KMV_SEED = 256, 404


def q_kmv_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV/theta distinct sketches with SET-INTERSECTION estimates
    (operators/membership.py::{kmv_build,kmv_intersect}): 'how many users
    did both X and Y' for every event-type pair via inclusion-exclusion
    over k-minimum-value sketches — the set-op capability HLL lacks, and
    the only shape that answers pairwise audience overlap at 100 TB
    without a distinct self-join per pair. Portable hashes ⇒ the DuckDB
    twin reproduces sketches and estimates exactly; exact intersections
    ride along with an err_ok envelope. At sf0.01 the sketches are not
    full (estimates EXACT by the KMV rule); at sf0.1 they are full and
    genuinely estimate — both paths oracle-checked."""
    from ecommerce_analytics_platform_spark.operators.membership import (
        kmv_build,
        kmv_intersect,
    )

    ev = _t(spark, sf_dir, "events")
    sk = kmv_build(ev, "user_id", ["event_type"], _KMV_K, _KMV_SEED)
    est = kmv_intersect(sk, "event_type", _KMV_K)
    du = ev.select("event_type", "user_id").distinct()
    ex = (
        du.alias("x")
        .join(
            du.alias("y"),
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("grp_a"), F.col("y.event_type").alias("grp_b")
        )
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    out = est.join(ex, ["grp_a", "grp_b"])
    return out.select(
        "grp_a",
        "grp_b",
        "est_a",
        "est_b",
        "est_union",
        "inter_est",
        "exact_inter",
        (
            F.abs(F.col("inter_est") - F.col("exact_inter")) / F.col("exact_inter")
            <= 0.35
        ).alias("err_ok"),
    )


def _kmv_intersect_sql() -> str:
    from ecommerce_analytics_platform_spark.functions.compat import seeded_hash60_sql

    k = _KMV_K
    h = seeded_hash60_sql("user_id", _KMV_SEED)
    est = (
        f"CASE WHEN {{n}} >= {k} THEN {float(k - 1)!r} * 1152921504606846976.0 "
        f"/ CAST({{kth}} AS DOUBLE) ELSE CAST({{n}} AS DOUBLE) END"
    )
    est_a = est.format(n="oa.n", kth="oa.kth")
    est_b = est.format(n="ob.n", kth="ob.kth")
    est_u = est.format(n="u.un", kth="u.uk")
    return f"""
WITH hashes AS (
    SELECT DISTINCT event_type, {h} AS h FROM events
), ranked AS (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS r
    FROM hashes
), sk AS (
    SELECT event_type, h FROM ranked WHERE r <= {k}
), one AS (
    SELECT event_type, count(*) AS n, max(h) AS kth FROM sk GROUP BY 1
), pairs AS (
    SELECT a.event_type AS grp_a, b.event_type AS grp_b
    FROM one a JOIN one b ON a.event_type < b.event_type
), merged AS (
    SELECT DISTINCT p.grp_a, p.grp_b, s.h
    FROM pairs p JOIN sk s ON s.event_type = p.grp_a OR s.event_type = p.grp_b
), mr AS (
    SELECT grp_a, grp_b, h,
           row_number() OVER (PARTITION BY grp_a, grp_b ORDER BY h) AS r
    FROM merged
), un AS (
    SELECT grp_a, grp_b, count(*) AS un, max(h) AS uk FROM mr WHERE r <= {k} GROUP BY 1, 2
), duex AS (
    SELECT DISTINCT event_type, user_id FROM events
), ex AS (
    SELECT a.event_type AS grp_a, b.event_type AS grp_b, count(*) AS exact_inter
    FROM duex a JOIN duex b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
)
SELECT u.grp_a, u.grp_b,
       round({est_a}, 4) AS est_a,
       round({est_b}, 4) AS est_b,
       round({est_u}, 4) AS est_union,
       round(greatest(0.0, {est_a} + {est_b} - {est_u}), 4) AS inter_est,
       ex.exact_inter,
       (abs(round(greatest(0.0, {est_a} + {est_b} - {est_u}), 4) - ex.exact_inter)
          / ex.exact_inter <= 0.35) AS err_ok
FROM un u
JOIN one oa ON oa.event_type = u.grp_a
JOIN one ob ON ob.event_type = u.grp_b
JOIN ex ON ex.grp_a = u.grp_a AND ex.grp_b = u.grp_b
"""


def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval coalescing (operators/intervals.py):
    each event opens a 30-minute [ts, ts+30m) activity interval; merge
    overlapping intervals per user into maximal islands — sessionization
    generalized to true intervals (variable ends), one shuffle, no
    self-join."""
    from ecommerce_analytics_platform_spark.operators.intervals import merge_intervals

    ev = _t(spark, sf_dir, "events")
    iv = ev.select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTE")).alias("e"),
    )
    return merge_intervals(iv, ["user_id"], "s", "e")


SQL_INTERVAL_MERGE = """
WITH iv AS (
    SELECT user_id, ts AS s, ts + INTERVAL 30 MINUTE AS e FROM events
), flagged AS (
    SELECT user_id, s, e,
           CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  OR s > max(e) OVER (PARTITION BY user_id ORDER BY s, e
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                THEN 1 ELSE 0 END AS new_island
    FROM iv
), isl AS (
    SELECT user_id, s, e,
           sum(new_island) OVER (PARTITION BY user_id ORDER BY s, e
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
    FROM flagged
)
SELECT user_id, min(s) AS island_start, max(e) AS island_end, count(*) AS n_intervals
FROM isl GROUP BY user_id, island
"""


_DDS_ALPHA = 0.02
_DDS_QS = [0.5, 0.95, 0.99]


def q_dds_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch mergeable quantiles (operators/membership.py::dds_build/
    dds_quantiles): p50/p95/p99 of order totals per priority from a
    bounded log-bin relation — the quantile shape that rolls up at 100 TB
    (exact percentiles need a full sort per group; DDSketch bins merge by
    addition). The bin spec is engine-neutral (one ln per value), so the
    DuckDB twin reproduces bins, ranks AND estimates exactly; ``err_ok``
    pins the α-relative-error guarantee against the exact interpolated
    percentile (F.percentile ≙ quantile_cont, the established pair from
    percentile_stats).

    Hash-robustness (the r5 red row): the exact integer ``bin`` is
    emitted, and both ``dds_est`` and ``exact_p`` go through the
    two-stage decimal round (round 6dp → DECIMAL(18,6) → round 4dp →
    double) so the hashed doubles are exact 4-digit values with a unique
    shortest repr — no HALF_UP-on-repr vs C-round boundary can exist."""
    from ecommerce_analytics_platform_spark.operators.membership import (
        dds_build,
        dds_quantiles,
    )

    orders = _t(spark, sf_dir, "orders")
    bins = dds_build(orders, "o_totalprice", ["o_orderpriority"], _DDS_ALPHA)
    est = dds_quantiles(bins, ["o_orderpriority"], _DDS_QS, _DDS_ALPHA)
    exact = orders.groupBy("o_orderpriority").agg(
        *[
            F.round(
                F.round(F.percentile(F.col("o_totalprice"), F.lit(q)), 6).cast(
                    "decimal(18,6)"
                ),
                4,
            )
            .cast("double")
            .alias(f"e{i}")
            for i, q in enumerate(_DDS_QS)
        ]
    )
    stack = ", ".join(f"CAST({q} AS DOUBLE), e{i}" for i, q in enumerate(_DDS_QS))
    exact_long = exact.select(
        "o_orderpriority",
        F.expr(f"stack({len(_DDS_QS)}, {stack}) AS (q, exact_p)"),
    )
    out = est.join(exact_long, ["o_orderpriority", "q"])
    return out.select(
        "o_orderpriority",
        "q",
        "n",
        "bin",
        "dds_est",
        "exact_p",
        (F.abs((F.col("dds_est") - F.col("exact_p")) / F.col("exact_p")) <= 0.06).alias(
            "err_ok"
        ),
    )


def _dds_quantiles_sql() -> str:
    import math

    from ecommerce_analytics_platform_spark.operators.membership import dds_gamma

    g = dds_gamma(_DDS_ALPHA)
    lg, coef = repr(math.log(g)), repr(2.0 / (g + 1.0))
    qlist = ", ".join(repr(q) for q in _DDS_QS)
    exact_parts = "\n    UNION ALL ".join(
        f"SELECT o_orderpriority, CAST({q} AS DOUBLE) AS q, "
        f"CAST(round(CAST(round(quantile_cont(o_totalprice, {q}), 6) "
        f"AS DECIMAL(18,6)), 4) AS DOUBLE) AS exact_p "
        f"FROM orders GROUP BY o_orderpriority"
        for q in _DDS_QS
    )
    return f"""
WITH bins AS (
    SELECT o_orderpriority, CAST(ceil(ln(o_totalprice) / {lg}) AS BIGINT) AS bin,
           count(*) AS cnt
    FROM orders WHERE o_totalprice > 0 GROUP BY 1, 2
), cum AS (
    SELECT o_orderpriority, bin, cnt,
           sum(cnt) OVER (PARTITION BY o_orderpriority ORDER BY bin) AS cum
    FROM bins
), n AS (
    SELECT o_orderpriority, CAST(sum(cnt) AS BIGINT) AS n FROM bins GROUP BY 1
), qs AS (
    SELECT CAST(unnest([{qlist}]) AS DOUBLE) AS q
), sel AS (
    SELECT c.o_orderpriority, q.q, n.n, min(c.bin) AS bin
    FROM cum c JOIN n USING (o_orderpriority) CROSS JOIN qs q
    WHERE c.cum >= ceil(q.q * n.n)
    GROUP BY 1, 2, 3
), exact AS (
    {exact_parts}
)
SELECT s.o_orderpriority, s.q, s.n, s.bin,
       CAST(round(CAST(round({coef} * pow({g!r}, s.bin), 6) AS DECIMAL(18,6)), 4)
            AS DOUBLE) AS dds_est,
       e.exact_p,
       (abs((CAST(round(CAST(round({coef} * pow({g!r}, s.bin), 6) AS DECIMAL(18,6)), 4)
                  AS DOUBLE) - e.exact_p) / e.exact_p) <= 0.06) AS err_ok
FROM sel s JOIN exact e ON s.o_orderpriority = e.o_orderpriority AND s.q = e.q
"""


_RP_DIM, _RP_SEED = 8, 19


def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64d → 8d
    (operators/similarity.py::random_projection): seeded Gaussian matrix
    as broadcast literals, zero-shuffle map over the corpus. The DuckDB
    twin embeds the identical seed-19 matrix, so every projected
    component hash-matches (same left-fold summation order both
    engines)."""
    from ecommerce_analytics_platform_spark.operators.similarity import random_projection

    emb = _t(spark, sf_dir, "embeddings")
    return random_projection(emb, "vec_id", "embedding", out_dim=_RP_DIM, seed=_RP_SEED)


def _random_projection_sql() -> str:
    import math

    from ecommerce_analytics_platform_spark.operators.similarity import hyperplanes

    planes = hyperplanes(64, _RP_DIM, _RP_SEED)
    scale = repr(1.0 / math.sqrt(_RP_DIM))
    parts = "\nUNION ALL\n".join(
        f"SELECT vec_id, {j} AS dim_idx, "
        f"round(list_sum(list_transform(generate_series(1, 64), "
        f"i -> CAST(embedding[i] AS DOUBLE) * ([{', '.join(repr(x) for x in p)}])[i])) "
        f"* {scale}, 4) AS value FROM embeddings"
        for j, p in enumerate(planes)
    )
    return parts


_HLL_B, _HLL_SEED = 8, 303


def q_portable_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog distinct-count (operators/membership.py):
    per-event-type user cardinality estimated from md5-family registers,
    plus a '__all__' row whose registers are the max-MERGE of the
    per-type registers — the mergeable-rollup shape that survives 100 TB.
    Unlike ``approx_sketches``/``sketch_merge`` (engine-native HLL,
    contract-checked only), the register spec here is engine-neutral, so
    the DuckDB twin reproduces buckets, registers, AND the estimate
    bit-for-bit — the estimate itself hash-matches, false error included.
    ``err_ok`` additionally pins the ±15% accuracy envelope."""
    from ecommerce_analytics_platform_spark.operators.membership import (
        hll_build,
        hll_estimate,
    )

    ev = _t(spark, sf_dir, "events")
    regs = hll_build(ev, "user_id", ["event_type"], _HLL_B, _HLL_SEED)
    merged = (
        regs.groupBy("bucket")
        .agg(F.max("rmax").alias("rmax"))
        .withColumn("event_type", F.lit("__all__"))
    )
    est = hll_estimate(regs.unionByName(merged), ["event_type"], _HLL_B)
    exact = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_exact"))
    exact_all = ev.agg(F.countDistinct("user_id").alias("n_exact")).withColumn(
        "event_type", F.lit("__all__")
    )
    return (
        est.join(exact.unionByName(exact_all.select("event_type", "n_exact")), "event_type")
        .select(
            "event_type",
            "n_exact",
            "hll_est",
            (F.abs((F.col("hll_est") - F.col("n_exact")) / F.col("n_exact")) <= 0.15).alias(
                "err_ok"
            ),
        )
    )


def _portable_hll_sql() -> str:
    from ecommerce_analytics_platform_spark.operators.membership import (
        hll_estimate_sql,
        hll_rho_sql,
    )

    bucket, rho = hll_rho_sql("user_id", _HLL_B, _HLL_SEED)
    est = hll_estimate_sql("r2", ["event_type"], _HLL_B).strip()
    return f"""
WITH regs AS (
    SELECT event_type, {bucket} AS bucket, max({rho}) AS rmax
    FROM events GROUP BY 1, 2
), all_regs AS (
    SELECT '__all__' AS event_type, bucket, max(rmax) AS rmax FROM regs GROUP BY 2
), r2 AS (
    SELECT * FROM regs UNION ALL SELECT * FROM all_regs
), est AS (
{est}
), exact AS (
    SELECT event_type, count(DISTINCT user_id) AS n_exact FROM events GROUP BY 1
    UNION ALL
    SELECT '__all__' AS event_type, count(DISTINCT user_id) AS n_exact FROM events
)
SELECT e.event_type, x.n_exact, e.hll_est,
       (abs((e.hll_est - x.n_exact) / x.n_exact) <= 0.15) AS err_ok
FROM est e JOIN exact x USING (event_type)
"""


# ---------------------------------------------------------------------------
# r9: exact fuzzy joins (operators/fuzzy.py) + Gopher repetition signals
# ---------------------------------------------------------------------------

_HAM_BITS, _HAM_D = 48, 3


def q_hamming_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-distance near-dup join: all document pairs whose
    48-bit SimHash signatures differ in ≤ 3 bit positions — EXACT via the
    pigeonhole band index (operators/fuzzy.py::hamming_neardup_pairs):
    4 disjoint 12-bit bands, ≤3 differing bits leave ≥1 band identical,
    so candidates are an equi-join on (band, value) and verification is
    one xor+popcount per candidate. The third near-dup candidate geometry
    beside MinHash-LSH banding (Jaccard) and PPJoin prefixes (exact
    sets). The twin replays the signature, the band explode, the
    candidate join and the popcount verify — full hash-match."""
    from ecommerce_analytics_platform_spark.functions.text import simhash_table
    from ecommerce_analytics_platform_spark.operators.fuzzy import (
        hamming_neardup_pairs,
    )

    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    # numpy-fold signature (r15, VERDICT r14 #4): bit-identical to
    # simhash64/simhash_by_agg, but the per-bit majority count runs
    # vectorized in one Arrow pass with NO exchange — the explode +
    # groupBy(doc) + 48 codegen'd SUMs are gone; zero-token docs are
    # masked inside the fold
    sigs = simhash_table(docs, "doc_id", "text", bits=_HAM_BITS)
    return hamming_neardup_pairs(sigs, "doc_id", "sig", _HAM_BITS, _HAM_D)


def _hamming_neardup_sql(bits: int = _HAM_BITS, d: int = _HAM_D) -> str:
    h = "('0x' || substr(md5(w), 1, 15))::BIGINT"
    bit_terms = " + ".join(
        f"(CASE WHEN list_sum(list_transform(toks, w -> CASE WHEN ({h} >> {b}) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(bits)
    )
    width = bits // (d + 1)
    assert bits % (d + 1) == 0
    band_vals = ", ".join(f"({b}, {b * width})" for b in range(d + 1))
    return rf"""
WITH tokd AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
    FROM documents WHERE trim(text) <> ''
), sh AS (
    SELECT doc_id, CAST({bit_terms} AS BIGINT) AS sig FROM tokd
), member AS (
    SELECT doc_id, sig, bd.band, (sig >> bd.lo) & {(1 << width) - 1} AS val
    FROM sh CROSS JOIN (VALUES {band_vals}) AS bd(band, lo)
), cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM member a JOIN member b
      ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b, CAST(bit_count(xor(sa.sig, sb.sig)) AS BIGINT) AS hamming
FROM cand c JOIN sh sa ON sa.doc_id = c.id_a JOIN sh sb ON sb.doc_id = c.id_b
WHERE bit_count(xor(sa.sig, sb.sig)) <= {d}
"""


_EDJ_Q, _EDJ_D = 4, 1


def q_edit_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT edit-distance self-join over customer names at threshold 1
    (operators/fuzzy.py::edit_similarity_join): Ed-Join-style q-gram
    prefix filtering — each string's q·d+1 globally-rarest distinct
    4-grams form its prefix; strings within distance d MUST share a
    prefix gram (completeness proof in the operator docstring), so the
    candidate join touches rare grams only and equals the brute-force
    all-pairs result. Unlike the blockey-based fuzzy_pairs query this
    needs NO blocking key and misses NO cross-block pairs. The twin
    replays both channels (prefix + short-string) in SQL."""
    from ecommerce_analytics_platform_spark.operators.fuzzy import (
        edit_similarity_join,
    )

    cust = fan_out(_t(spark, sf_dir, "customer").select("c_custkey", "c_name"))
    return edit_similarity_join(
        cust, "c_custkey", "c_name", max_edits=_EDJ_D, q=_EDJ_Q
    )


def _edit_distance_join_sql(q: int = _EDJ_Q, d: int = _EDJ_D) -> str:
    plen = q * d + 1
    return f"""
WITH sized AS (
    SELECT c_custkey AS id, c_name AS s, CAST(len(c_name) AS BIGINT) AS l,
           list_distinct(list_transform(range(1, len(c_name) - {q} + 2),
                                        i -> substr(c_name, i, {q}))) AS grams,
           CAST(len(list_distinct(list_transform(range(1, len(c_name) - {q} + 2),
                                        i -> substr(c_name, i, {q})))) AS BIGINT) AS ng
    FROM customer WHERE c_name IS NOT NULL
), tok AS (
    SELECT id, s, l, unnest(grams) AS tok FROM sized WHERE ng >= {plen}
), freq AS (
    SELECT tok, count(*) AS freq FROM tok GROUP BY tok
), pref AS (
    SELECT id, s, l, tok FROM (
        SELECT tok.id, tok.s, tok.l, tok.tok,
               row_number() OVER (PARTITION BY tok.id ORDER BY freq.freq, tok.tok) AS rn
        FROM tok JOIN freq USING (tok)
    ) WHERE rn <= {plen}
), main_pairs AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
    FROM pref a JOIN pref b ON a.tok = b.tok AND a.id < b.id
    WHERE abs(a.l - b.l) <= {d} AND levenshtein(a.s, b.s) <= {d}
), shorts AS (
    SELECT id, s, l FROM sized WHERE ng <= {2 * q * d}
), short_pairs AS (
    SELECT DISTINCT a.id AS id_a, b.id AS id_b,
           CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
    FROM shorts a JOIN shorts b ON a.id < b.id
    WHERE abs(a.l - b.l) <= {d} AND levenshtein(a.s, b.s) <= {d}
)
SELECT id_a, id_b, dist FROM main_pairs
UNION
SELECT id_a, id_b, dist FROM short_pairs
"""


def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over the basket-pair support counts (the
    Agrawal/Srikant support-confidence-lift framework): every directed
    rule ante → cons from the undirected pair relation, with
    support = pair_n / n_baskets, confidence = pair_n / ante_n,
    lift = (pair_n · n_baskets) / (ante_n · cons_n). All three are
    single divisions of exact BIGINTs (products stay < 2^63), so the
    doubles are bit-identical cross-engine. Scale shape: inherits
    basket_pairs' one-wide-shuffle plan; the rule derivation is pure
    arithmetic on the catalog-sized pair relation."""
    from ecommerce_analytics_platform_spark.operators.analytics import basket_pairs

    bp = basket_pairs(
        _t(spark, sf_dir, "lineitem"), "l_orderkey", "l_partkey",
        min_support=2, max_basket=100,
    )

    # r14: ONE pass over the pair relation — the two-branch union read
    # the (persisted) basket_pairs subtree twice, duplicating both
    # broadcast count joins (guide §1.2). Each pair row explodes into
    # its two directed rules; lift is symmetric and support/confidence
    # are the same divisions, so rows are identical to the old union
    # (UNION ALL semantics — explode preserves multiplicity).
    def rule_struct(ante, cons, ante_n, cons_n):
        return F.struct(
            F.col(ante).alias("ante"),
            F.col(cons).alias("cons"),
            (F.col("pair_n") / F.col(ante_n)).alias("confidence"),
        )

    return bp.select(
        "pair_n",
        (F.col("pair_n") / F.col("n_baskets")).alias("support"),
        ((F.col("pair_n") * F.col("n_baskets")) / (F.col("a_n") * F.col("b_n"))).alias(
            "lift"
        ),
        F.explode(
            F.array(
                rule_struct("item_a", "item_b", "a_n", "b_n"),
                rule_struct("item_b", "item_a", "b_n", "a_n"),
            )
        ).alias("r"),
    ).select("r.ante", "r.cons", "pair_n", "support", "r.confidence", "lift")


SQL_ASSOC_RULES = (
    "WITH bp AS (" + SQL_BASKET_PAIRS + """)
SELECT item_a AS ante, item_b AS cons, pair_n,
       pair_n / n_baskets AS support,
       pair_n / a_n AS confidence,
       (pair_n * n_baskets) / (a_n * b_n) AS lift
FROM bp
UNION ALL
SELECT item_b AS ante, item_a AS cons, pair_n,
       pair_n / n_baskets AS support,
       pair_n / b_n AS confidence,
       (pair_n * n_baskets) / (b_n * a_n) AS lift
FROM bp
"""
)


def q_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language (BPE tokens per word under the
    trained merges) — the routine tokenizer-evaluation report a
    pretraining pipeline runs per corpus slice: a language whose
    fertility balloons is under-served by the merge table and gets its
    sampling weight or vocab budget revisited. Composition: the
    bpe_encode per-doc relation (merges trained in this invocation)
    joined to each doc's language, exact BIGINT sums, one int/int double
    division."""
    from ecommerce_analytics_platform_spark.operators.bpe import bpe_segment

    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text", "lang"))
    merges = _bpe_trained_merges(spark, sf_dir)
    enc = bpe_segment(docs.select("doc_id", "text"), merges, "text", "doc_id")
    return (
        enc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.sum("bpe_tokens").alias("bpe_tokens"),
            F.sum("words").alias("words"),
        )
        .select(
            "lang",
            "bpe_tokens",
            "words",
            (F.col("bpe_tokens") / F.col("words")).alias("fertility"),
        )
    )


SQL_BPE_FERTILITY = (
    "WITH enc AS (" + SQL_BPE_ENCODE + """)
SELECT d.lang,
       CAST(sum(enc.bpe_tokens) AS BIGINT) AS bpe_tokens,
       CAST(sum(enc.words) AS BIGINT) AS words,
       sum(enc.bpe_tokens) / sum(enc.words) AS fertility
FROM enc JOIN documents d USING (doc_id)
GROUP BY 1
"""
)


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality signals (Rae et al. 2021 §A1.1),
    the rule family pretraining pipelines run BEFORE dedup: word count,
    mean word length, duplicate-word fraction, top-bigram position
    fraction, duplicated-trigram position fraction, and the combined keep
    flag. Every signal is a pure per-row array expression — the whole
    query is scan-local (zero shuffles), the shape that matters at
    100 TB. Ratios are int/int double divisions, bit-identical
    cross-engine."""
    docs = fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text")).filter(
        F.trim(F.col("text")) != ""
    )
    tk = tokens(F.col("text"))
    base = docs.select(
        "doc_id",
        tk.alias("tk"),
        F.size(tk).cast("long").alias("n_words"),
    )

    def grams(width: int):
        return F.transform(
            F.sequence(F.lit(0), F.col("n_words") - width),
            lambda i: F.concat_ws(
                " ", *[F.get(F.col("tk"), i + j) for j in range(width)]
            ),
        )

    n = F.col("n_words")
    total_chars = F.aggregate(
        F.col("tk"), F.lit(0).cast("long"), lambda a, w: a + F.length(w)
    )
    from ecommerce_analytics_platform_spark.functions.text import gram_dup_stats

    # O(n log n)/doc (array_sort + one run-length aggregate pass), replacing
    # the r9 size(filter)-inside-transform shape that was O(n²) per document
    # (VERDICT r9 "what's wrong" #4): identical outputs, survives book-length
    # (10⁵-word) documents in a single task.
    big, tri = F.col("big"), F.col("tri")
    top_big_cnt = gram_dup_stats(big)["max_count"]
    dup_tri_cnt = gram_dup_stats(tri)["dup_positions"]
    sig = (
        base.withColumn("big", F.when(n >= 2, grams(2)))
        .withColumn("tri", F.when(n >= 3, grams(3)))
        .select(
            "doc_id",
            "n_words",
            (total_chars / n).alias("mean_word_len"),
            (F.lit(1.0) - F.size(F.array_distinct("tk")) / n).alias(
                "frac_dup_words"
            ),
            F.when(n >= 2, top_big_cnt / (n - 1))
            .otherwise(F.lit(0.0))
            .alias("top_bigram_frac"),
            F.when(n >= 3, dup_tri_cnt / (n - 2))
            .otherwise(F.lit(0.0))
            .alias("dup_trigram_frac"),
        )
    )
    keep = (
        F.col("n_words").between(20, 80)
        & F.col("mean_word_len").between(3.0, 10.0)
        & (F.col("frac_dup_words") <= 0.6)
        & (F.col("top_bigram_frac") <= 0.08)
        & (F.col("dup_trigram_frac") <= 0.02)
    )
    return sig.withColumn("gopher_keep", keep)


SQL_GOPHER_QUALITY = r"""
WITH tokd AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
    FROM documents WHERE trim(text) <> ''
), base AS (
    SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n_words,
           CASE WHEN len(tk) >= 2 THEN
               list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
           END AS big,
           CASE WHEN len(tk) >= 3 THEN
               list_transform(range(1, len(tk) - 1),
                              i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
           END AS tri
    FROM tokd
), sig AS (
    SELECT doc_id, n_words,
           list_sum(list_transform(tk, w -> len(w))) / n_words AS mean_word_len,
           1.0 - len(list_distinct(tk)) / n_words AS frac_dup_words,
           CASE WHEN n_words >= 2 THEN
               list_max(list_transform(list_distinct(big),
                   b -> len(list_filter(big, x -> x = b)))) / (n_words - 1)
           ELSE 0.0 END AS top_bigram_frac,
           CASE WHEN n_words >= 3 THEN
               len(list_filter(tri,
                   t -> len(list_filter(tri, x -> x = t)) > 1)) / (n_words - 2)
           ELSE 0.0 END AS dup_trigram_frac
    FROM base
)
SELECT doc_id, n_words, mean_word_len, frac_dup_words, top_bigram_frac,
       dup_trigram_frac,
       (n_words BETWEEN 20 AND 80
        AND mean_word_len BETWEEN 3.0 AND 10.0
        AND frac_dup_words <= 0.6
        AND top_bigram_frac <= 0.08
        AND dup_trigram_frac <= 0.02) AS gopher_keep
FROM sig
"""


QUERIES: dict[str, tuple[SparkQuery, str | None]] = {
    "pricing_summary": (q_pricing_summary, SQL_PRICING_SUMMARY),
    "daily_kpis": (q_daily_kpis, SQL_DAILY_KPIS),
    "daily_funnel": (q_daily_funnel, SQL_DAILY_FUNNEL),
    "user_lifecycle": (q_user_lifecycle, SQL_USER_LIFECYCLE),
    "dedup_latest": (q_dedup_latest, SQL_DEDUP_LATEST),
    "first_touch": (q_first_touch, SQL_FIRST_TOUCH),
    "dim_date": (q_dim_date, SQL_DIM_DATE),
    "revenue_by_region": (q_revenue_by_region, SQL_REVENUE_BY_REGION),
    "customers_without_orders": (q_customers_without_orders, SQL_CUSTOMERS_WITHOUT_ORDERS),
    "product_performance": (q_product_performance, SQL_PRODUCT_PERFORMANCE),
    "order_items_array": (q_order_items_array, SQL_ORDER_ITEMS_ARRAY),
    "exploded_lines": (q_exploded_lines, SQL_EXPLODED_LINES),
    "session_rollup": (q_session_rollup, SQL_SESSION_ROLLUP),
    "distinct_event_types": (q_distinct_event_types, SQL_DISTINCT_EVENT_TYPES),
    "json_props": (q_json_props, SQL_JSON_PROPS),
    "token_stats": (q_token_stats, SQL_TOKEN_STATS),
    "language_id": (q_language_id, _langid_sql()),
    "vocab_topk": (q_vocab_topk, SQL_VOCAB_TOPK),
    "train_val_split": (q_train_val_split, SQL_TRAIN_VAL_SPLIT),
    "exact_dedup": (q_exact_dedup, SQL_EXACT_DEDUP),
    "doc_fingerprint": (q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    "minhash_signatures": (q_minhash_signatures, _minhash_sql()),
    "simhash": (q_simhash, _simhash_sql()),
    "neardup_pairs": (q_neardup_pairs, _neardup_sql()),
    "neardup_pairs_capped": (q_neardup_pairs_capped, _neardup_capped_sql()),
    "neardup_verified": (q_neardup_verified, _neardup_verified_sql()),
    "neardup_clusters": (q_neardup_clusters, _neardup_clusters_sql()),
    "neardup_clusters_star": (q_neardup_clusters_star, _neardup_clusters_sql()),
    "cosine_topk": (q_cosine_topk, SQL_COSINE_TOPK),
    "embedding_neardup": (q_embedding_neardup, SQL_EMBEDDING_NEARDUP),
    "embedding_stats": (q_embedding_stats, SQL_EMBEDDING_STATS),
    "bpe_token_count": (q_bpe_token_count, SQL_BPE_TOKEN_COUNT),
    # rows-only: LSH bucket membership isn't cross-engine robust at float
    # sign boundaries; recall asserted vs the exact path in tests
    "ann_lsh": (q_ann_lsh, SQL_ANN_LSH),
    "embedding_neardup_lsh": (q_embedding_neardup_lsh, SQL_EMBEDDING_NEARDUP_LSH),
    "ann_ivf": (q_ann_ivf, SQL_ANN_IVF),
    "ann_int8": (q_ann_int8, SQL_ANN_INT8),
    "ann_pq": (q_ann_pq, SQL_ANN_PQ),
    "asof_join": (q_asof_join, SQL_ASOF_JOIN),
    "range_join": (q_range_join, SQL_RANGE_JOIN),
    "time_bucket_rollup": (q_time_bucket_rollup, SQL_TIME_BUCKET_ROLLUP),
    "running_total": (q_running_total, SQL_RUNNING_TOTAL),
    "event_rank": (q_event_rank, SQL_EVENT_RANK),
    "set_ops": (q_set_ops, SQL_SET_OPS),
    "sales_rollup": (q_sales_rollup, SQL_SALES_ROLLUP),
    "sales_cube": (q_sales_cube, SQL_SALES_CUBE),
    "semi_join": (q_semi_join, SQL_SEMI_JOIN),
    "event_pivot": (q_event_pivot, SQL_EVENT_PIVOT),
    "fuzzy_pairs": (q_fuzzy_pairs, SQL_FUZZY_PAIRS),
    "sorted_neighborhood": (q_sorted_neighborhood, SQL_SORTED_NEIGHBORHOOD),
    "percentile_stats": (q_percentile_stats, SQL_PERCENTILE_STATS),
    "top_revenue_customers": (q_top_revenue_customers, SQL_TOP_REVENUE_CUSTOMERS),
    "pii_scrub": (q_pii_scrub, SQL_PII_SCRUB),
    "tfidf_topk": (q_tfidf_topk, SQL_TFIDF_TOPK),
    "stratified_sample": (q_stratified_sample, SQL_STRATIFIED_SAMPLE),
    "part_outlier_revenue": (q_part_outlier_revenue, SQL_PART_OUTLIER_REVENUE),
    "profile_summary": (q_profile_summary, SQL_PROFILE_SUMMARY),
    "sliding_window_rollup": (q_sliding_window_rollup, SQL_SLIDING_WINDOW_ROLLUP),
    "doc_chunks": (q_doc_chunks, SQL_DOC_CHUNKS),
    "repetition_ratio": (q_repetition_ratio, SQL_REPETITION_RATIO),
    "event_gaps": (q_event_gaps, SQL_EVENT_GAPS),
    "customer_quartiles": (q_customer_quartiles, SQL_CUSTOMER_QUARTILES),
    "grouping_sets": (q_grouping_sets, SQL_GROUPING_SETS),
    "quality_filter": (q_quality_filter, _quality_filter_sql()),
    "session_windows": (q_session_windows, SQL_SESSION_WINDOWS),
    "gap_fill": (q_gap_fill, SQL_GAP_FILL),
    "value_histogram": (q_value_histogram, SQL_VALUE_HISTOGRAM),
    "sequence_pack": (q_sequence_pack, SQL_SEQUENCE_PACK),
    "span_mask": (q_span_mask, _span_mask_sql()),
    "decontaminate": (q_decontaminate, SQL_DECONTAMINATE),
    "inverted_index": (q_inverted_index, SQL_INVERTED_INDEX),
    "token_budget_sample": (q_token_budget_sample, SQL_TOKEN_BUDGET_SAMPLE),
    "lang_balanced_sample": (q_lang_balanced_sample, SQL_LANG_BALANCED_SAMPLE),
    "pagerank": (q_pagerank, _pagerank_sql()),
    "span_dedup": (q_span_dedup, SQL_SPAN_DEDUP),
    "dup_passages": (q_dup_passages, SQL_DUP_PASSAGES),
    "domain_mixture": (q_domain_mixture, _domain_mixture_sql()),
    "set_sim_join": (q_set_sim_join, SQL_SET_SIM_JOIN),
    "entity_clusters": (q_entity_clusters, SQL_ENTITY_CLUSTERS),
    "corpus_shuffle": (q_corpus_shuffle, _corpus_shuffle_sql()),
    # r7: content-defined chunking (rolling-hash boundaries; shared
    # passages -> identical interior chunks) — full hash-match twin
    "content_chunks": (q_content_chunks, _content_chunks_sql()),
    "incremental_dedup": (q_incremental_dedup, SQL_INCREMENTAL_DEDUP),
    "incremental_neardup": (q_incremental_neardup, _incremental_neardup_sql()),
    "token_zipf": (q_token_zipf, SQL_TOKEN_ZIPF),
    "late_suppliers": (q_late_suppliers, SQL_LATE_SUPPLIERS),
    "cohort_retention": (q_cohort_retention, SQL_COHORT_RETENTION),
    "rfm_segments": (q_rfm_segments, SQL_RFM_SEGMENTS),
    "basket_pairs": (q_basket_pairs, SQL_BASKET_PAIRS),
    "state_transitions": (q_state_transitions, SQL_STATE_TRANSITIONS),
    "status_intervals": (q_status_intervals, SQL_STATUS_INTERVALS),
    # both SCD2 paths share one truth: the full-rebuild SQL — the merge
    # query's hash match IS the merge==rebuild equivalence proof
    "scd2_history": (q_scd2_history, SQL_SCD2),
    "scd2_merge": (q_scd2_merge, SQL_SCD2),
    "zorder_key": (q_zorder_key, SQL_ZORDER_KEY),
    "semantic_dedup": (q_semantic_dedup, SQL_SEMANTIC_DEDUP),
    "funnel_ordered": (q_funnel_ordered, SQL_FUNNEL_ORDERED),
    "kpi_unpivot": (q_kpi_unpivot, SQL_KPI_UNPIVOT),
    "window_frames": (q_window_frames, SQL_WINDOW_FRAMES),
    "array_setops": (q_array_setops, SQL_ARRAY_SETOPS),
    "triangle_count": (q_triangle_count, SQL_TRIANGLE_COUNT),
    "weighted_sample": (q_weighted_sample, SQL_WEIGHTED_SAMPLE),
    "range_frame": (q_range_frame, SQL_RANGE_FRAME),
    "source_mix": (q_source_mix, SQL_SOURCE_MIX),
    "embedding_quantize": (q_embedding_quantize, SQL_EMBEDDING_QUANTIZE),
    "unigram_logprob": (q_unigram_logprob, SQL_UNIGRAM_LOGPROB),
    "bigram_logprob": (q_bigram_logprob, SQL_BIGRAM_LOGPROB),
    "feature_snapshot": (q_feature_snapshot, SQL_FEATURE_SNAPSHOT),
    "attribution": (q_attribution, SQL_ATTRIBUTION),
    "cluster_keepers": (q_cluster_keepers, _cluster_keepers_sql()),
    "psi_drift": (q_psi_drift, SQL_PSI_DRIFT),
    # sketch internals are engine-specific by design, so the checkable
    # relation is the accuracy contract (exact values hash-match; ok-flags
    # flip on regression) — same pattern as the ANN trio
    "approx_sketches": (q_approx_sketches, SQL_APPROX_SKETCHES),
    "sketch_merge": (q_sketch_merge, SQL_SKETCH_MERGE),
    # real numpy codecs (PPM/WAV) with arithmetic oracles; video is a
    # deterministic fake kernel (no uncompressed video format to parse)
    # whose frame fan-out IS SQL-expressible — exact twin
    "image_features": (q_image_features, SQL_IMAGE_FEATURES),
    "audio_features": (q_audio_features, SQL_AUDIO_FEATURES),
    "video_frames": (q_video_frames, SQL_VIDEO_FRAMES),
    # r6: the REAL GIF decode/sample path and the baseline JPEG codec,
    # both with fully arithmetic oracles (r5 shipped the codecs but no
    # oracle query reached them)
    "video_frames_gif": (q_video_frames_gif, SQL_VIDEO_FRAMES_GIF),
    "jpeg_roundtrip": (q_jpeg_roundtrip, SQL_JPEG_ROUNDTRIP),
    "product_catalog": (q_product_catalog, _product_catalog_sql()),
    # portable-hash sketches: the ENTIRE structure (false positives /
    # collision overcounts included) is deterministic and reproduced
    # bit-for-bit by the SQL twin — full hash-match, not just a contract
    "bloom_filter": (q_bloom_filter, _bloom_filter_sql()),
    "heavy_hitters": (q_heavy_hitters, _heavy_hitters_sql()),
    # two-phase Spark replay vs one-window oracle = associativity proof
    "cdc_apply": (q_cdc_apply, SQL_CDC_APPLY),
    "dsir_sample": (q_dsir_sample, _dsir_sample_sql()),
    "portable_hll": (q_portable_hll, _portable_hll_sql()),
    "random_projection": (q_random_projection, _random_projection_sql()),
    "dds_quantiles": (q_dds_quantiles, _dds_quantiles_sql()),
    "interval_merge": (q_interval_merge, SQL_INTERVAL_MERGE),
    "kmv_intersect": (q_kmv_intersect, _kmv_intersect_sql()),
    "label_prop": (q_label_prop, SQL_LABEL_PROP),
    "ewma_features": (q_ewma_features, SQL_EWMA_FEATURES),
    "multi_touch": (q_multi_touch, SQL_MULTI_TOUCH),
    "shipping_priority": (q_shipping_priority, SQL_SHIPPING_PRIORITY),
    # salt is physical-layout only: algebraic DECIMAL re-aggregation makes
    # the salted plan's result equal the plain rollup the oracle runs
    "salted_rollup": (q_salted_rollup, SQL_SALTED_ROLLUP),
    "table_stats": (q_table_stats, _table_stats_sql()),
    "robust_outliers": (q_robust_outliers, SQL_ROBUST_OUTLIERS),
    "sliding_uniques": (q_sliding_uniques, _sliding_uniques_sql()),
    "embedding_centroids": (q_embedding_centroids, SQL_EMBEDDING_CENTROIDS),
    "nearest_centroid": (q_nearest_centroid, SQL_NEAREST_CENTROID),
    # composition proof: each stage reuses the SAME predicate its
    # standalone oracled query verifies
    "corpus_funnel": (q_corpus_funnel, _corpus_funnel_sql()),
    # iterative trainer: oracle unrolls the same 3 rounds (pagerank pattern)
    "bpe_merges": (q_bpe_merges, SQL_BPE_MERGES),
    # r7: tokenizer APPLY under the trained merges (scan-local fold)
    "bpe_encode": (q_bpe_encode, SQL_BPE_ENCODE),
    # unigram-LM hard-EM trainer: oracle unrolls 2 EM rounds, each a
    # recursive-CTE Viterbi DP under the previous round's vocab
    "unigram_vocab": (q_unigram_vocab, _unigram_vocab_sql()),
    "unigram_token_count": (q_unigram_token_count, _unigram_token_count_sql()),
    # r9: exact fuzzy joins (pigeonhole Hamming bands; Ed-Join q-gram
    # prefixes) + the Gopher repetition-signal family — full twins
    "hamming_neardup": (q_hamming_neardup, _hamming_neardup_sql()),
    "edit_distance_join": (q_edit_distance_join, _edit_distance_join_sql()),
    "gopher_quality": (q_gopher_quality, SQL_GOPHER_QUALITY),
    "assoc_rules": (q_assoc_rules, SQL_ASSOC_RULES),
    "bpe_fertility": (q_bpe_fertility, SQL_BPE_FERTILITY),
}

# ---------------------------------------------------------------------------
# Registry order (VERDICT r4 wrong #3): the driver's CORRECTNESS gate
# samples only the FIRST 50 entries, and the grouped-by-family literal
# above left sketches, SCD2, CDC, graph, attribution, centroids, LM,
# multimodal and corpus ops outside that window. Front-load one-or-more
# representatives per operator family; everything else keeps its literal
# order. check_parity.py still verifies ALL entries regardless of order.
# ---------------------------------------------------------------------------

# r6 rotation (VERDICT r5 #5): families that never appeared in the
# driver's 50-row hard signal — BPE, simhash, span-dedup, incremental
# near-dup, analytics (cohort_retention), window frames, and the two new
# codec queries — swapped in for redundant near-family rows (pairs vs
# clusters, ivf vs lsh, history vs merge, centroids vs ncc, two of six
# sketch rows, running_total vs window_frames, image_features vs the GIF
# path that re-encodes/decodes PPM anyway). Every registry query is
# still parity-verified by scripts/check_parity.py regardless of window
# membership.
# r8 rotation (VERDICT r7 directive #6): 20 NEVER-driver-sampled queries
# swap in, led by the two heavyweights (entity_clusters, cluster_keepers
# — most expensive, most complex oracle twins, never in any round's hard
# signal), for 20 long-green rows (the six reference-core models green
# since r1, plus neardup/ANN/temporal/OLAP/SCD2/graph stalwarts green 3+
# rounds). Rows kept: everything at ≤2 green driver rounds — the r7
# repairs (HUGEINT family), the r7-new queries, and the r7 perf-weak
# trio (zorder_key/salted_rollup/product_catalog) for visibility.
# r11 (VERDICT r10 directive #5): the rotation RULE is now a datum, not
# prose. _LAST_GREEN_ROUND records, for every registry query, the last
# round whose driver CORRECTNESS gate sampled it (reconstructed from git:
# the first-50 registry keys at each round-final builder commit, cross-
# checked against CORRECTNESS_r01/r09/r10.json; every sample in every
# round passed, so sampled == green). The window each round is simply the
# 50 STALEST greens (oldest round first, name as tie-break) — new queries
# default to round 0 and enter the next window automatically, and no
# query's driver-green can go stale for more than ceil(145/50) ≈ 3
# rounds. After each driver round, bump the sampled entries to that
# round's number.
_LAST_GREEN_ROUND = {
    # last driver-green in round 13 (the r13 window: the 45-query r10
    # cohort + the first 5 of the r11 cohort — CORRECTNESS_r13 all green)
    "bpe_fertility": 13, "content_chunks": 13, "corpus_shuffle": 13,
    "customer_quartiles": 13, "distinct_event_types": 13,
    "domain_mixture": 13, "dsir_sample": 13, "edit_distance_join": 13,
    "embedding_centroids": 13, "event_gaps": 13, "event_rank": 13,
    "fuzzy_pairs": 13, "gopher_quality": 13, "hamming_neardup": 13,
    "heavy_hitters": 13, "image_features": 13, "incremental_dedup": 13,
    "json_props": 13, "kmv_intersect": 13, "kpi_unpivot": 13,
    "late_suppliers": 13, "order_items_array": 13, "part_outlier_revenue":
    13, "percentile_stats": 13, "product_performance": 13,
    "profile_summary": 13, "robust_outliers": 13, "sales_rollup": 13,
    "scd2_history": 13, "semi_join": 13, "set_ops": 13, "set_sim_join":
    13, "sliding_window_rollup": 13, "sorted_neighborhood": 13,
    "span_mask": 13, "status_intervals": 13, "table_stats": 13,
    "time_bucket_rollup": 13, "token_budget_sample": 13,
    "top_revenue_customers": 13, "user_lifecycle": 13, "value_histogram":
    13, "video_frames": 13, "vocab_topk": 13, "window_frames": 13,
    # last driver-green in round 11 (45 queries; first 5 bumped to 13)
    "ann_ivf": 13, "ann_lsh": 13, "approx_sketches": 13, "asof_join": 13,
    "attribution": 13, "audio_features": 11, "bpe_merges": 11,
    "cdc_apply": 11, "cohort_retention": 11, "corpus_funnel": 11,
    "cosine_topk": 11, "customers_without_orders": 11, "daily_funnel": 11,
    "daily_kpis": 11, "dds_quantiles": 11, "dedup_latest": 11, "dim_date":
    11, "dup_passages": 11, "embedding_neardup": 11, "event_pivot": 11,
    "exact_dedup": 11, "exploded_lines": 11, "first_touch": 11,
    "incremental_neardup": 11, "jpeg_roundtrip": 11, "label_prop": 11,
    "language_id": 11, "minhash_signatures": 11, "neardup_clusters": 11,
    "neardup_pairs": 11, "nearest_centroid": 11, "pagerank": 11,
    "portable_hll": 11, "pricing_summary": 11, "product_catalog": 11,
    "quality_filter": 11, "range_join": 11, "revenue_by_region": 11,
    "running_total": 11, "sales_cube": 11, "salted_rollup": 11,
    "scd2_merge": 11, "semantic_dedup": 11, "sequence_pack": 11,
    "session_rollup": 11, "simhash": 11, "span_dedup": 11, "token_stats":
    11, "triangle_count": 11, "unigram_logprob": 11,
    # last driver-green in round 12 (50 queries)
    "ann_int8": 12, "ann_pq": 12, "array_setops": 12, "assoc_rules": 12,
    "basket_pairs": 12, "bigram_logprob": 12, "bloom_filter": 12,
    "bpe_encode": 12, "bpe_token_count": 12, "cluster_keepers": 12,
    "decontaminate": 12, "doc_chunks": 12, "doc_fingerprint": 12,
    "embedding_neardup_lsh": 12, "embedding_quantize": 12,
    "embedding_stats": 12, "entity_clusters": 12, "ewma_features": 12,
    "feature_snapshot": 12, "funnel_ordered": 12, "gap_fill": 12,
    "grouping_sets": 12, "interval_merge": 12, "inverted_index": 12,
    "lang_balanced_sample": 12, "multi_touch": 12,
    "neardup_clusters_star": 12, "neardup_pairs_capped": 12,
    "neardup_verified": 12, "pii_scrub": 12, "psi_drift": 12,
    "random_projection": 12, "range_frame": 12, "repetition_ratio": 12,
    "rfm_segments": 12, "session_windows": 12, "shipping_priority": 12,
    "sketch_merge": 12, "sliding_uniques": 12, "source_mix": 12,
    "state_transitions": 12, "stratified_sample": 12, "tfidf_topk": 12,
    "token_zipf": 12, "train_val_split": 12, "unigram_token_count": 12,
    "unigram_vocab": 12, "video_frames_gif": 12, "weighted_sample": 12,
    "zorder_key": 12,
}

# After the r14 driver round: CORRECTNESS_r14.json sampled these 50,
# all green (rows/schema/hash) — bump to 14. The r15 window therefore
# prioritizes the r14-restructured-but-unwindowed queries
# (product_performance, approx_sketches, bigram_logprob, ewma_features,
# tfidf_topk, neardup_verified, set_sim_join, …).
for _q in (
    "ann_int8", "ann_pq", "array_setops", "assoc_rules", "audio_features",
    "basket_pairs", "bpe_merges", "cdc_apply", "cohort_retention",
    "corpus_funnel", "cosine_topk", "customers_without_orders",
    "daily_funnel", "daily_kpis", "dds_quantiles", "dedup_latest",
    "dim_date", "dup_passages", "embedding_neardup", "event_pivot",
    "exact_dedup", "exploded_lines", "first_touch", "incremental_neardup",
    "jpeg_roundtrip", "label_prop", "language_id", "minhash_signatures",
    "neardup_clusters", "neardup_pairs", "nearest_centroid", "pagerank",
    "portable_hll", "pricing_summary", "product_catalog", "quality_filter",
    "range_join", "revenue_by_region", "running_total", "sales_cube",
    "salted_rollup", "scd2_merge", "semantic_dedup", "sequence_pack",
    "session_rollup", "simhash", "span_dedup", "token_stats",
    "triangle_count", "unigram_logprob",
):
    _LAST_GREEN_ROUND[_q] = 14

# Queries whose Spark builder was RESTRUCTURED after their last driver
# sampling (r14 two-level product_performance agg; r15 memo removal for
# set_sim_join/bpe_fertility; r15 operator rewrites incl. the
# hamming_neardup numpy pass; the similarity family moved onto the shared
# scoring kernels and DuckDB's half-away-from-zero rounding): their
# current shape has never been driver-hash-verified, so they lead the
# window regardless of green round. Remove an entry once a driver round
# re-greens it.
_RESTRUCTURED_SINCE_GREEN = {
    "product_performance", "set_sim_join", "bpe_fertility", "hamming_neardup",
    "cosine_topk", "embedding_neardup", "ann_lsh", "embedding_neardup_lsh",
    "ann_ivf", "ann_int8", "ann_pq", "semantic_dedup", "random_projection",
}

# the rule: 50 stalest greens over the FULL registry — a query the datum
# has never seen (new this round) defaults to 0 and leads the window;
# restructured-since-green queries outrank staleness
_DRIVER_WINDOW = sorted(
    QUERIES,
    key=lambda q: (
        q not in _RESTRUCTURED_SINCE_GREEN,
        _LAST_GREEN_ROUND.get(q, 0),
        q,
    ),
)[:50]

# datum hygiene: an entry for a query the registry no longer carries is
# a stale record — prune it when renaming/removing queries
assert set(_LAST_GREEN_ROUND) <= set(QUERIES)

assert len(_DRIVER_WINDOW) == 50 and len(set(_DRIVER_WINDOW)) == 50


class _ResultCheckpointPin:
    """Pin adapter: frees localCheckpoint storage reachable from a query
    RESULT (iterative operators — connected components, pagerank, label
    propagation — return DataFrames over their final checkpoint
    generation, whose blocks outlive the query). Released like any other
    pin: when the NEXT registry query enters, the previous result's
    action has long finished, so its checkpoints are dead weight.
    Registry inputs are all parquet scans, so every LogicalRDD leaf in a
    result plan is an internal checkpoint — never caller data."""

    def __init__(self, df: DataFrame):
        self._df = df

    def unpersist(self, blocking: bool = False) -> None:
        free_local_checkpoint(self._df)


def _with_pin_release(fn: SparkQuery) -> SparkQuery:
    """Structural pin-release (r6 ADVICE): entering any registry query
    first unpersists whatever the previous query invocation pinned via
    ``_pin``/``_bounded_broadcast``. Lifetime ownership lives HERE, at
    assembly, not by per-function convention — a new query function that
    pins cannot leak across registry sweeps even if it never heard of
    ``release_pinned``.

    RESULT-LIFETIME CONTRACT (ADVICE r7, documented): a QUERIES result
    must be materialized (collected / written / compared) BEFORE the
    same thread invokes the next registry query — entry frees the
    previous result's localCheckpoint blocks, which have no lineage and
    cannot recompute (plain persists would merely recompute). Holding
    two results lazily and materializing the first after fetching the
    second is unsupported on one thread. The pin registry is per-thread
    (session.py r8), so CONCURRENT callers on separate threads are safe:
    one thread's entry can never free another thread's result."""

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str, *a, **k):
        release_pinned()
        out = fn(spark, sf_dir, *a, **k)
        _pin(_ResultCheckpointPin(out))
        return out

    return wrapped


QUERIES = {
    **{k: QUERIES[k] for k in _DRIVER_WINDOW},
    **{k: v for k, v in QUERIES.items() if k not in set(_DRIVER_WINDOW)},
}
QUERIES = {name: (_with_pin_release(fn), sql) for name, (fn, sql) in QUERIES.items()}
