"""Query catalog — every SURVEY §2 capability bound to the driver's
testdata tables, each with a DuckDB oracle (the driver's correctness
gate, __spark_entry__.py contract).

Conventions that keep the Spark/DuckDB hash comparison stable:
- money-style sums ROUND(..., 2); ratios/averages ROUND(..., 6)
- counts as BIGINT on both sides (DuckDB SUMs cast ::BIGINT)
- timestamps rendered as 'yyyy-MM-dd HH:mm:ss' strings
- arrays rendered as comma-joined strings (operators work on real
  arrays; the serialization is only for engine-agnostic hashing)
- every computed column aliased identically on both sides

SURVEY §2 operator ids are cited per query (S/P/J/A/W/O/U/T families).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.arrays import ordered_collect
from ..functions.datelist import (
    datelist_int,
    utc_date,
    utc_date_of_ts,
    utc_ts_str,
)
from ..functions.text import (
    bpe_ish_token_count,
    doc_fingerprint,
    lang_id_heuristic,
    lang_id_sql,
    quality_score,
    token_count,
)
from ..operators.dedup import dedup_keep_first, dedup_minhash_lsh, dedup_simhash
from ..operators.funnel import funnel_conversion
from ..operators.graph import build_edges_pairs_grouped
from ..operators.growth import growth_accounting, retention_curve
from ..operators.scd import scd_from_snapshots
from ..operators.similarity import cosine_topk_bruteforce, cosine_topk_lsh
from ..sources.readers import load_table
from . import catalog_ext as ext
from . import catalog_extra as extra
from . import catalog_late as late
from . import catalog_mix as mix
from . import catalog_rank as rank
from . import catalog_write as write

GROWTH_DS = "2024-01-15"
DATELIST_REF = "2024-01-31"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _arr_str(arr):
    """Comma-joined string rendering of an array column (both engines
    stringify longs/dates identically)."""
    return F.concat_ws(",", F.transform(arr, lambda x: x.cast("string")))


# ---------------------------------------------------------------------------
# TPC-H-style relational core
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: scan+filter+groupBy/agg (S1, P3, A1-A3, O1).

    TPC-H Q1 shape over lineitem: pushdown-able date filter, partial+
    final hash aggregation (A17) on low-cardinality keys.
    """
    from ..functions.datelist import utc_ts_lit

    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        # utc_ts_lit, NOT lit(...).cast("timestamp"): the string cast
        # parses in session TZ, and the r12 Kolkata probe showed it
        # dropping the 26 rows AT the cutoff instant under a +05:30
        # session (midnight-valued shipdates sit exactly on the bound)
        li.where(F.col("l_shipdate") <= utc_ts_lit("2001-06-30"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       ROUND(AVG(l_quantity), 6) AS avg_qty,
       ROUND(AVG(l_extendedprice), 6) AS avg_price,
       ROUND(AVG(l_discount), 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-06-30'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k by aggregate (A15, O1, O2) + broadcast inner join (J3/J13)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    rev = orders.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return (
        rev.join(F.broadcast(cust), rev.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "total_revenue", "n_orders")
        .orderBy(F.desc("total_revenue"), F.asc("c_custkey"))
        .limit(10)
    )


ORACLE_TOP_CUSTOMERS = """
SELECT c_custkey, c_name,
       ROUND(SUM(o_totalprice), 2) AS total_revenue,
       COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
ORDER BY total_revenue DESC, c_custkey
LIMIT 10
"""


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-dim join chain (J3, J13): orders→customer→nation→region."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


ORACLE_REGION_REVENUE = """
SELECT r_name, ROUND(SUM(o_totalprice), 2) AS total_revenue, COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS + GROUPING() discriminator (A9,
    M4A/lecture-lab/grouping_sets.sql:13-33)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT CASE
                 WHEN GROUPING(o_orderstatus) = 0 AND GROUPING(o_orderpriority) = 0
                   THEN 'status_priority'
                 WHEN GROUPING(o_orderstatus) = 0 THEN 'status'
                 WHEN GROUPING(o_orderpriority) = 0 THEN 'priority'
                 ELSE 'overall'
               END AS aggregation_level,
               COALESCE(o_orderstatus, '(overall)') AS o_orderstatus,
               COALESCE(o_orderpriority, '(overall)') AS o_orderpriority,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS total_price
        FROM orders_gs
        GROUP BY GROUPING SETS (
            (o_orderstatus, o_orderpriority), (o_orderstatus),
            (o_orderpriority), ())
        """
    )


ORACLE_GROUPING_SETS = """
SELECT CASE
         WHEN GROUPING(o_orderstatus) = 0 AND GROUPING(o_orderpriority) = 0
           THEN 'status_priority'
         WHEN GROUPING(o_orderstatus) = 0 THEN 'status'
         WHEN GROUPING(o_orderpriority) = 0 THEN 'priority'
         ELSE 'overall'
       END AS aggregation_level,
       COALESCE(o_orderstatus, '(overall)') AS o_orderstatus,
       COALESCE(o_orderpriority, '(overall)') AS o_orderpriority,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total_price
FROM orders
GROUP BY GROUPING SETS (
    (o_orderstatus, o_orderpriority), (o_orderstatus), (o_orderpriority), ())
"""


def q_rolling_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling/offset/whole-partition window frames (W5, W6, W7, W11,
    M4A/lecture-lab/window_based_analysis.sql:30-53)."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        utc_date(orders, "o_orderdate").alias("order_date")
    ).agg(F.sum("o_totalprice").alias("rev"))
    w = Window.orderBy("order_date")
    # trunc() on a DATE stays DateType (TZ-free); date_trunc() would
    # return a session-TZ-rendered midnight TIMESTAMP
    month = F.trunc(F.col("order_date"), "month")
    wm = Window.partitionBy(month).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return daily.select(
        "order_date",
        F.round("rev", 2).alias("daily_rev"),
        F.round(F.sum("rev").over(w.rowsBetween(-6, 0)), 2).alias("rolling_7d"),
        F.round(F.sum("rev").over(w.rowsBetween(-13, -7)), 2).alias("prior_7d"),
        F.round(F.sum("rev").over(wm), 2).alias("month_total"),
    )


ORACLE_ROLLING = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS order_date, SUM(o_totalprice) AS rev
  FROM orders GROUP BY 1)
SELECT order_date,
       ROUND(rev, 2) AS daily_rev,
       ROUND(SUM(rev) OVER (ORDER BY order_date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 2) AS rolling_7d,
       ROUND(SUM(rev) OVER (ORDER BY order_date ROWS BETWEEN 13 PRECEDING AND 7 PRECEDING), 2) AS prior_7d,
       ROUND(SUM(rev) OVER (PARTITION BY date_trunc('month', order_date)
                            ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 2) AS month_total
FROM daily
"""


def q_top_supplier_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-1 via window (A15 + W3) with broadcast dim (J13)."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
    )
    joined = rev.join(F.broadcast(sup), rev.l_suppkey == sup.s_suppkey)
    w = Window.partitionBy("s_nationkey").orderBy(F.desc("rev"), F.asc("s_suppkey"))
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "s_nationkey",
            "s_suppkey",
            F.round("rev", 2).alias("revenue"),
        )
    )


ORACLE_TOP_SUPPLIER = """
WITH rev AS (
  SELECT l_suppkey, SUM(l_extendedprice * (1 - l_discount)) AS rev
  FROM lineitem GROUP BY 1),
ranked AS (
  SELECT s_nationkey, s_suppkey, rev,
         ROW_NUMBER() OVER (PARTITION BY s_nationkey ORDER BY rev DESC, s_suppkey) AS rn
  FROM rev JOIN supplier ON l_suppkey = s_suppkey)
SELECT s_nationkey, s_suppkey, ROUND(rev, 2) AS revenue
FROM ranked WHERE rn = 1
"""


def q_customer_order_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity year spine: explode(sequence(min,max)) — the scalable
    rewrite of the reference's range join + lateral generate_series
    (J10, J11, J12)."""
    orders = _t(spark, sf_dir, "orders")
    yearly = orders.groupBy(
        "o_custkey",
        F.year(utc_date(orders, "o_orderdate")).cast("long").alias(
            "order_year"
        ),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    bounds = yearly.groupBy("o_custkey").agg(
        F.min("order_year").alias("y0"), F.max("order_year").alias("y1")
    )
    spine = bounds.select(
        "o_custkey",
        F.explode(F.sequence(F.col("y0"), F.col("y1"))).alias("order_year"),
    )
    return (
        spine.join(yearly, ["o_custkey", "order_year"], "left")
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "order_year",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("n_orders"),
        )
    )


ORACLE_SPINE = """
WITH yearly AS (
  SELECT o_custkey, EXTRACT(year FROM o_orderdate)::BIGINT AS order_year,
         COUNT(*) AS cnt
  FROM orders GROUP BY 1, 2),
bounds AS (
  SELECT o_custkey, MIN(order_year) AS y0, MAX(order_year) AS y1
  FROM yearly GROUP BY 1),
spine AS (
  SELECT b.o_custkey, s.order_year
  FROM bounds b, LATERAL (SELECT UNNEST(range(b.y0, b.y1 + 1)) AS order_year) s)
SELECT s.o_custkey AS c_custkey, s.order_year,
       COALESCE(y.cnt, 0)::BIGINT AS n_orders
FROM spine s LEFT JOIN yearly y
  ON s.o_custkey = y.o_custkey AND s.order_year = y.order_year
"""


def q_part_pair_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair generation with inequality dedup (J9,
    M1/lecture-lab/player_player_edges.sql:22-26): parts co-occurring in
    the same order.

    Computed join-free (build_edges_pairs_grouped): collect the sorted
    part set per order, expand pairs with array expressions, count —
    two shuffles total versus four for the equivalent self-join, and no
    |order|² join-row materialization. The join form remains available
    as graph.build_edges_pairs (the reference's literal shape)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return build_edges_pairs_grouped(li, "l_orderkey", "l_partkey").select(
        F.col("id_a").alias("part_a"),
        F.col("id_b").alias("part_b"),
        F.col("n_groups").alias("n_orders"),
    )


ORACLE_PART_PAIRS = """
WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_orders
FROM lp a JOIN lp b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
"""


def q_part_type_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE-pattern classification + CASE tiering (P5, P6)."""
    part = _t(spark, sf_dir, "part")
    tier = (
        F.when(F.col("p_type").like("%PROMO%"), "promo")
        .when(F.col("p_type").like("%ECONOMY%"), "economy")
        .when(F.col("p_size") >= 40, "large")
        .when(F.col("p_size") >= 20, "medium")
        .otherwise("small")
    )
    return (
        part.withColumn("tier", tier)
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.avg("p_retailprice"), 6).alias("avg_retail"),
        )
    )


ORACLE_PART_TIERS = """
SELECT CASE
         WHEN p_type LIKE '%PROMO%' THEN 'promo'
         WHEN p_type LIKE '%ECONOMY%' THEN 'economy'
         WHEN p_size >= 40 THEN 'large'
         WHEN p_size >= 20 THEN 'medium'
         ELSE 'small'
       END AS tier,
       COUNT(*) AS n_parts,
       ROUND(AVG(p_retailprice), 6) AS avg_retail
FROM part GROUP BY 1
"""


def q_acctbal_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE value tiering (P6, M1/lecture-lab/pipeline_query.sql:29-36)."""
    cust = _t(spark, sf_dir, "customer")
    tier = (
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 1000, "low")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
    )
    return (
        cust.withColumn("tier", tier)
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.avg("c_acctbal"), 6).alias("avg_acctbal"),
        )
    )


ORACLE_ACCTBAL = """
SELECT CASE
         WHEN c_acctbal < 0 THEN 'debt'
         WHEN c_acctbal < 1000 THEN 'low'
         WHEN c_acctbal < 5000 THEN 'mid'
         ELSE 'high'
       END AS tier,
       COUNT(*) AS n_customers,
       ROUND(AVG(c_acctbal), 6) AS avg_acctbal
FROM customer GROUP BY 1
"""


def q_union_order_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL assembly (U1, incremental_scd_query.sql:92-110 shape)."""
    orders = _t(spark, sf_dir, "orders")
    high = orders.where(F.col("o_totalprice") >= 200000).select(
        F.lit("high").alias("tier"), "o_totalprice"
    )
    low = orders.where(F.col("o_totalprice") < 200000).select(
        F.lit("low").alias("tier"), "o_totalprice"
    )
    return (
        high.unionByName(low)
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


ORACLE_UNION_TIERS = """
WITH u AS (
  SELECT 'high' AS tier, o_totalprice FROM orders WHERE o_totalprice >= 200000
  UNION ALL
  SELECT 'low' AS tier, o_totalprice FROM orders WHERE o_totalprice < 200000)
SELECT tier, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS total_price
FROM u GROUP BY tier
"""


def q_filter_by_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter on a top-1-derived scalar (P8, O6 — expressed as a
    broadcast semi-join instead of a driver-side collect)."""
    ev = _t(spark, sf_dir, "events")
    top = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("event_type"))
        .limit(1)
        .select("event_type")
    )
    return (
        ev.join(F.broadcast(top), "event_type")
        .groupBy(utc_date_of_ts("ts").alias("event_date"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


ORACLE_FILTER_TOP1 = """
WITH top AS (
  SELECT event_type FROM events GROUP BY 1
  ORDER BY COUNT(*) DESC, event_type LIMIT 1)
SELECT CAST(ts AS DATE) AS event_date, COUNT(*) AS n_events
FROM events JOIN top USING (event_type)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# fact modeling / analytical patterns over events
# ---------------------------------------------------------------------------

def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion (A14 dedup + J8 self theta-join + P7 HAVING)."""
    ev = _t(spark, sf_dir, "events")
    return funnel_conversion(ev, "view", "purchase")


ORACLE_FUNNEL = """
WITH dedup AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS event_date, ts, event_type
  FROM events WHERE user_id IS NOT NULL),
a AS (SELECT * FROM dedup WHERE event_type = 'view'),
b AS (SELECT * FROM dedup WHERE event_type = 'purchase'),
per_user AS (
  SELECT a.event_date, a.user_id,
         MAX(CASE WHEN b.ts IS NOT NULL THEN 1 ELSE 0 END) AS converted
  FROM a LEFT JOIN b
    ON a.user_id = b.user_id AND a.event_date = b.event_date AND b.ts > a.ts
  GROUP BY 1, 2)
SELECT event_date,
       COUNT(*) AS n_users,
       SUM(converted)::BIGINT AS n_converted,
       ROUND(SUM(converted)::DOUBLE / COUNT(*), 6) AS conversion_rate
FROM per_user
GROUP BY event_date
HAVING ROUND(SUM(converted)::DOUBLE / COUNT(*), 6) > 0 AND COUNT(*) > 0
"""


def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention curve (M4A/lecture-lab/retention_analysis.sql shape)."""
    ev = _t(spark, sf_dir, "events")
    out = retention_curve(ev)
    return out.select(
        F.col("days_since_first").cast("long").alias("days_since_first"),
        "active_users",
    )


ORACLE_RETENTION = """
WITH daily AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
  FROM events WHERE user_id IS NOT NULL),
firsts AS (SELECT user_id, MIN(d) AS first_d FROM daily GROUP BY 1)
SELECT date_diff('day', f.first_d, d.d)::BIGINT AS days_since_first,
       COUNT(*) AS active_users
FROM daily d JOIN firsts f ON d.user_id = f.user_id
GROUP BY 1
"""


def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth-accounting daily state machine (J1 + §7 hard-part 5,
    M4A/lecture-lab/growth_accounting.sql:19-46) for ds=GROWTH_DS.

    Builds yesterday's snapshot from history, then runs the
    `growth_accounting` operator for one daily advance.
    """
    ev = _t(spark, sf_dir, "events")
    ds = GROWTH_DS
    daily = (
        ev.where(F.col("user_id").isNotNull())
        .select("user_id", utc_date_of_ts("ts").alias("d"))
        .distinct()
    )
    hist = daily.where(F.col("d") < ds)
    yesterday = hist.groupBy("user_id").agg(
        F.min("d").alias("first_active_date"),
        F.max("d").alias("last_active_date"),
        F.sort_array(F.collect_set("d"), asc=False).alias("dates_active"),
    )
    today = ev.where(
        F.col("user_id").isNotNull() & (utc_date_of_ts("ts") == F.lit(ds))
    ).withColumn("date_active", utc_date_of_ts("ts"))
    out = growth_accounting(yesterday, today, ds)
    return out.select(
        "user_id",
        "first_active_date",
        "last_active_date",
        "daily_active_state",
        _arr_str(F.col("dates_active")).alias("dates_active"),
    )


ORACLE_GROWTH = f"""
WITH daily AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
  FROM events WHERE user_id IS NOT NULL AND CAST(ts AS DATE) <= DATE '{GROWTH_DS}'),
agg AS (
  SELECT user_id,
         MIN(d) AS first_active_date,
         MAX(CASE WHEN d < DATE '{GROWTH_DS}' THEN d END) AS last_before,
         MAX(CASE WHEN d = DATE '{GROWTH_DS}' THEN 1 ELSE 0 END) AS active_today,
         array_to_string(list_transform(
           array_agg(DISTINCT d ORDER BY d DESC), x -> CAST(x AS VARCHAR)), ',')
           AS dates_active
  FROM daily GROUP BY user_id)
SELECT user_id, first_active_date,
       CASE WHEN active_today = 1 THEN DATE '{GROWTH_DS}' ELSE last_before END
         AS last_active_date,
       CASE
         WHEN active_today = 1 AND last_before IS NULL THEN 'New'
         WHEN active_today = 1
              AND date_diff('day', last_before, DATE '{GROWTH_DS}') = 1 THEN 'Retained'
         WHEN active_today = 1
              AND date_diff('day', last_before, DATE '{GROWTH_DS}') > 1 THEN 'Resurrected'
         WHEN active_today = 0
              AND date_diff('day', last_before, DATE '{GROWTH_DS}') = 1 THEN 'Churned'
         ELSE 'Stale'
       END AS daily_active_state,
       dates_active
FROM agg
"""


def q_scd_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 backfill (W1 LAG change detection + W2 streak sum +
    A1 min/max, M1/lecture-lab/scd_generation_query.sql:1-35): collapse
    each user's daily dominant event_type into validity ranges."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("user_id").isNotNull())
        .groupBy("user_id", utc_date_of_ts("ts").alias("d"), "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    dominant = dedup_keep_first(
        daily, ["user_id", "d"], [F.desc("c"), F.asc("event_type")]
    ).select("user_id", "d", F.col("event_type").alias("dominant"))
    scd = scd_from_snapshots(dominant, "user_id", "d", ["dominant"])
    return scd.select(
        "user_id",
        F.col("dominant").alias("event_type"),
        F.col("start_d").alias("start_date"),
        F.col("end_d").alias("end_date"),
    )


ORACLE_SCD = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d, event_type, COUNT(*) AS c
  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2, 3),
dom AS (
  SELECT user_id, d, event_type FROM (
    SELECT user_id, d, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id, d
                              ORDER BY c DESC, event_type) AS rn
    FROM daily) WHERE rn = 1),
flagged AS (
  SELECT user_id, d, event_type,
         CASE WHEN LAG(event_type) OVER (PARTITION BY user_id ORDER BY d)
                   IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS did_change
  FROM dom),
streaks AS (
  SELECT *, SUM(did_change) OVER (PARTITION BY user_id ORDER BY d
                                  ROWS UNBOUNDED PRECEDING) AS streak
  FROM flagged)
SELECT user_id, event_type, MIN(d) AS start_date, MAX(d) AS end_date
FROM streaks GROUP BY user_id, event_type, streak
"""


def q_users_cumulated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative date-list table (J1 cumulation endpoint state,
    M2/lecture-lab/user_cumulated_populate.sql; A7 distinct array agg).

    Catalog form computes the final-state snapshot directly; the
    day-by-day cumulate_datelist operator is exercised in unit tests.
    """
    ev = _t(spark, sf_dir, "events")
    return (
        ev.where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            _arr_str(F.sort_array(F.collect_set(utc_date_of_ts("ts")))).alias(
                "dates_active"
            ),
            F.countDistinct(utc_date_of_ts("ts")).alias("n_days"),
        )
    )


ORACLE_USERS_CUMULATED = """
SELECT user_id,
       array_to_string(list_transform(
         array_agg(DISTINCT CAST(ts AS DATE) ORDER BY CAST(ts AS DATE)),
         x -> CAST(x AS VARCHAR)), ',') AS dates_active,
       COUNT(DISTINCT CAST(ts AS DATE)) AS n_days
FROM events WHERE user_id IS NOT NULL
GROUP BY user_id
"""


def q_datelist_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIT(32)-style datelist_int bitmask (A10/A11 + §7 hard-part 2,
    M2/lecture-lab/anaylze_datelist.sql:11-31): bit i = ref_date - i
    active. Probes: BIT_COUNT + low-7-bit weekly mask."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("user_id").isNotNull())
        .select("user_id", utc_date_of_ts("ts").alias("d"))
        .distinct()
    )
    ref = F.lit(DATELIST_REF).cast("date")
    return (
        daily.groupBy("user_id")
        .agg(datelist_int(F.col("d"), ref).alias("datelist_int"))
        .select(
            "user_id",
            "datelist_int",
            F.bit_count("datelist_int").cast("int").alias("active_days"),
            (F.col("datelist_int").bitwiseAND(F.lit(127)) > 0).alias(
                "active_last_week"
            ),
        )
    )


ORACLE_DATELIST = f"""
WITH daily AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
  FROM events WHERE user_id IS NOT NULL),
mask AS (
  SELECT user_id,
         CAST(SUM(CASE WHEN date_diff('day', d, DATE '{DATELIST_REF}')
                            BETWEEN 0 AND 31
                       THEN (CAST(1 AS BIGINT) << date_diff('day', d, DATE '{DATELIST_REF}'))
                       ELSE 0 END) AS BIGINT) AS datelist_int
  FROM daily GROUP BY user_id)
SELECT user_id, datelist_int,
       bit_count(datelist_int)::INT AS active_days,
       (datelist_int & 127) > 0 AS active_last_week
FROM mask
"""


def q_array_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly array metrics (A12/A13 element-wise array aggregation +
    J12 date spine + W10 ordered collect,
    M2/lecture-lab/array_metrics_analysis.sql): one slot per January
    day, zero-filled."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.where(
            F.col("user_id").isNotNull()
            & (F.trunc(utc_date_of_ts("ts"), "month")
               == F.lit("2024-01-01").cast("date"))
        )
        .groupBy(
            "user_id", F.dayofmonth(utc_date_of_ts("ts")).alias("di")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    users = daily.select("user_id").distinct()
    spine = users.select(
        "user_id", F.explode(F.sequence(F.lit(1), F.lit(31))).alias("di")
    )
    filled = spine.join(daily, ["user_id", "di"], "left").select(
        "user_id", "di", F.coalesce(F.col("c"), F.lit(0).cast("long")).alias("c")
    )
    return filled.groupBy("user_id").agg(
        _arr_str(ordered_collect("c", "di")).alias("hit_array"),
        F.sum("c").alias("total_hits"),
    )


ORACLE_ARRAY_METRICS = """
WITH daily AS (
  SELECT user_id, EXTRACT(day FROM ts)::INT AS di, COUNT(*) AS c
  FROM events
  WHERE user_id IS NOT NULL
    AND date_trunc('month', CAST(ts AS DATE)) = DATE '2024-01-01'
  GROUP BY 1, 2),
users AS (SELECT DISTINCT user_id FROM daily),
spine AS (
  SELECT u.user_id, s.di
  FROM users u, LATERAL (SELECT UNNEST(range(1, 32)) AS di) s),
filled AS (
  SELECT s.user_id, s.di, COALESCE(d.c, 0)::BIGINT AS c
  FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.di = d.di)
SELECT user_id,
       array_to_string(list_transform(array_agg(c ORDER BY di),
                                      x -> CAST(x AS VARCHAR)), ',') AS hit_array,
       SUM(c)::BIGINT AS total_hits
FROM filled GROUP BY user_id
"""


def q_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority dedup (W3/W4, M2/homework/assignmnet_2.sql:47-67): best
    row per (user, type, day) with a deterministic total order."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    ev = ev.withColumn("event_date", utc_date_of_ts("ts"))
    kept = dedup_keep_first(
        ev,
        ["user_id", "event_type", "event_date"],
        [F.asc("ts"), F.asc("event_id")],
    )
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


ORACLE_DEDUP_KEEP_FIRST = """
WITH ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type, CAST(ts AS DATE)
                            ORDER BY ts, event_id) AS rn
  FROM events WHERE user_id IS NOT NULL)
SELECT event_type, COUNT(*) AS n_rows, ROUND(SUM(value), 2) AS sum_value
FROM ranked WHERE rn = 1
GROUP BY event_type
"""


def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact + conditional distinct counts (A4, A5)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(F.when(F.col("value") > 50, F.col("user_id"))).alias(
            "n_users_high_value"
        ),
        F.count(F.lit(1)).alias("n_events"),
    )


ORACLE_DISTINCT_USERS = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(DISTINCT CASE WHEN value > 50 THEN user_id END) AS n_users_high_value,
       COUNT(*) AS n_events
FROM events GROUP BY event_type
"""


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization, 5-minute gap (T5 homework spec,
    M4F/homework/homework.md:1-7) via gaps-and-islands (W1+W2)."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    prev = F.lag(us).over(w)
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(prev.isNull() | ((us - prev) > 300_000_000), 1)
        .otherwise(0)
        .alias("new_session"),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        utc_ts_str(F.min("ts")).alias("session_start"),
        F.count(F.lit(1)).alias("n_events"),
        (F.max(F.unix_micros(F.col("ts"))) - F.min(F.unix_micros(F.col("ts")))).alias(
            "duration_us"
        ),
    ).drop("session_id").select("user_id", "session_start", "n_events", "duration_us")


ORACLE_SESSIONS = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 300000000
              THEN 1 ELSE 0 END AS new_session
  FROM events WHERE user_id IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sessions AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       COUNT(*) AS n_events,
       (MAX(epoch_us(ts)) - MIN(epoch_us(ts)))::BIGINT AS duration_us
FROM sessions GROUP BY user_id, session_id
"""


def q_tumbling_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-minute window aggregation (T3 batch analog,
    M4F/src/job/aggregation_job.py:96-108)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("num_hits"))
        .select(
            utc_ts_str(F.col("w.start")).alias("window_start"),
            "event_type",
            "num_hits",
        )
    )


ORACLE_TUMBLING = """
SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M:%S')
         AS window_start,
       event_type,
       COUNT(*) AS num_hits
FROM events GROUP BY 1, 2
"""


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction (§2.8 map/JSON family,
    json_build_object inverse — get_json_object)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.withColumn("k_bucket", k % 10)
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )


ORACLE_JSON = """
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
       COUNT(*) AS n_events,
       ROUND(AVG(value), 6) AS avg_value
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# training-data pipeline: documents / embeddings
# ---------------------------------------------------------------------------

def q_doc_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content fingerprint (hash-groupBy; md5 chosen
    because it is identical across engines)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("fingerprint", doc_fingerprint(F.col("text")))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


ORACLE_DOC_EXACT = """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS keeper_doc_id
FROM documents GROUP BY 1
"""


def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + per-source stats (text-analysis layer):
    whitespace tokens AND the GPT-2-style BPE-ish pre-tokenizer count
    (functions.text.BPE_ISH_PATTERN — same regex runs in DuckDB's RE2,
    so the proxy is oracle-checked)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("tc", token_count(F.col("text")))
        .withColumn("bc", bpe_ish_token_count(F.col("text")))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tc").cast("long").alias("total_tokens"),
            F.sum("bc").cast("long").alias("total_bpe_tokens"),
            F.round(F.avg("tc"), 6).alias("avg_tokens"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
    )


ORACLE_DOC_TOKENS = """
WITH t AS (
  SELECT source, n_chars,
         length(list_filter(string_split_regex(lower(text), '\\s+'),
                            x -> x <> '')) AS tc,
         length(regexp_extract_all(text,
           '''(?:[sdmt]|ll|ve|re)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+'))
           AS bc
  FROM documents)
SELECT source, COUNT(*) AS n_docs,
       SUM(tc)::BIGINT AS total_tokens,
       SUM(bc)::BIGINT AS total_bpe_tokens,
       ROUND(AVG(tc), 6) AS avg_tokens,
       ROUND(AVG(n_chars), 6) AS avg_chars
FROM t GROUP BY source
"""


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality score (deterministic heuristic; see
    functions.text.quality_score)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score(F.col("text")).alias("quality"))


ORACLE_DOC_QUALITY = """
WITH base AS (
  SELECT doc_id,
         length(text)::DOUBLE AS n,
         length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::DOUBLE AS n_alpha,
         length(list_filter(string_split_regex(lower(text), '\\s+'),
                            x -> x <> ''))::DOUBLE AS tc
  FROM documents),
scored AS (
  SELECT doc_id,
         CASE WHEN n > 0 THEN n_alpha / n ELSE 0.0 END AS alpha_ratio,
         CASE WHEN tc > 0 THEN n / tc ELSE 0.0 END AS mean_tok,
         CASE WHEN n >= 50 AND n <= 20000 THEN 1.0 ELSE 0.5 END AS len_band
  FROM base)
SELECT doc_id,
       ROUND(alpha_ratio * 0.5 + len_band * 0.25 +
             (CASE WHEN mean_tok >= 3 AND mean_tok <= 12 THEN 1.0 ELSE 0.5 END) * 0.25,
             6) AS quality
FROM scored
"""


def q_doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID (n-gram heuristic family)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("lang_pred", lang_id_heuristic(F.col("text")))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _lang_oracle() -> str:
    hits, lang = lang_id_sql("\n         ")
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents),
hits AS (
  SELECT doc_id, {hits}
  FROM toks),
best AS (
  SELECT doc_id, h_en, h_es, h_fr, h_de,
         greatest(h_en, h_es, h_fr, h_de) AS best
  FROM hits)
SELECT {lang} AS lang_pred,
       COUNT(*) AS n_docs
FROM best GROUP BY 1
"""


ORACLE_DOC_LANG = _lang_oracle()


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, Jaccard >= 0.8.

    Banding 128 hashes as 16 bands of 8: near-dup pairs in this corpus
    sit at j>=0.92 (per-band hit 0.92^8=0.51 → miss (1-0.51)^16 ≈ 1e-5)
    while the ~0.2 background similarity collides a band only 0.2^8 ≈
    2.6e-6 of the time — candidate pairs stay ~O(true pairs), not
    O(n²)/100. (Shorter bands guarantee recall closer to the 0.8
    threshold but admit quadratically many candidates on a shared-
    vocabulary corpus, and the exact-Jaccard verify on the candidates
    then dominates the runtime ~50x.) The extra 64 hashes are cheap:
    signatures are one vectorized Arrow-batched numpy pass. The DuckDB
    oracle computes the exhaustive O(n²) pairwise Jaccard, which only
    works at test scale; banded LSH is the 100 TB path.
    """
    docs = _t(spark, sf_dir, "documents")
    return dedup_minhash_lsh(
        docs, num_hashes=128, bands=16, jaccard_threshold=0.8
    )


ORACLE_MINHASH = """
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(length(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) - 4, 1) + 1),
           i -> substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), i::INT, 5)))
           AS shingles
  FROM documents),
pairs AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         length(list_intersect(a.shingles, b.shingles))::DOUBLE AS inter,
         length(list_distinct(list_concat(a.shingles, b.shingles)))::DOUBLE AS uni
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
SELECT doc_id_a, doc_id_b, ROUND(inter / uni, 6) AS jaccard
FROM pairs WHERE inter / uni >= 0.8
"""


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, Hamming <= 3 over a 60-bit fingerprint.

    Fingerprint n-gram hashes are md5-derived (dedup.md5_hash60) so the
    DuckDB oracle recomputes the EXACT fingerprints and verifies the
    pair set by brute-force Hamming — the Spark side's pigeonhole chunk
    blocking (4x15-bit chunks) is exact for Hamming <= 3, so blocked
    and brute-force answers coincide and the oracle is a true gate.
    """
    docs = _t(spark, sf_dir, "documents")
    out = dedup_simhash(docs, max_hamming=3, hash_fn="md5")
    return out.withColumn("hamming", F.col("hamming").cast("long"))


ORACLE_SIMHASH = f"""
WITH {extra._SIMHASH_BITS},
fp AS (
{extra._SIMHASH_FP}
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       bit_count(xor(a.sh, b.sh))::BIGINT AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 3
"""


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the embedding column
    (exact ANN baseline; broadcast query side)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return cosine_topk_bruteforce(emb, queries, k=5, dim=64)


ORACLE_ANN = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
{ext._BRUTE_SCORED}
  FROM q, c WHERE query_id <> neighbor_id),
{ext._top_k_sql(5)}"""


def q_ann_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate cosine top-k.

    Hyperplanes are the md5-grid matrix (similarity.md5_planes), so the
    DuckDB oracle regenerates the identical planes, recomputes every
    bucket assignment, and replays candidate-union + exact re-rank —
    the approximate query is exactly falsifiable, not rows-only.
    """
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    return cosine_topk_lsh(emb, queries, dim=64, k=5, nbits=4, n_tables=16)


ORACLE_ANN_LSH = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
planes AS (
  SELECT pp.p AS p, dd.d AS d,
         CAST('0x' || substr(md5('lsh_' || pp.p || '_' || dd.d), 1, 8)
              AS BIGINT) / 2147483648.0 - 1.0 AS c
  FROM (SELECT unnest(range(64)) AS p) pp,
       (SELECT unnest(range(64)) AS d) dd),
proj AS (
  SELECT v.vec_id, pl.p, SUM(v.e[pl.d + 1] * pl.c) AS s
  FROM v, planes pl GROUP BY 1, 2),
sig AS (
  SELECT vec_id, p // 4 AS t,
         SUM(CASE WHEN s > 0 THEN 1 << (p % 4) ELSE 0 END) AS b
  FROM proj GROUP BY 1, 2),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM sig q JOIN sig c ON q.t = c.t AND q.b = c.b
  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id),
{ext._RERANK},
{ext._top_k_sql(5)}"""


# ---------------------------------------------------------------------------
# registry: one row per entry, with its query, its DuckDB oracle and its
# tags (words from TAGS). Everything that names entries reads this table:
# __spark_entry__, bench.py, the gate, the plan audit and the tests.
# ---------------------------------------------------------------------------

# The three 31-day replays are deliberately not headline: ~90% of their
# wall time is driver-side composition of 31 daily advances, so they
# would time Py4J/Catalyst overhead, not the engine.
TAGS = {
    "headline": "timed by a plain `python bench.py` run",
    "pinned": "always printed in bench.py's compact stdout line",
    "quadratic": "deliberately quadratic oracle, infeasible in DuckDB at sf0.1",
    "eager": "building the plan runs jobs, so plan audits skip the entry",
}


class Entry(NamedTuple):
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str
    tags: str = ""


GATE_CAP = 50  # the driver gates exactly this many leading entries

# The first GATE_CAP rows are the driver-gated prefix; tools/gate_check.py
# runs every row with the same oracles.
ENTRIES = [
    Entry("corpus_curation_pipeline", extra.q_corpus_curation,
          extra._corpus_curation_oracle(), "headline pinned quadratic"),
    Entry("streaming_dedup", ext.q_streaming_dedup,
          ext.ORACLE_STREAMING_DEDUP, "eager"),
    Entry("doc_dedup_exact", q_doc_dedup_exact, ORACLE_DOC_EXACT, "headline"),
    Entry("doc_lang_id", q_doc_lang_id, ORACLE_DOC_LANG),
    Entry("doc_decontaminate", extra.q_decontaminate,
          extra.ORACLE_DECONTAMINATE, "headline pinned"),
    Entry("pack_token_stream", extra.q_pack_token_stream,
          extra.ORACLE_PACK_TOKEN_STREAM, "headline"),
    Entry("doc_chunks", extra.q_doc_chunks, extra.ORACLE_DOC_CHUNKS, "headline"),
    Entry("table_profile", extra.q_table_profile, extra._profile_oracle()),
    Entry("udf_enrich_broadcast", extra.q_udf_enrich_broadcast,
          extra.ORACLE_UDF_ENRICH_BROADCAST),
    Entry("metadata_scan", write.q_metadata_scan,
          write.ORACLE_METADATA_SCAN, "headline pinned eager"),
    Entry("insert_select_rollup", write.q_insert_select_rollup,
          write.ORACLE_INSERT_SELECT, "eager"),
    Entry("longest_streak", ext.q_longest_streak,
          ext.ORACLE_LONGEST_STREAK, "headline"),
    Entry("union_order_tiers", q_union_order_tiers, ORACLE_UNION_TIERS),
    Entry("retention_curve", q_retention, ORACLE_RETENTION, "headline pinned"),
    Entry("exact_percentiles", extra.q_exact_percentiles,
          extra.ORACLE_EXACT_PERCENTILES, "headline pinned"),
    Entry("minhash_lsh_pairs", q_minhash_pairs,
          ORACLE_MINHASH, "headline pinned quadratic"),
    Entry("ann_cosine_ivf", ext.q_ann_cosine_ivf,
          ext.ORACLE_ANN_IVF, "headline pinned"),
    Entry("ann_cosine_lsh", q_ann_cosine_lsh, ORACLE_ANN_LSH, "headline pinned"),
    Entry("embedding_neardup", ext.q_embedding_neardup,
          ext.ORACLE_EMBEDDING_NEARDUP, "headline quadratic"),
    Entry("media_features", ext.q_media_features,
          ext.ORACLE_MEDIA_FEATURES, "headline"),
    Entry("media_frame_sample", ext.q_media_frame_sample, ext.ORACLE_MEDIA_FRAMES),
    Entry("hash_sample_split", extra.q_hash_sample_split,
          extra.ORACLE_HASH_SAMPLE_SPLIT, "headline"),
    Entry("stratified_sample", extra.q_stratified_sample,
          extra.ORACLE_STRATIFIED_SAMPLE, "headline"),
    Entry("bpe_train_merges", rank.q_bpe_train_merges,
          rank.ORACLE_BPE_TRAIN_MERGES, "headline pinned eager"),
    Entry("bpe_encode_corpus", rank.q_bpe_encode_corpus,
          rank.ORACLE_BPE_ENCODE_CORPUS, "headline pinned eager"),
    Entry("bm25_top_docs", rank.q_bm25_top_docs, rank.ORACLE_BM25_TOP_DOCS, "headline"),
    Entry("ann_pq_adc", rank.q_ann_pq_adc, rank.ORACLE_ANN_PQ_ADC, "headline pinned"),
    Entry("simhash_pairs", q_simhash_pairs,
          ORACLE_SIMHASH, "headline pinned quadratic"),
    Entry("skew_salted_agg", ext.q_skew_salted_agg,
          ext.ORACLE_SKEW_SALTED_AGG, "headline"),
    Entry("asof_latest_order", extra.q_asof_latest_order,
          extra.ORACLE_ASOF_LATEST_ORDER, "headline"),
    Entry("ngram_jaccard_pairs", ext.q_ngram_jaccard,
          ext.ORACLE_NGRAM_JACCARD, "headline pinned quadratic"),
    Entry("array_metrics", q_array_metrics, ORACLE_ARRAY_METRICS, "headline pinned"),
    Entry("fuzzy_customer_pairs", late.q_fuzzy_customer_pairs,
          late.ORACLE_FUZZY_CUSTOMER_PAIRS, "headline pinned"),
    Entry("interpolate_daily_revenue", late.q_interpolate_daily_revenue,
          late.ORACLE_INTERPOLATE_DAILY_REVENUE, "headline pinned"),
    Entry("hll_user_cardinality", late.q_hll_user_cardinality,
          late.ORACLE_HLL_USER_CARDINALITY, "headline"),
    Entry("session_concurrency_daily", late.q_session_concurrency_daily,
          late.ORACLE_SESSION_CONCURRENCY_DAILY, "headline pinned"),
    Entry("media_ahash_neardup", late.q_media_ahash_neardup,
          late.ORACLE_MEDIA_AHASH_NEARDUP, "headline pinned"),
    Entry("media_curation_pipeline", late.q_media_curation_pipeline,
          late.ORACLE_MEDIA_CURATION_PIPELINE, "headline pinned"),
    Entry("user_vertices", ext.q_user_vertices, ext.ORACLE_USER_VERTICES, "headline"),
    Entry("part_pair_edges", q_part_pair_edges, ORACLE_PART_PAIRS, "headline pinned"),
    Entry("media_real_decode", ext.q_media_real_decode,
          ext.ORACLE_MEDIA_REAL_DECODE, "headline"),
    Entry("skew_salted_join", ext.q_skew_salted_join, ext.ORACLE_SKEW_SALTED_JOIN),
    Entry("semantic_dedup", ext.q_semantic_dedup,
          ext.ORACLE_SEMANTIC_DEDUP, "headline pinned"),
    Entry("media_resize", ext.q_media_resize, ext.ORACLE_MEDIA_RESIZE, "headline"),
    Entry("training_export_rollup", write.q_training_export_rollup,
          write.ORACLE_TRAINING_EXPORT, "headline pinned eager"),
    Entry("doc_lang_id_learned", rank.q_doc_lang_id_learned,
          rank.ORACLE_DOC_LANG_ID, "headline pinned"),
    Entry("lang_id_confusion", rank.q_lang_id_confusion,
          rank.ORACLE_LANG_ID_CONFUSION, "headline pinned"),
    Entry("corpus_curation_pipeline_learned", extra.q_corpus_curation_learned,
          extra._corpus_curation_learned_oracle(), "headline pinned quadratic"),
    Entry("ivfpq_index_compact", rank.q_ivfpq_index_compact,
          rank.ORACLE_IVFPQ_INDEX_COMPACT, "headline pinned eager"),
    Entry("bpe_train_merges_batched", rank.q_bpe_train_merges_batched,
          rank.ORACLE_BPE_TRAIN_MERGES_BATCHED, "headline pinned eager"),
    Entry("training_export_tokenized", rank.q_training_export_tokenized,
          rank.ORACLE_TRAINING_EXPORT_TOKENIZED, "headline pinned eager"),
    Entry("doc_bigram_lm_score", mix.q_doc_bigram_lm_score,
          mix.ORACLE_DOC_BIGRAM_LM_SCORE, "headline pinned"),
    Entry("line_dedup_rebuild", late.q_line_dedup_rebuild,
          late.ORACLE_LINE_DEDUP_REBUILD, "headline"),
    Entry("kmv_set_ops", late.q_kmv_set_ops,
          late.ORACLE_KMV_SET_OPS, "headline pinned"),
    Entry("doc_winnow_fingerprint", ext.q_doc_winnow, ext._winnow_oracle(), "headline"),
    Entry("doc_pii_redact", extra.q_doc_pii_redact,
          extra.ORACLE_DOC_PII_REDACT, "headline"),
    Entry("neardup_clusters", extra.q_neardup_clusters,
          extra.ORACLE_NEARDUP_CLUSTERS, "headline pinned quadratic"),
    Entry("pivot_lang_counts", mix.q_pivot_lang_counts,
          mix.ORACLE_PIVOT_LANG_COUNTS, "headline"),
    Entry("streaming_neardup_admission", ext.q_streaming_neardup_admission,
          ext.ORACLE_STREAMING_NEARDUP_ADMISSION, "quadratic eager"),
    Entry("pagerank_parts", mix.q_pagerank_parts,
          mix.ORACLE_PAGERANK_PARTS, "headline pinned eager"),
    Entry("bloom_prune_stats", mix.q_bloom_prune_stats,
          mix.ORACLE_BLOOM_PRUNE_STATS, "headline pinned"),
    Entry("countmin_token_freq", mix.q_countmin_token_freq,
          mix.ORACLE_COUNTMIN_TOKEN_FREQ, "headline pinned"),
    Entry("distinct_sketch_users", mix.q_distinct_sketch_users,
          mix.ORACLE_DISTINCT_SKETCH_USERS, "headline"),
    Entry("streaming_countmin", mix.q_streaming_countmin,
          mix.ORACLE_STREAMING_COUNTMIN, "headline pinned eager"),
    Entry("region_revenue", q_region_revenue, ORACLE_REGION_REVENUE, "headline"),
    Entry("tumbling_hits", q_tumbling_hits, ORACLE_TUMBLING, "headline"),
    Entry("host_activity_reduced", ext.q_host_activity_reduced,
          ext.ORACLE_HOST_ACTIVITY, "headline pinned"),
    Entry("top_supplier_per_nation", q_top_supplier_per_nation,
          ORACLE_TOP_SUPPLIER, "headline"),
    Entry("embedding_neardup_allpairs", ext.q_embedding_neardup_allpairs,
          ext.ORACLE_EMBEDDING_NEARDUP_ALLPAIRS, "quadratic"),
    Entry("acctbal_tiers", q_acctbal_tiers, ORACLE_ACCTBAL),
    Entry("ann_cosine_topk", q_ann_cosine_topk, ORACLE_ANN, "headline pinned"),
    Entry("bulk_rename_summary", extra.q_bulk_rename_summary,
          extra.ORACLE_BULK_RENAME_SUMMARY),
    Entry("csv_roundtrip_rollup", write.q_csv_roundtrip_rollup,
          write.ORACLE_CSV_ROUNDTRIP, "eager"),
    Entry("dedup_keep_first", q_dedup_keep_first, ORACLE_DEDUP_KEEP_FIRST),
    Entry("distinct_users", q_distinct_users, ORACLE_DISTINCT_USERS),
    Entry("doc_quality", q_doc_quality, ORACLE_DOC_QUALITY, "headline"),
    Entry("doc_token_stats", q_doc_token_stats, ORACLE_DOC_TOKENS, "headline"),
    Entry("doc_winnow_neardup_pairs", ext.q_doc_winnow_pairs,
          ext._winnow_pairs_oracle(), "quadratic"),
    Entry("filter_by_top1", q_filter_by_top1, ORACLE_FILTER_TOP1),
    Entry("growth_accounting", q_growth_accounting, ORACLE_GROWTH, "headline"),
    Entry("json_props", q_json_props, ORACLE_JSON),
    Entry("part_type_tiers", q_part_type_tiers, ORACLE_PART_TIERS),
    Entry("sorted_layout_rollup", write.q_sorted_layout_rollup,
          write.ORACLE_SORTED_LAYOUT, "eager"),
    Entry("ann_ivfpq", rank.q_ann_ivfpq, rank.ORACLE_ANN_IVFPQ, "headline pinned"),
    Entry("hybrid_rrf_topk", rank.q_hybrid_rrf_topk,
          rank.ORACLE_HYBRID_RRF, "headline pinned"),
    Entry("bpe_train_merges_bytes", rank.q_bpe_train_merges_bytes,
          rank.ORACLE_BPE_TRAIN_MERGES_BYTES, "headline pinned"),
    Entry("streaming_bpe_encode", rank.q_streaming_bpe_encode,
          rank.ORACLE_STREAMING_BPE_ENCODE, "eager"),
    Entry("vocab_coverage_curve", rank.q_vocab_coverage_curve,
          rank.ORACLE_VOCAB_COVERAGE, "headline"),
    Entry("streaming_embedding_admission", rank.q_streaming_embedding_admission,
          rank.ORACLE_STREAMING_EMBEDDING_ADMISSION, "eager"),
    Entry("pipeline_replay_31d", late.q_pipeline_replay_31d,
          late.ORACLE_PIPELINE_REPLAY_31D, "eager"),
    Entry("rolling_time_revenue", mix.q_rolling_time_revenue,
          mix.ORACLE_ROLLING_TIME_REVENUE, "headline"),
    Entry("zscore_anomaly_days", late.q_zscore_anomaly_days,
          late.ORACLE_ZSCORE_ANOMALY_DAYS, "headline"),
    Entry("unpivot_region_metrics", mix.q_unpivot_region_metrics,
          mix.ORACLE_UNPIVOT_REGION_METRICS, "headline"),
    Entry("chunk_dedup_rebuild", mix.q_chunk_dedup_rebuild,
          mix.ORACLE_CHUNK_DEDUP_REBUILD, "headline"),
    Entry("corpus_mix_plan", mix.q_corpus_mix_plan,
          mix.ORACLE_CORPUS_MIX_PLAN, "headline"),
    Entry("quantile_band_filter", mix.q_quantile_band_filter,
          mix.ORACLE_QUANTILE_BAND_FILTER, "headline"),
    Entry("embedding_quantize_error", mix.q_embedding_quantize_error,
          mix.ORACLE_EMBEDDING_QUANTIZE_ERROR, "headline"),
    Entry("ann_q8_rerank", mix.q_ann_q8_rerank,
          mix.ORACLE_ANN_Q8_RERANK, "headline pinned"),
    Entry("bpe_merge_candidates", mix.q_bpe_merge_candidates,
          mix.ORACLE_BPE_MERGE_CANDIDATES, "headline"),
    Entry("dup_span_extract", mix.q_dup_span_extract,
          mix.ORACLE_DUP_SPAN_EXTRACT, "headline pinned"),
    Entry("dup_span_removal", mix.q_dup_span_removal,
          mix.ORACLE_DUP_SPAN_REMOVAL, "headline pinned"),
    Entry("datelist_int", q_datelist_int, ORACLE_DATELIST, "headline"),
    Entry("tfidf_top_terms", mix.q_tfidf_top_terms,
          mix.ORACLE_TFIDF_TOP_TERMS, "headline"),
    Entry("histogram_quantiles", mix.q_histogram_quantiles,
          mix.ORACLE_HISTOGRAM_QUANTILES, "headline"),
    Entry("hard_negative_mining", mix.q_hard_negative_mining,
          mix.ORACLE_HARD_NEGATIVE_MINING, "headline"),
    Entry("zorder_locality_stats", mix.q_zorder_locality_stats,
          mix.ORACLE_ZORDER_LOCALITY_STATS, "headline"),
    Entry("incremental_agg_merge", mix.q_incremental_agg_merge,
          mix.ORACLE_INCREMENTAL_AGG_MERGE, "headline"),
    Entry("last_touch_attribution", mix.q_last_touch_attribution,
          mix.ORACLE_LAST_TOUCH_ATTRIBUTION, "headline"),
    Entry("orc_roundtrip_rollup", write.q_orc_roundtrip_rollup,
          write.ORACLE_ORC_ROUNDTRIP, "headline eager"),
    Entry("top_event_paths", mix.q_top_event_paths,
          mix.ORACLE_TOP_EVENT_PATHS, "headline"),
    Entry("snapshot_cdc_diff", mix.q_snapshot_cdc_diff,
          mix.ORACLE_SNAPSHOT_CDC_DIFF, "headline"),
    Entry("compaction_rollup", write.q_compaction_rollup,
          write.ORACLE_COMPACTION, "headline pinned eager"),
    Entry("streaming_sliding_hits", ext.q_streaming_sliding,
          ext.ORACLE_STREAMING_SLIDING, "eager"),
    Entry("streaming_interval_join", mix.q_streaming_interval_join,
          mix.ORACLE_STREAMING_INTERVAL_JOIN, "eager"),
    Entry("streaming_upsert_sink", mix.q_streaming_upsert_sink,
          mix.ORACLE_STREAMING_UPSERT_SINK, "eager"),
    Entry("table_profile_approx", extra.q_table_profile_approx,
          extra._profile_approx_oracle(), "headline pinned"),
    Entry("percentiles_approx", extra.q_percentiles_approx,
          extra.ORACLE_PERCENTILES_APPROX, "headline pinned"),
    Entry("doc_priority_sample", extra.q_doc_priority_sample,
          extra.ORACLE_DOC_PRIORITY_SAMPLE, "headline"),
    Entry("scd_incremental", ext.q_scd_incremental,
          ext.ORACLE_SCD_INCREMENTAL, "headline pinned"),
    Entry("scd_replay_31d", late.q_scd_replay_31d, late.ORACLE_SCD_REPLAY_31D, "eager"),
    Entry("users_cumulated_replay_31d", late.q_users_cumulated_replay_31d,
          late.ORACLE_USERS_CUMULATED_REPLAY_31D, "eager"),
    Entry("pricing_summary", q_pricing_summary, ORACLE_PRICING, "headline"),
    Entry("customer_order_spine", q_customer_order_spine, ORACLE_SPINE, "headline"),
    Entry("top_customers", q_top_customers, ORACLE_TOP_CUSTOMERS, "headline"),
    Entry("grouping_sets", q_grouping_sets, ORACLE_GROUPING_SETS, "headline"),
    Entry("funnel_conversion", q_funnel, ORACLE_FUNNEL, "headline pinned"),
    Entry("scd_streaks", q_scd_streaks, ORACLE_SCD, "headline pinned"),
    Entry("users_cumulated", q_users_cumulated, ORACLE_USERS_CUMULATED),
    Entry("sessionization", q_sessionization, ORACLE_SESSIONS, "headline"),
    Entry("doc_ttr_repetition", extra.q_doc_ttr_repetition,
          extra.ORACLE_DOC_TTR_REPETITION),
    Entry("vocab_top_tokens", extra.q_vocab_top_tokens,
          extra.ORACLE_VOCAB_TOP_TOKENS, "headline"),
    Entry("neardup_clusters_star", extra.q_neardup_clusters_star,
          extra.ORACLE_NEARDUP_CLUSTERS_STAR, "quadratic"),
    Entry("ngram_jaccard_allpairs", ext.q_ngram_jaccard_allpairs,
          ext.ORACLE_NGRAM_JACCARD_ALLPAIRS, "quadratic"),
    Entry("rolling_revenue", q_rolling_revenue, ORACLE_ROLLING, "headline"),
    Entry("order_history", ext.q_order_history,
          ext.ORACLE_ORDER_HISTORY, "headline pinned"),
    Entry("best_stretch", ext.q_best_stretch, ext.ORACLE_BEST_STRETCH, "headline"),
    Entry("semi_anti_customers", ext.q_semi_anti_customers,
          ext.ORACLE_SEMI_ANTI, "headline"),
    Entry("merge_upsert", ext.q_merge_upsert, ext.ORACLE_MERGE_UPSERT, "headline"),
    Entry("bucketed_join_rollup", write.q_bucketed_join_rollup,
          write.ORACLE_BUCKETED_JOIN, "eager"),
    Entry("ann_ivfpq_fulltrain", rank.q_ann_ivfpq_fulltrain,
          rank.ORACLE_ANN_IVFPQ_FULLTRAIN, "headline pinned"),
    Entry("doc_quality_classifier", rank.q_doc_quality_classifier,
          rank.ORACLE_DOC_QUALITY_CLASSIFIER, "headline pinned"),
    Entry("classifier_pr_eval", rank.q_classifier_pr_eval,
          rank.ORACLE_CLASSIFIER_PR_EVAL, "headline pinned"),
    Entry("streaming_ivfpq_index", rank.q_streaming_ivfpq_index,
          rank.ORACLE_STREAMING_IVFPQ_INDEX, "headline pinned eager"),
    Entry("unigram_train_vocab", rank.q_unigram_train_vocab,
          rank.ORACLE_UNIGRAM_TRAIN_VOCAB, "headline pinned"),
    Entry("unigram_encode_corpus", rank.q_unigram_encode_corpus,
          rank.ORACLE_UNIGRAM_ENCODE_CORPUS, "headline pinned"),
    Entry("partitioned_prune_rollup", write.q_partitioned_prune_rollup,
          write.ORACLE_PARTITIONED_PRUNE, "eager"),
    Entry("streaming_tumbling_hits", ext.q_streaming_tumbling,
          ext.ORACLE_STREAMING_TUMBLING, "eager"),
    Entry("streaming_kafka_mirror", ext.q_streaming_kafka_mirror,
          ext.ORACLE_STREAMING_KAFKA_MIRROR, "eager"),
    Entry("streaming_session_windows", ext.q_streaming_sessions,
          ext.ORACLE_STREAMING_SESSIONS, "eager"),
    Entry("streaming_foreachbatch_sink", ext.q_streaming_foreachbatch,
          ext.ORACLE_STREAMING_FOREACHBATCH, "eager"),
    Entry("streaming_stateful_sessions", ext.q_streaming_stateful,
          ext.ORACLE_STREAMING_STATEFUL, "eager"),
]

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    e.name: e.fn for e in ENTRIES
}
ORACLES: dict[str, str] = {e.name: e.oracle for e in ENTRIES}
assert len(QUERIES) == len(ENTRIES), "duplicate entry names"
assert all(set(e.tags.split()) <= TAGS.keys() for e in ENTRIES), "unknown tag"


def tagged(tag: str) -> list[str]:
    """Names of the entries carrying `tag`, in table order."""
    if tag not in TAGS:
        raise ValueError(f"unknown tag {tag!r}; known: {sorted(TAGS)}")
    return [e.name for e in ENTRIES if tag in e.tags.split()]
