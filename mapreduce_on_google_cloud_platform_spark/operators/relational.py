"""Relational core: the declared query surface Spark provides "for free".

The reference has NO filters, joins, windows, sorts, or set ops
(SURVEY.md §2 "explicitly absent") -- its entire surface is one
tokenize+group pipeline.  Per SURVEY.md §7 M2 these operators are part of
the new engine's declared surface, each expressed as a declarative
DataFrame plan (Catalyst does pushdown/pruning/join-selection) with a
DuckDB oracle.

Scale posture, applied throughout:
* dimension tables (region/nation) joined with explicit ``F.broadcast`` --
  at any SF they are tiny, and a broadcast join removes the shuffle of the
  fact side entirely;
* fact-fact joins (orders x lineitem, customer x orders) are left to
  Catalyst's sort-merge + AQE (skew-split, partition coalescing);
* aggregates use map-side partial aggregation (automatic for groupBy.agg);
* every filter is a plain column predicate so it pushes into the parquet
  scan (verified via .explain in tests/test_plans.py);
* money math is DECIMAL(18,2)-exact (functions/portable.py) so parallel
  execution order can never change a result bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_prefix
from ..functions.portable import (
    DEC,
    SQL_CHARGE,
    SQL_REVENUE,
    charge_expr,
    dec,
    money_sum,
    revenue_expr,
    sql_money_sum,
)
from ..sources import load_table

# ---------------------------------------------------------------------------
# Q1: pricing summary (TPC-H Q1 shape): scan-filter-aggregate, 8 aggregates
# ---------------------------------------------------------------------------

Q1_CUTOFF = "1998-09-02"


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= Q1_CUTOFF)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum(dec("l_quantity")).alias("sum_qty"),
            money_sum(dec("l_extendedprice")).alias("sum_base_price"),
            money_sum(revenue_expr()).alias("sum_disc_price"),
            money_sum(charge_expr()).alias("sum_charge"),
            (F.sum(dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(dec("l_extendedprice")).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            (F.sum(dec("l_discount")).cast("double") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_ORACLE = f"""
    SELECT l_returnflag, l_linestatus,
           {sql_money_sum('l_quantity')} AS sum_qty,
           {sql_money_sum('l_extendedprice')} AS sum_base_price,
           CAST(sum({SQL_REVENUE}) AS DOUBLE) AS sum_disc_price,
           CAST(sum({SQL_CHARGE}) AS DOUBLE) AS sum_charge,
           {sql_money_sum('l_quantity')} / count(*) AS avg_qty,
           {sql_money_sum('l_extendedprice')} / count(*) AS avg_price,
           {sql_money_sum('l_discount')} / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '{Q1_CUTOFF}'
    GROUP BY l_returnflag, l_linestatus
"""

# ---------------------------------------------------------------------------
# Q3: shipping priority (customer x orders x lineitem, group, top-10)
# ---------------------------------------------------------------------------

Q3_SEGMENT = "BUILDING"
Q3_DATE = "1998-01-01"


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == Q3_SEGMENT
    )
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < Q3_DATE)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > Q3_DATE)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderpriority")
        .agg(money_sum(revenue_expr()).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


Q3_ORACLE = f"""
    SELECT l_orderkey, o_orderpriority,
           CAST(sum({SQL_REVENUE}) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = '{Q3_SEGMENT}'
      AND o_orderdate < TIMESTAMP '{Q3_DATE}'
      AND l_shipdate  > TIMESTAMP '{Q3_DATE}'
    GROUP BY l_orderkey, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
"""

# ---------------------------------------------------------------------------
# Q5: regional supplier revenue (6-way join incl. broadcast dims)
# ---------------------------------------------------------------------------

Q5_REGION = "ASIA"


def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == Q5_REGION)
    nation = load_table(spark, sf_dir, "nation")
    # region/nation are O(10) rows at every SF: broadcast, no shuffle.
    nations = F.broadcast(
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(nations, F.col("s_nationkey") == nations.n_nationkey)
        .groupBy("n_name")
        .agg(money_sum(revenue_expr()).alias("revenue"))
    )


Q5_ORACLE = f"""
    SELECT n_name, CAST(sum({SQL_REVENUE}) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = '{Q5_REGION}' AND c_nationkey = s_nationkey
    GROUP BY n_name
"""

# ---------------------------------------------------------------------------
# Window functions
# ---------------------------------------------------------------------------


def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by total price (rank window, deterministic
    tiebreak on o_orderkey)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", F.col("rn").cast("int").alias("rn"))
    )


TOP_ORDERS_ORACLE = """
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders
    )
    WHERE rn <= 3
"""


def running_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative spend per customer in order-date order (running-sum window,
    decimal-exact frame so parallelism can't perturb the double)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(dec("o_totalprice")).over(w).cast("double").alias("running_spend"),
        F.lag("o_totalprice").over(
            Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        ).alias("prev_price"),
    )


RUNNING_SPEND_ORACLE = """
    SELECT o_custkey, o_orderkey,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS running_spend,
           lag(o_totalprice) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS prev_price
    FROM orders
"""

# ---------------------------------------------------------------------------
# Aggregation variants
# ---------------------------------------------------------------------------


def customer_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order stats joined back to broadcast nation dim."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    stats = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money_sum(dec("o_totalprice")).alias("total_spend"),
        F.min("o_totalprice").alias("min_order"),
        F.max("o_totalprice").alias("max_order"),
    )
    return (
        stats.join(customer, stats.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select("c_custkey", "c_name", "n_name", "n_orders", "total_spend", "min_order", "max_order")
    )


CUSTOMER_STATS_ORACLE = """
    SELECT c_custkey, c_name, n_name, n_orders, total_spend, min_order, max_order
    FROM (
        SELECT o_custkey,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
               min(o_totalprice) AS min_order,
               max(o_totalprice) AS max_order
        FROM orders GROUP BY o_custkey
    ) s
    JOIN customer ON s.o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
"""


def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery pattern: orders pricier than their customer's
    average, decorrelated into an aggregate + self-join (what Catalyst's
    RewriteCorrelatedScalarSubquery produces anyway)."""
    orders = load_table(spark, sf_dir, "orders")
    avgs = orders.groupBy("o_custkey").agg(
        (F.sum(dec("o_totalprice")).cast("double") / F.count(F.lit(1))).alias("avg_price")
    )
    o2 = load_table(spark, sf_dir, "orders")
    return (
        o2.join(avgs, "o_custkey")
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "avg_price")
    )


ABOVE_AVG_ORACLE = """
    SELECT o_orderkey, o_custkey, o_totalprice, avg_price
    FROM orders
    JOIN (
        SELECT o_custkey AS k,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)/count(*) AS avg_price
        FROM orders GROUP BY o_custkey
    ) a ON o_custkey = a.k
    WHERE o_totalprice > avg_price
"""


def supplier_part_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) per group (expands to a two-level aggregate --
    partial distinct on the mappers, the reference shuffles raw rows)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.count(F.lit(1)).alias("n_lines"),
    )


SUPPLIER_DISTINCT_ORACLE = """
    SELECT l_suppkey,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_orderkey) AS n_orders,
           count(*) AS n_lines
    FROM lineitem GROUP BY l_suppkey
"""


def rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(returnflag, linestatus) with grand total; rollup nulls are
    surfaced as 'ALL' so the result has no engine-specific null encoding."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            money_sum(revenue_expr()).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "revenue",
            "n_lines",
        )
    )


ROLLUP_ORACLE = f"""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(sum({SQL_REVENUE}) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""

# ---------------------------------------------------------------------------
# Semi / anti joins, set operations
# ---------------------------------------------------------------------------


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: customers who never placed an urgent order (the testdata
    gives every customer at least one order, so the unfiltered variant would
    be a trivially-empty check)."""
    customer = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return customer.join(
        urgent, customer.c_custkey == urgent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


NO_ORDERS_ORACLE = """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
"""

HIGH_VALUE_CUT = 400_000.0


def high_value_customers_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > HIGH_VALUE_CUT
    )
    return customer.join(
        big, customer.c_custkey == big.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_acctbal")


HIGH_VALUE_ORACLE = f"""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > {HIGH_VALUE_CUT})
"""


def segment_priority_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION over customer-key sets: BUILDING-segment
    customers vs customers with an urgent order, tagged by membership."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    building = customer.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    urgent = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    both = building.intersect(urgent).withColumn("membership", F.lit("both"))
    b_only = building.exceptAll(urgent).distinct().withColumn(
        "membership", F.lit("building_only")
    )
    u_only = urgent.exceptAll(building).withColumn(
        "membership", F.lit("urgent_only")
    )
    return both.unionByName(b_only).unionByName(u_only)


SETOPS_ORACLE = """
    WITH building AS (
        SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ), urgent AS (
        SELECT DISTINCT o_custkey AS custkey FROM orders
        WHERE o_orderpriority = '1-URGENT'
    )
    SELECT custkey, 'both' AS membership FROM (
        SELECT custkey FROM building INTERSECT SELECT custkey FROM urgent)
    UNION ALL
    SELECT custkey, 'building_only' AS membership FROM (
        SELECT custkey FROM building EXCEPT SELECT custkey FROM urgent)
    UNION ALL
    SELECT custkey, 'urgent_only' AS membership FROM (
        SELECT custkey FROM urgent EXCEPT SELECT custkey FROM building)
"""

# ---------------------------------------------------------------------------
# Scalar function suites
# ---------------------------------------------------------------------------


def part_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/math scalar library over part -- all JVM-side built-ins (no
    Python in the row path), every expression portable to DuckDB."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").cast("int").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.regexp_extract("p_brand", "([0-9]+)", 1).cast("int").alias("brand_num"),
        F.reverse(F.col("p_name")).alias("name_rev"),
        (F.col("p_size") % 7).cast("int").alias("size_mod7"),
        (F.col("p_size") * F.col("p_size")).cast("bigint").alias("size_sq"),
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("retail_cents"),
        F.floor(F.col("p_retailprice") / 100).cast("bigint").alias("price_bucket"),
        F.when(F.col("p_size") > 25, "large")
        .when(F.col("p_size") > 10, "medium")
        .otherwise("small")
        .alias("size_class"),
    )


PART_SCALAR_ORACLE = """
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           CAST(length(p_name) AS INTEGER) AS name_len,
           substring(p_name, 1, 5) AS name_prefix,
           concat_ws('|', p_brand, p_type) AS brand_type,
           CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS INTEGER) AS brand_num,
           reverse(p_name) AS name_rev,
           CAST(p_size % 7 AS INTEGER) AS size_mod7,
           CAST(p_size * p_size AS BIGINT) AS size_sq,
           CAST(round(p_retailprice * 100) AS BIGINT) AS retail_cents,
           CAST(floor(p_retailprice / 100) AS BIGINT) AS price_bucket,
           CASE WHEN p_size > 25 THEN 'large'
                WHEN p_size > 10 THEN 'medium'
                ELSE 'small' END AS size_class
    FROM part
"""


def orders_date_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar + aggregate suite: month buckets, extracts, datediff."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.year("o_orderdate").cast("int").alias("yr"),
            F.month("o_orderdate").cast("int").alias("mo"),
            F.quarter("o_orderdate").cast("int").alias("qtr"),
            F.dayofweek("o_orderdate").cast("int").alias("dow"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
            dec("o_totalprice").alias("price_dec"),
        )
        .groupBy("yr", "mo")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price_dec").cast("double").alias("revenue"),
            F.min("order_day").alias("first_day"),
            F.countDistinct("qtr").alias("n_quarters"),
        )
    )


ORDERS_DATE_ORACLE = """
    SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(month(o_orderdate) AS INTEGER) AS mo,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           min(strftime(o_orderdate, '%Y-%m-%d')) AS first_day,
           count(DISTINCT CAST(quarter(o_orderdate) AS INTEGER)) AS n_quarters
    FROM orders
    GROUP BY 1, 2
"""

# ---------------------------------------------------------------------------
# Semi-structured: JSON props on events; pivot
# ---------------------------------------------------------------------------


def events_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction (get_json_object) + aggregate per event type."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"), dec("value").alias("v"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.sum("v").cast("double").alias("sum_value"),
        )
    )


EVENTS_JSON_ORACLE = """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY event_type
"""

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event counts per user into one column per event type."""
    ev = load_table(spark, sf_dir, "events")
    pivoted = (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in EVENT_TYPES],
    )


PIVOT_ORACLE = """
    SELECT user_id,
           count(*) FILTER (event_type = 'click')    AS n_click,
           count(*) FILTER (event_type = 'error')    AS n_error,
           count(*) FILTER (event_type = 'purchase') AS n_purchase,
           count(*) FILTER (event_type = 'signup')   AS n_signup,
           count(*) FILTER (event_type = 'view')     AS n_view
    FROM events
    GROUP BY user_id
"""

# ---------------------------------------------------------------------------
# Global sort / top-k
# ---------------------------------------------------------------------------


def global_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 orders by price (TakeOrderedAndProject: per-partition
    top-k then a single k-row merge on the driver -- no global sort)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    )


GLOBAL_TOPK_ORACLE = """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
"""


def cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(priority, status): all four grouping combinations in one pass
    (Spark expands grouping sets map-side; one shuffle for all strata).
    Nulls surfaced as 'ALL', as in rollup_sales."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderpriority", "o_orderstatus")
        .agg(
            money_sum(dec("o_totalprice")).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            "revenue",
            "n_orders",
        )
    )


CUBE_ORACLE = """
    SELECT coalesce(o_orderpriority, 'ALL') AS priority,
           coalesce(o_orderstatus, 'ALL') AS status,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           count(*) AS n_orders
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""


def window_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ranking/distribution window family in one declared query:
    rank, dense_rank, ntile, percent_rank, cume_dist, lag, lead per
    customer ordered by (o_orderdate, o_orderkey) -- the key tiebreak
    makes every function deterministic (a date-only order would make
    lag/lead depend on shuffle arrival order).  One shuffle + one sort,
    all seven functions evaluated in a single Window operator."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("prank"),
        F.cume_dist().over(w).alias("cdist"),
        F.lag("o_orderkey", 1).over(w).alias("prev_key"),
        F.lead("o_orderkey", 1).over(w).alias("next_key"),
    )


WINDOW_SUITE_ORACLE = """
    SELECT o_custkey, o_orderkey,
           CAST(rank() OVER w AS INTEGER) AS rnk,
           CAST(dense_rank() OVER w AS INTEGER) AS drnk,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           percent_rank() OVER w AS prank,
           cume_dist() OVER w AS cdist,
           lag(o_orderkey, 1) OVER w AS prev_key,
           lead(o_orderkey, 1) OVER w AS next_key
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
"""


# ---------------------------------------------------------------------------
# TPC-H-shaped additions: Q4 / Q13 / Q18 patterns, grouping sets
# ---------------------------------------------------------------------------

Q4_LATE_DAYS = 60


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders having >=1 lineitem shipped more than
    {Q4_LATE_DAYS} days after the order date, counted by priority.  The
    EXISTS becomes a left-semi join with a compound (equi + inequality)
    condition: the equi-key keeps it a hash/sort-merge semi join, the
    date inequality rides along as the join residual, and each order is
    counted once no matter how many late lines it has."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (
            li.l_shipdate
            > orders.o_orderdate + F.expr(f"INTERVAL {Q4_LATE_DAYS} DAYS")
        ),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders")
    )


Q4_ORACLE = f"""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL {Q4_LATE_DAYS} DAY
    )
    GROUP BY o_orderpriority
"""


def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: histogram of customers by order count, INCLUDING
    zero-order customers — the left outer join is the point (an inner
    join silently drops the zero bucket).  Two aggregations, both
    map-side partial; the second one's input is customer-sized."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    counts = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return counts.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


Q13_ORACLE = """
    SELECT n_orders, count(*) AS n_customers
    FROM (
        SELECT c_custkey, count(o_orderkey) AS n_orders
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey
    )
    GROUP BY n_orders
"""

Q18_MIN_QTY = 300.0


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total lineitem quantity exceeds
    {Q18_MIN_QTY}, joined back to orders + customer.  The HAVING filter
    runs on the aggregate BEFORE the joins, so only the few qualifying
    orderkeys (p99 of sum_qty is ~262 on this data) reach the join — at
    100 TB the qualifying set is broadcast-sized under AQE."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(money_sum(dec("l_quantity")).alias("sum_qty"))
        .filter(F.col("sum_qty") > Q18_MIN_QTY)
    )
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "sum_qty",
        )
    )


Q18_ORACLE = f"""
    SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
    FROM (
        SELECT l_orderkey, {sql_money_sum('l_quantity')} AS sum_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING {sql_money_sum('l_quantity')} > {Q18_MIN_QTY}
    ) big
    JOIN orders   ON big.l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
"""


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between distinct nation pairs per
    year.  Two independent broadcast joins against the tiny nation dim
    (one through supplier, one through customer) ride the single
    fact-fact sort-merge spine; the cross-nation inequality is a cheap
    post-join residual, never a join key."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n_supp = F.broadcast(
        nation.select(
            F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
        )
    )
    n_cust = F.broadcast(
        nation.select(
            F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
        )
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(n_supp, F.col("s_nationkey") == F.col("sn_key"))
        .join(n_cust, F.col("c_nationkey") == F.col("cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(money_sum(revenue_expr()).alias("volume"))
    )


Q7_ORACLE = f"""
    SELECT sn.n_name AS supp_nation,
           cn.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INTEGER) AS l_year,
           CAST(sum({SQL_REVENUE}) AS DOUBLE) AS volume
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE sn.n_name <> cn.n_name
    GROUP BY 1, 2, 3
"""


def grouping_sets_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS ((flag, status), (status), ()) — a set rollup/cube
    cannot express (it has no (status)-only stratum without the (flag)
    one).  Declared through the engine's SQL entry point: the same
    Catalyst plan as the DataFrame API, one expand + one shuffle for all
    three strata."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("gs_lineitem")
    return spark.sql(
        f"""
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               CAST(sum({SQL_REVENUE}) AS DOUBLE) AS revenue,
               count(*) AS n_lines
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        """
    )


GROUPING_SETS_ORACLE = f"""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(sum({SQL_REVENUE}) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
"""


# ---------------------------------------------------------------------------
# Cohort retention (self-derived dimension + two-level aggregation)
# ---------------------------------------------------------------------------


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort analysis: customers grouped by first-order month,
    then order activity counted per (cohort_month, order_month).  The
    cohort dimension is derived from the fact itself with one min()
    aggregate (customer-sized, AQE-broadcastable back onto the fact);
    months ride as 'yyyy-MM' strings so the grouping key is
    engine-portable."""
    orders = load_table(spark, sf_dir, "orders")
    month = F.date_format("o_orderdate", "yyyy-MM")
    firsts = orders.groupBy("o_custkey").agg(
        F.min(month).alias("cohort_month")
    )
    return (
        orders.join(firsts, "o_custkey")
        .groupBy("cohort_month", month.alias("order_month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_active_customers"),
        )
    )


COHORT_ORACLE = """
    WITH firsts AS (
        SELECT o_custkey, min(strftime(o_orderdate, '%Y-%m')) AS cohort_month
        FROM orders GROUP BY o_custkey
    )
    SELECT cohort_month,
           strftime(o_orderdate, '%Y-%m') AS order_month,
           count(*) AS n_orders,
           count(DISTINCT o_custkey) AS n_active_customers
    FROM orders JOIN firsts USING (o_custkey)
    GROUP BY 1, 2
"""

FUNNEL_WINDOW_MIN = 60


def event_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence funnel: per day, how many views converted to a purchase
    by the same user within {FUNNEL_WINDOW_MIN} minutes.  The
    view->purchase match is the as-of MERGE formulation in reverse
    (union both streams, one window per user carrying the NEXT purchase
    time backward) — one shuffle, zero join nodes, so the funnel scales
    like a sort, not like a views x purchases join.  Conversion ratio is
    a single double division of two exact counts."""
    events = load_table(spark, sf_dir, "events")
    views = events.filter(F.col("event_type") == "view").select(
        "user_id",
        "ts",
        F.lit(1).alias("is_view"),
        F.lit(None).cast("timestamp").alias("p_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(0).alias("is_view"),
        F.col("ts").alias("p_ts"),
    )
    # purchases order BEFORE views at equal ts (is_view asc) => a purchase
    # at the exact view timestamp counts as a conversion (<= bound).
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_view")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    merged = views.unionByName(purchases).select(
        "*", F.first("p_ts", ignorenulls=True).over(w).alias("next_purchase_ts")
    )
    per_view = merged.filter(F.col("is_view") == 1).select(
        F.to_date("ts").alias("day"),
        (
            F.col("next_purchase_ts").isNotNull()
            & (
                F.unix_micros("next_purchase_ts") - F.unix_micros("ts")
                <= FUNNEL_WINDOW_MIN * 60 * 1_000_000
            )
        ).cast("int").alias("converted"),
    )
    return per_view.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_views"),
        F.sum("converted").cast("bigint").alias("n_converted"),
        (F.sum("converted").cast("double") / F.count(F.lit(1))).alias(
            "conversion_rate"
        ),
    )


FUNNEL_ORACLE = f"""
    WITH v AS (
        SELECT user_id, ts FROM events WHERE event_type = 'view'
    ),
    p AS (
        SELECT user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    per_view AS (
        SELECT CAST(v.ts AS DATE) AS day,
               CASE WHEN EXISTS (
                   SELECT 1 FROM p
                   WHERE p.user_id = v.user_id
                     AND p.ts >= v.ts
                     AND epoch_us(p.ts) - epoch_us(v.ts)
                         <= {FUNNEL_WINDOW_MIN * 60 * 1_000_000}
               ) THEN 1 ELSE 0 END AS converted
        FROM v
    )
    SELECT day,
           count(*) AS n_views,
           CAST(sum(converted) AS BIGINT) AS n_converted,
           CAST(sum(converted) AS DOUBLE) / count(*) AS conversion_rate
    FROM per_view
    GROUP BY day
"""


# ---------------------------------------------------------------------------
# Q6: forecast revenue change (TPC-H Q6 shape): pure scan-filter-aggregate.
# Every predicate is a plain column comparison, so all four push into the
# parquet scan; no shuffle at all (single-stage partial+final agg).
# ---------------------------------------------------------------------------

Q6_START = "1996-01-01"
Q6_END = "1997-01-01"


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= Q6_START)
            & (F.col("l_shipdate") < Q6_END)
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            money_sum(dec("l_extendedprice") * dec("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q6_ORACLE = f"""
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '{Q6_START}'
      AND l_shipdate <  TIMESTAMP '{Q6_END}'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
"""

# ---------------------------------------------------------------------------
# Q10: returned-item reporting (TPC-H Q10 shape): customer x orders x
# lineitem fact joins + broadcast nation dim, top-20 by lost revenue.
# ---------------------------------------------------------------------------

Q10_START = "1996-01-01"
Q10_END = "1996-07-01"


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= Q10_START) & (F.col("o_orderdate") < Q10_END)
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(money_sum(revenue_expr()).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


Q10_ORACLE = f"""
    SELECT c_custkey, c_name, c_acctbal, n_name,
           CAST(sum({SQL_REVENUE}) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '{Q10_START}'
      AND o_orderdate <  TIMESTAMP '{Q10_END}'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
"""

# ---------------------------------------------------------------------------
# Q12: shipping-delay distribution (TPC-H Q12 shape, adapted: the testdata
# lineitem has no shipmode/commitdate, so the bucketing predicate is the
# ship-vs-order-date lag).  Conditional aggregation over an equi-join;
# datediff is exact integer day arithmetic in both engines.
# ---------------------------------------------------------------------------

Q12_LAG_DAYS = 60


def q12_shipping_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lag = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(lag > Q12_LAG_DAYS, 1).otherwise(0)).alias("late_lines"),
            F.sum(F.when(lag <= Q12_LAG_DAYS, 1).otherwise(0)).alias("prompt_lines"),
            F.max(lag).alias("max_lag_days"),
        )
        .orderBy("o_orderpriority")
    )


Q12_ORACLE = f"""
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN datediff('day', o_orderdate, l_shipdate)
                              > {Q12_LAG_DAYS} THEN 1 ELSE 0 END) AS BIGINT)
               AS late_lines,
           CAST(sum(CASE WHEN datediff('day', o_orderdate, l_shipdate)
                              <= {Q12_LAG_DAYS} THEN 1 ELSE 0 END) AS BIGINT)
               AS prompt_lines,
           CAST(max(datediff('day', o_orderdate, l_shipdate)) AS INTEGER)
               AS max_lag_days
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""

# ---------------------------------------------------------------------------
# Q14: promo revenue share (TPC-H Q14 shape): conditional aggregate ratio
# over a part x lineitem join.  Both sums are decimal-exact; the single
# final double division is the only inexact step, identical in both engines.
# ---------------------------------------------------------------------------

Q14_START = "1996-06-01"
Q14_END = "1996-09-01"


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= Q14_START) & (F.col("l_shipdate") < Q14_END)
    )
    part = load_table(spark, sf_dir, "part")
    promo = F.when(F.col("p_type") == "PROMO", revenue_expr()).otherwise(
        F.lit(0).cast(DEC)
    )
    joined = li.join(part, li.l_partkey == part.p_partkey)
    return joined.agg(
        (
            F.lit(100.0)
            * F.sum(promo).cast("double")
            / F.sum(revenue_expr()).cast("double")
        ).alias("promo_revenue_pct"),
        money_sum(revenue_expr()).alias("total_revenue"),
    )


Q14_ORACLE = f"""
    SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN {SQL_REVENUE}
                                 ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                 / CAST(sum({SQL_REVENUE}) AS DOUBLE) AS promo_revenue_pct,
           CAST(sum({SQL_REVENUE}) AS DOUBLE) AS total_revenue
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '{Q14_START}'
      AND l_shipdate <  TIMESTAMP '{Q14_END}'
"""

# ---------------------------------------------------------------------------
# Q17: small-quantity-order revenue (TPC-H Q17 shape): correlated subquery
# "quantity < 0.2 * avg(quantity) per part" decorrelated into a per-part
# aggregate joined back to lineitem.  The threshold comparison is kept
# EXACT by clearing denominators: qty < sum/(5*cnt)  <=>  qty100*5*cnt <
# sum100 in integer arithmetic (quantities are 2-decimal), so no float
# boundary can flip a row between engines.
# ---------------------------------------------------------------------------

Q17_BRAND = "Brand#13"


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == Q17_BRAND)
    li = load_table(spark, sf_dir, "lineitem")
    qty100 = (dec("l_quantity") * 100).cast("bigint")
    li_parts = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice", qty100.alias("qty100")
    )
    per_part = li_parts.groupBy("l_partkey").agg(
        F.sum("qty100").alias("sum_qty100"), F.count(F.lit(1)).alias("cnt")
    )
    return (
        li_parts.join(per_part, "l_partkey")
        .filter(F.col("qty100") * 5 * F.col("cnt") < F.col("sum_qty100"))
        .agg(
            (F.sum(dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_small_lines"),
        )
    )


Q17_ORACLE = f"""
    WITH li_parts AS (
        SELECT l_partkey, l_extendedprice,
               CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS qty100
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand = '{Q17_BRAND}'
    ),
    per_part AS (
        SELECT l_partkey, CAST(sum(qty100) AS BIGINT) AS sum_qty100,
               count(*) AS cnt
        FROM li_parts GROUP BY l_partkey
    )
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
               AS avg_yearly,
           count(*) AS n_small_lines
    FROM li_parts JOIN per_part USING (l_partkey)
    WHERE qty100 * 5 * cnt < sum_qty100
"""

# ---------------------------------------------------------------------------
# Q19: disjunctive predicate revenue (TPC-H Q19 shape): an OR of three
# brand/size/quantity conjunctions over a part x lineitem join.  Catalyst
# extracts the common sub-predicates for pushdown (CNF conversion) and the
# join stays an equi-join with the disjunction as a residual filter.
# ---------------------------------------------------------------------------


def _q19_branch(brand: str, size_hi: int, qty_lo: int, qty_hi: int):
    return (
        (F.col("p_brand") == brand)
        & (F.col("p_size") >= 1)
        & (F.col("p_size") <= size_hi)
        & (F.col("l_quantity") >= qty_lo)
        & (F.col("l_quantity") <= qty_hi)
    )


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(
            _q19_branch("Brand#1", 10, 1, 20)
            | _q19_branch("Brand#2", 20, 5, 30)
            | _q19_branch("Brand#13", 30, 10, 40)
        )
        .agg(
            money_sum(revenue_expr()).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q19_ORACLE = f"""
    SELECT CAST(sum({SQL_REVENUE}) AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1'  AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2'  AND p_size BETWEEN 1 AND 20
           AND l_quantity BETWEEN 5 AND 30)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 30
           AND l_quantity BETWEEN 10 AND 40)
"""


# ---------------------------------------------------------------------------
# Relational division ("for all"): customers with at least one order in
# EVERY year of the window -- the classic universally-quantified pattern,
# decorrelated to countDistinct(year) == |years| (one aggregate, no
# nested NOT EXISTS pair).
# ---------------------------------------------------------------------------

DIVISION_START_YEAR = 1996
DIVISION_END_YEAR = 2000
_DIVISION_N_YEARS = DIVISION_END_YEAR - DIVISION_START_YEAR + 1


def loyal_customers_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    yr = F.year("o_orderdate")
    per = (
        orders.filter(
            (yr >= DIVISION_START_YEAR) & (yr <= DIVISION_END_YEAR)
        )
        .groupBy("o_custkey")
        .agg(
            F.countDistinct(yr).alias("n_years"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .filter(F.col("n_years") == _DIVISION_N_YEARS)
    )
    return (
        per.join(cust, per.o_custkey == cust.c_custkey)
        .select(
            F.col("c_custkey").alias("custkey"), "c_mktsegment", "n_orders"
        )
        .orderBy("custkey")
    )


DIVISION_ORACLE = f"""
    SELECT o_custkey AS custkey, c_mktsegment, n_orders
    FROM (
        SELECT o_custkey,
               count(DISTINCT extract(year FROM o_orderdate)) AS n_years,
               count(*) AS n_orders
        FROM orders
        WHERE extract(year FROM o_orderdate)
              BETWEEN {DIVISION_START_YEAR} AND {DIVISION_END_YEAR}
        GROUP BY o_custkey
    )
    JOIN customer ON o_custkey = c_custkey
    WHERE n_years = {_DIVISION_N_YEARS}
    ORDER BY custkey
"""

# ---------------------------------------------------------------------------
# Time-RANGE window frame: trailing 1-hour rolling aggregates per user --
# the frame is defined by the ORDER-BY VALUE (epoch seconds), not row
# offsets, so rows with sparse/bursty timestamps aggregate correctly.
# Complements the rowsBetween frames in window_function_suite.  One
# shuffle on user_id; frame state is bounded by the hour, not history.
# ---------------------------------------------------------------------------

ROLLING_WINDOW_SEC = 3600


def rolling_1h_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ts_sec = (F.unix_micros("ts") / 1_000_000).cast("bigint")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_sec")
        .rangeBetween(-(ROLLING_WINDOW_SEC - 1), 0)
    )
    return (
        ev.withColumn("ts_sec", ts_sec)
        .select(
            "event_id",
            "user_id",
            "ts_sec",
            F.count(F.lit(1)).over(w).alias("n_events_1h"),
            F.sum(dec("value")).over(w).cast("double").alias("sum_value_1h"),
        )
        .orderBy("event_id")
    )


ROLLING_ORACLE = f"""
    SELECT event_id, user_id,
           CAST(epoch_us(ts) // 1000000 AS BIGINT) AS ts_sec,
           count(*) OVER w AS n_events_1h,
           CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
               AS sum_value_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY CAST(epoch_us(ts) // 1000000 AS BIGINT)
                 RANGE BETWEEN {ROLLING_WINDOW_SEC - 1} PRECEDING
                           AND CURRENT ROW)
    ORDER BY event_id
"""

# ---------------------------------------------------------------------------
# UNPIVOT: melt the per-user event-count matrix back to long form -- the
# inverse of event_type_pivot, via the native unpivot operator (a Generate
# node, no shuffle: purely row-local expansion).
# ---------------------------------------------------------------------------


def unpivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    pivoted = event_type_pivot(spark, sf_dir)
    return pivoted.unpivot(
        ["user_id"],
        [f"n_{t}" for t in EVENT_TYPES],
        "event_type",
        "n_events",
    )


UNPIVOT_ORACLE = f"""
    WITH p AS ({PIVOT_ORACLE})
    SELECT user_id, event_type, n_events
    FROM (UNPIVOT p ON {", ".join(f"n_{t}" for t in EVENT_TYPES)}
          INTO NAME event_type VALUE n_events)
"""

# ---------------------------------------------------------------------------
# Q2: min-cost supplier per part (TPC-H Q2 shape, adapted: the testdata has
# no partsupp, so "cost" is each supplier's total lineitem revenue for the
# part).  Per-group min decorrelated as a window min over the EXACT decimal
# aggregate, then equality-selected -- ties keep all qualifying suppliers,
# which is deterministic, unlike an arbitrary first-row pick.
# ---------------------------------------------------------------------------

Q2_SIZE_LIMIT = 10


def q2_min_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") < Q2_SIZE_LIMIT)
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    per = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(revenue_expr()).alias("rev_dec"))
    )
    w = Window.partitionBy("l_partkey")
    return (
        per.withColumn("min_rev", F.min("rev_dec").over(w))
        .filter(F.col("rev_dec") == F.col("min_rev"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("l_suppkey").alias("s_suppkey"),
            "s_name",
            F.col("rev_dec").cast("double").alias("supplier_revenue"),
        )
    )


Q2_ORACLE = f"""
    WITH per AS (
        SELECT l_partkey, l_suppkey, sum({SQL_REVENUE}) AS rev
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_size < {Q2_SIZE_LIMIT}
        GROUP BY l_partkey, l_suppkey
    ),
    m AS (SELECT l_partkey, min(rev) AS min_rev FROM per GROUP BY l_partkey)
    SELECT per.l_partkey AS p_partkey, l_suppkey AS s_suppkey, s_name,
           CAST(rev AS DOUBLE) AS supplier_revenue
    FROM per
    JOIN m USING (l_partkey)
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE rev = min_rev
"""

# ---------------------------------------------------------------------------
# Q8: national market share (TPC-H Q8 shape): one nation's share of a
# region's yearly revenue.  Exercises a 6-way join with TWO roles for the
# nation dim (customer side and supplier side) via DataFrame aliases; both
# dim joins broadcast.  Share = exact-decimal conditional sum over exact
# total, one final double division.
# ---------------------------------------------------------------------------

Q8_REGION = "ASIA"
Q8_NATION = "NATION_5"


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    n_cust = load_table(spark, sf_dir, "nation").alias("nc")
    n_supp = load_table(spark, sf_dir, "nation").alias("ns")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == Q8_REGION)
    rev = revenue_expr()
    national = F.when(F.col("ns.n_name") == Q8_NATION, rev).otherwise(
        F.lit(0).cast(DEC)
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n_cust), cust.c_nationkey == F.col("nc.n_nationkey"))
        .join(F.broadcast(region), F.col("nc.n_regionkey") == region.r_regionkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_supp), supp.s_nationkey == F.col("ns.n_nationkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (F.sum(national).cast("double") / F.sum(rev).cast("double")).alias(
                "mkt_share"
            ),
            money_sum(rev).alias("region_revenue"),
        )
        .orderBy("o_year")
    )


Q8_ORACLE = f"""
    SELECT CAST(extract(year FROM o_orderdate) AS INTEGER) AS o_year,
           CAST(sum(CASE WHEN ns.n_name = '{Q8_NATION}' THEN {SQL_REVENUE}
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               / CAST(sum({SQL_REVENUE}) AS DOUBLE) AS mkt_share,
           CAST(sum({SQL_REVENUE}) AS DOUBLE) AS region_revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation nc ON c_nationkey = nc.n_nationkey
    JOIN region ON nc.n_regionkey = r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ns ON s_nationkey = ns.n_nationkey
    WHERE r_name = '{Q8_REGION}'
    GROUP BY o_year
    ORDER BY o_year
"""

# ---------------------------------------------------------------------------
# Q9: product-line revenue by supplier nation and order year (TPC-H Q9
# shape, adapted: no partsupp supplycost, so the measure is revenue).  The
# part filter is a substring LIKE -- not sargable as a range, but still
# pushed to the scan as a parquet row-group filter.
# ---------------------------------------------------------------------------

Q9_PART_PATTERN = "%widget%"


def q9_widget_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like(Q9_PART_PATTERN)
    )
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(money_sum(revenue_expr()).alias("revenue"))
        .orderBy("nation", F.desc("o_year"))
    )


Q9_ORACLE = f"""
    SELECT n_name AS nation,
           CAST(extract(year FROM o_orderdate) AS INTEGER) AS o_year,
           CAST(sum({SQL_REVENUE}) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '{Q9_PART_PATTERN}'
    GROUP BY 1, 2
    ORDER BY 1, 2 DESC
"""

# ---------------------------------------------------------------------------
# Q11: revenue concentration (TPC-H Q11 shape): suppliers holding more than
# 0.1% of total revenue.  The global total is a 1-row aggregate broadcast
# into a cross join; the threshold comparison stays in exact decimals
# (rev * 1000 > total) so no float boundary exists.
# ---------------------------------------------------------------------------

Q11_PER_MILLE = 1000


def q11_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_suppkey").agg(F.sum(revenue_expr()).alias("rev_dec"))
    total = per.agg(F.sum("rev_dec").alias("total_dec"))
    return (
        per.crossJoin(F.broadcast(total))
        .filter(F.col("rev_dec") * Q11_PER_MILLE > F.col("total_dec"))
        .select(
            F.col("l_suppkey").alias("s_suppkey"),
            F.col("rev_dec").cast("double").alias("supplier_revenue"),
        )
        .orderBy(F.desc("supplier_revenue"), F.asc("s_suppkey"))
    )


Q11_ORACLE = f"""
    WITH per AS (
        SELECT l_suppkey, sum({SQL_REVENUE}) AS rev
        FROM lineitem GROUP BY l_suppkey
    ),
    t AS (SELECT sum(rev) AS total FROM per)
    SELECT l_suppkey AS s_suppkey, CAST(rev AS DOUBLE) AS supplier_revenue
    FROM per, t
    WHERE rev * {Q11_PER_MILLE} > total
    ORDER BY supplier_revenue DESC, s_suppkey
"""

# ---------------------------------------------------------------------------
# Q15: top supplier (TPC-H Q15 shape): suppliers whose quarterly revenue
# equals the global max.  Exact decimal aggregates make the equality
# deterministic (the original query's correlated max over a view).
# ---------------------------------------------------------------------------

Q15_START = "1996-01-01"
Q15_END = "1996-04-01"


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= Q15_START) & (F.col("l_shipdate") < Q15_END)
    )
    supp = load_table(spark, sf_dir, "supplier")
    per = li.groupBy("l_suppkey").agg(F.sum(revenue_expr()).alias("rev_dec"))
    mx = per.agg(F.max("rev_dec").alias("max_dec"))
    return (
        per.crossJoin(F.broadcast(mx))
        .filter(F.col("rev_dec") == F.col("max_dec"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select(
            F.col("l_suppkey").alias("s_suppkey"),
            "s_name",
            F.col("rev_dec").cast("double").alias("total_revenue"),
        )
    )


Q15_ORACLE = f"""
    WITH per AS (
        SELECT l_suppkey, sum({SQL_REVENUE}) AS rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{Q15_START}'
          AND l_shipdate <  TIMESTAMP '{Q15_END}'
        GROUP BY l_suppkey
    )
    SELECT l_suppkey AS s_suppkey, s_name, CAST(rev AS DOUBLE) AS total_revenue
    FROM per
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE rev = (SELECT max(rev) FROM per)
"""

# ---------------------------------------------------------------------------
# Q16: supplier diversity per part attribute (TPC-H Q16 shape, adapted:
# part-supplier pairs come from lineitem, and the excluded-supplier
# subquery is "account balance below par" instead of the complaints
# comment).  NOT IN decorrelates to a broadcast anti-join; COUNT(DISTINCT)
# runs as a two-phase expand+agg.
# ---------------------------------------------------------------------------

Q16_EXCLUDE_BRAND = "Brand#1"
Q16_MIN_BAL = 1000


def q16_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") != Q16_EXCLUDE_BRAND
    )
    li = load_table(spark, sf_dir, "lineitem")
    lowbal = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < Q16_MIN_BAL)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(lowbal), li.l_suppkey == lowbal.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


Q16_ORACLE = f"""
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> '{Q16_EXCLUDE_BRAND}'
      AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < {Q16_MIN_BAL}
      )
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""

# ---------------------------------------------------------------------------
# Q20: heavy shippers (TPC-H Q20 shape): suppliers who moved more than a
# threshold quantity of one brand's parts in a year, selected via a
# LEFT SEMI join against the qualifying aggregate (the original's nested
# IN-subquery chain).  Quantity threshold compared in exact decimals.
# ---------------------------------------------------------------------------

Q20_BRAND = "Brand#13"
Q20_START = "1996-01-01"
Q20_END = "1997-01-01"
Q20_MIN_QTY = 50


def q20_heavy_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == Q20_BRAND)
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= Q20_START) & (F.col("l_shipdate") < Q20_END)
    )
    supp = load_table(spark, sf_dir, "supplier")
    qualifying = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(dec("l_quantity")).alias("qty_dec"))
        .filter(F.col("qty_dec") > Q20_MIN_QTY)
    )
    return (
        supp.join(qualifying, supp.s_suppkey == qualifying.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_suppkey")
    )


Q20_ORACLE = f"""
    SELECT s_suppkey, s_name, s_acctbal
    FROM supplier
    WHERE s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand = '{Q20_BRAND}'
          AND l_shipdate >= TIMESTAMP '{Q20_START}'
          AND l_shipdate <  TIMESTAMP '{Q20_END}'
        GROUP BY l_suppkey
        HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > {Q20_MIN_QTY}
    )
    ORDER BY s_suppkey
"""

# ---------------------------------------------------------------------------
# Q22: idle rich customers (TPC-H Q22 shape, adapted: grouping key is the
# market segment, and "no orders" is scoped to the most recent year so the
# anti-join branch actually fires on the testdata).  The above-average
# threshold is cleared to integers (bal100 * n > sum100) so the comparison
# is exact in both engines; the averaged population is positive balances.
# ---------------------------------------------------------------------------

Q22_RECENT = "2001-01-01"


def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    bal100 = (dec("c_acctbal") * 100).cast("bigint")
    pos = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            F.sum(bal100).alias("sum100"),
            F.count(F.lit(1)).alias("n_pos"),
        )
    )
    recent_orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= Q22_RECENT
    )
    return (
        cust.join(recent_orders, cust.c_custkey == recent_orders.o_custkey, "left_anti")
        .withColumn("bal100", bal100)
        .crossJoin(F.broadcast(pos))
        .filter(F.col("bal100") * F.col("n_pos") > F.col("sum100"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            money_sum(dec("c_acctbal")).alias("total_acctbal"),
        )
        .orderBy("c_mktsegment")
    )


Q22_ORACLE = f"""
    WITH pos AS (
        SELECT CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS BIGINT) AS sum100,
               count(*) AS n_pos
        FROM customer WHERE c_acctbal > 0
    )
    SELECT c_mktsegment,
           count(*) AS n_customers,
           {sql_money_sum('c_acctbal')} AS total_acctbal
    FROM customer, pos
    WHERE CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) * n_pos > sum100
      AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey
            AND o_orderdate >= TIMESTAMP '{Q22_RECENT}'
      )
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# Q21: suppliers who kept orders waiting (TPC-H Q21 shape, adapted: the
# synthetic lineitem has no receipt/commit dates, so "late" is the same
# order-to-ship lag Q12 uses, > Q21_LAG_DAYS).  The original expresses
# "this supplier was the ONLY late one on a multi-supplier order" as a
# correlated EXISTS + NOT EXISTS pair -- two correlated probes per
# lineitem row.  Spark-first, both collapse into ONE per-order aggregate
# (distinct suppliers, distinct late suppliers) joined back on the order
# key; the filtered lineitem subplan is scanned twice (column-pruned --
# cheap) but the only wide exchanges are the per-order aggregate and the
# join-back, both hash-partitioned on the same order key so the second
# reuses the first's layout.  No nation filter (the synthetic nation
# names are regeneration-unstable); the nation rides in the output
# instead.
# ---------------------------------------------------------------------------

Q21_LAG_DAYS = 90


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    lines = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    ).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > Q21_LAG_DAYS
        ).alias("late"),
    )
    per_order = lines.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(F.col("late"), F.col("l_suppkey"))).alias(
            "n_late_supp"
        ),
    )
    waiting = (
        lines.filter("late")
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
    )
    return (
        waiting.join(F.broadcast(supp), waiting.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


Q21_ORACLE = f"""
    WITH lines AS (
        SELECT l.l_orderkey, l.l_suppkey,
               datediff('day', o.o_orderdate, l.l_shipdate) > {Q21_LAG_DAYS}
                   AS late
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderstatus = 'F'
    ),
    per_order AS (
        SELECT l_orderkey,
               count(DISTINCT l_suppkey) AS n_supp,
               count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_supp
        FROM lines GROUP BY l_orderkey
    )
    SELECT n_name, s_name, count(*) AS numwait
    FROM lines
    JOIN per_order USING (l_orderkey)
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE late AND n_supp > 1 AND n_late_supp = 1
    GROUP BY n_name, s_name
    ORDER BY numwait DESC, s_name
"""


# ---------------------------------------------------------------------------
# RFM customer segmentation -- the classic marketing/feature-store
# scoring pass: recency (days since last order, against the corpus max
# date so the feature is reproducible from the data alone), frequency
# (order count), monetary (decimal-exact spend), each quintile-scored
# with ntile and combined into the 3-digit RFM segment.
#
# Scale shape (re-planned round 6, VERDICT r5 item #4): one combinable
# shuffle on o_custkey reduces the ORDER stream to one row per customer;
# each quintile is then scored WITHOUT a partitionless window.  ntile(5)
# over a global order is a pure function of (global rank, n), and the
# global rank distributes: repartitionByRange on the metric order gives
# every range a disjoint rank interval, a PARTITIONED row_number ranks
# within each range in parallel, and the broadcast per-range row-count
# prefix (an O(#partitions) driver collect -- the token_budget_packing
# two-pass discipline) shifts it to the exact global rank.  The closed
# form below reproduces SQL ntile's uneven-bucket rule exactly, so the
# output -- and the oracle -- are bit-identical to the old global-window
# plan while every sort stage sees only one range's rows.  Every rank
# orders by (metric, c_custkey) so the row->score map is deterministic
# on any engine or partitioning.  For billion-customer dimensions where
# even three distributed sorts are unwanted, the sketch-bounded
# customer_rfm_features_approx below is the sort-free path.
# ---------------------------------------------------------------------------


def _rfm_customer_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared R/F/M per-customer aggregate: one combinable shuffle on
    o_custkey reduces the order stream to dimension cardinality; both the
    exact (ntile) and sketch-bounded scorers consume this."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        money_sum(dec("o_totalprice")).alias("monetary"),
    )
    ref = orders.agg(F.max("o_orderdate").alias("ref_date"))
    return per_cust.crossJoin(F.broadcast(ref)).select(
        "c_custkey",
        F.datediff("ref_date", "last_order").alias("recency_days"),
        "frequency",
        "monetary",
    )


def _with_global_rank(
    spark: SparkSession, df: DataFrame, sort_cols, rank_name: str
) -> tuple[DataFrame, int]:
    """Distributed global row_number over ``sort_cols``: range-partition
    on the order (each range owns a disjoint rank interval, ascending
    with partition id), rank within ranges in parallel, shift by the
    broadcast per-range prefix counts (O(#partitions) driver collect).
    The ranged intermediate persists because both passes must observe
    the same range assignment; session.release_caches reclaims it.
    Returns (df + rank column, total row count)."""
    n_ranges = max(int(spark.sparkContext.defaultParallelism), 1)
    ranged = (
        df.repartitionByRange(n_ranges, *sort_cols)
        .withColumn("_rng", F.spark_partition_id())
        .persist()
    )
    counts = sorted(
        (int(r["_rng"]), int(r["c"]))
        for r in ranged.groupBy("_rng").agg(F.count(F.lit(1)).alias("c")).collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for rng, c in counts:
        offsets[rng] = acc
        acc += c
    if offsets:
        off_col = F.element_at(
            F.create_map(
                *[
                    c
                    for k, v in offsets.items()
                    for c in (F.lit(k).cast("int"), F.lit(v).cast("bigint"))
                ]
            ),
            F.col("_rng"),
        )
    else:
        off_col = F.lit(0).cast("bigint")
    w_in = Window.partitionBy("_rng").orderBy(*sort_cols)
    return (
        ranged.withColumn(
            rank_name, off_col + F.row_number().over(w_in)
        ).drop("_rng"),
        acc,
    )


def _ntile_of_rank(rank, n: int, k: int = 5):
    """SQL ntile(k) as a closed form of the 1-based global rank: with
    q, r = divmod(n, k), the first r buckets take q+1 rows, the rest q."""
    q, r = divmod(n, k)
    big = r * (q + 1)
    return (
        F.when(rank <= big, F.floor((rank - 1) / (q + 1)) + 1)
        # else-branch reachable only when rank > big, which forces q >= 1;
        # max() keeps the unreached divisor nonzero under ANSI mode
        .otherwise(r + F.floor((rank - big - 1) / max(q, 1)) + 1)
        .cast("int")
    )


def customer_rfm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    feat = _rfm_customer_metrics(spark, sf_dir)
    ranked, n = _with_global_rank(
        spark, feat, [F.asc("recency_days"), F.asc("c_custkey")], "_r_rank"
    )
    ranked, _ = _with_global_rank(
        spark, ranked, [F.desc("frequency"), F.asc("c_custkey")], "_f_rank"
    )
    ranked, _ = _with_global_rank(
        spark, ranked, [F.desc("monetary"), F.asc("c_custkey")], "_m_rank"
    )
    scored = ranked.select(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary",
        _ntile_of_rank(F.col("_r_rank"), n).alias("r_score"),
        _ntile_of_rank(F.col("_f_rank"), n).alias("f_score"),
        _ntile_of_rank(F.col("_m_rank"), n).alias("m_score"),
    )
    return scored.select(
        "*",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"))
        .cast("int")
        .alias("rfm_segment"),
    ).orderBy("c_custkey")


RFM_ORACLE = """
    WITH per_cust AS (
        SELECT o_custkey AS c_custkey,
               max(o_orderdate) AS last_order,
               count(*) AS frequency,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS monetary
        FROM orders
        GROUP BY o_custkey
    ),
    ref AS (SELECT max(o_orderdate) AS ref_date FROM orders),
    feat AS (
        SELECT c_custkey,
               CAST(date_diff('day', last_order, ref_date) AS INTEGER)
                   AS recency_days,
               frequency, monetary
        FROM per_cust, ref
    ),
    scored AS (
        SELECT *,
               CAST(ntile(5) OVER (ORDER BY recency_days, c_custkey) AS INTEGER)
                   AS r_score,
               CAST(ntile(5) OVER (ORDER BY frequency DESC, c_custkey) AS INTEGER)
                   AS f_score,
               CAST(ntile(5) OVER (ORDER BY monetary DESC, c_custkey) AS INTEGER)
                   AS m_score
        FROM feat
    )
    SELECT c_custkey, recency_days, frequency, monetary,
           r_score, f_score, m_score,
           CAST(r_score * 100 + f_score * 10 + m_score AS INTEGER)
               AS rfm_segment
    FROM scored
    ORDER BY c_custkey
"""


# ---------------------------------------------------------------------------
# The scale path for RFM scoring: customer_rfm_features above is exact
# but pays three global (partitionless) ntile sorts of the per-customer
# aggregate -- survivable at dimension cardinality, a single-node
# bottleneck by construction when customers are billions.  Here quintile
# BOUNDS come from percentile_approx (a partial-aggregable GK sketch:
# one combinable pass reduces the whole table to 3x4 numbers), broadcast
# back, and each score is a scan-local comparison against 4 values -- no
# sort anywhere.  Same shape as value_decile_features_approx
# (statistics.py), applied to the three RFM metrics at once.
#
# The sketch boundaries are engine-specific by construction (DuckDB
# cannot reproduce Spark's GK sketch), so the raw per-customer scores
# (_rfm_scores_approx) cannot hash against an oracle.  Round-7 re-shape
# (VERDICT r6 item #6): the DECLARED query is the contract AUDIT -- it
# joins the sketch scores to the exact ntile twin and emits the exact
# customer count plus per-metric "every score within one quintile of
# exact" booleans, all oracle-checkable (the oracle states the contract
# as literals), so the driver hash now covers this path too.  The raw
# approx scorer stays available for pipelines and is value-checked
# per-customer in tests/test_relational.py (within one quintile, >=99%
# exactly equal, disagreements only at ties).
# ---------------------------------------------------------------------------

RFM_SKETCH_ACC = 10_000
_RFM_QUINTILES_ASC = [i / 5 for i in range(1, 5)]  # .2 .4 .6 .8


def _rfm_scores_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    feat = _rfm_customer_metrics(spark, sf_dir)
    bounds = feat.agg(
        F.percentile_approx(
            "recency_days", _RFM_QUINTILES_ASC, RFM_SKETCH_ACC
        ).alias("r_bnds"),
        F.percentile_approx(
            "frequency", _RFM_QUINTILES_ASC, RFM_SKETCH_ACC
        ).alias("f_bnds"),
        F.percentile_approx(
            "monetary", _RFM_QUINTILES_ASC, RFM_SKETCH_ACC
        ).alias("m_bnds"),
    )
    # recency scores ascending (most recent = 1); frequency/monetary score
    # descending (largest = 1), i.e. 5 minus the ascending bin.
    r_score = (
        F.size(F.filter("r_bnds", lambda b: F.col("recency_days") > b)) + 1
    ).cast("int")
    f_score = (
        5 - F.size(F.filter("f_bnds", lambda b: F.col("frequency") > b))
    ).cast("int")
    m_score = (
        5 - F.size(F.filter("m_bnds", lambda b: F.col("monetary") > b))
    ).cast("int")
    scored = feat.crossJoin(F.broadcast(bounds)).select(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary",
        r_score.alias("r_score"),
        f_score.alias("f_score"),
        m_score.alias("m_score"),
    )
    return scored.select(
        "*",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"))
        .cast("int")
        .alias("rfm_segment"),
    ).orderBy("c_custkey")


def customer_rfm_features_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    approx = _rfm_scores_approx(spark, sf_dir).select(
        "c_custkey",
        F.col("r_score").alias("ar"),
        F.col("f_score").alias("af"),
        F.col("m_score").alias("am"),
    )
    exact = customer_rfm_features(spark, sf_dir).select(
        "c_custkey", "r_score", "f_score", "m_score"
    )
    j = exact.join(approx, "c_custkey")
    within = lambda a, b: F.abs(F.col(a) - F.col(b)) <= 1  # noqa: E731
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.bool_and(within("ar", "r_score")).alias("r_within_1"),
        F.bool_and(within("af", "f_score")).alias("f_within_1"),
        F.bool_and(within("am", "m_score")).alias("m_within_1"),
    )


RFM_APPROX_AUDIT_ORACLE = """
    SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           TRUE AS r_within_1,
           TRUE AS f_within_1,
           TRUE AS m_within_1
    FROM orders
"""


# ---------------------------------------------------------------------------
# Join-key skew profile: the diagnostic a pipeline runs BEFORE sizing a
# big join -- per-key row counts for the prospective join key, the
# heaviest keys, each key's share of the table, and its skew factor
# (count / mean count).  A skew factor of ~1 everywhere means a plain
# hash join partitions evenly; a hot key factor in the hundreds is the
# signal to salt (join_strategies.skew_join_salted) or rely on AQE skew
# splitting.  All integer counts; shares/factors are single double
# divisions of broadcast scalars.  Scale: one map-side-combinable
# groupBy on the key + TakeOrdered over per-key counts (never a global
# sort of the fact table).
# ---------------------------------------------------------------------------

SKEW_PROFILE_TOPK = 10


def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    per_key = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("cnt"))
    stats = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("total_rows"),
        F.max("cnt").alias("max_cnt"),
    )
    top = per_key.orderBy(F.desc("cnt"), "o_custkey").limit(SKEW_PROFILE_TOPK)
    return (
        top.crossJoin(F.broadcast(stats))
        .select(
            "o_custkey",
            "cnt",
            F.round(
                F.col("cnt").cast("double") / F.col("total_rows"), 6
            ).alias("share"),
            F.round(
                (F.col("cnt") * F.col("n_keys")).cast("double")
                / F.col("total_rows"),
                6,
            ).alias("skew_factor"),
            "n_keys",
            "total_rows",
            "max_cnt",
        )
        .orderBy(F.desc("cnt"), "o_custkey")
    )


SKEW_PROFILE_ORACLE = f"""
    WITH per_key AS (
        SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey
    ),
    stats AS (
        SELECT count(*) AS n_keys,
               CAST(sum(cnt) AS BIGINT) AS total_rows,
               max(cnt) AS max_cnt
        FROM per_key
    )
    SELECT o_custkey, cnt,
           round(CAST(cnt AS DOUBLE) / total_rows, 6) AS share,
           round(CAST(cnt * n_keys AS DOUBLE) / total_rows, 6) AS skew_factor,
           n_keys, total_rows, max_cnt
    FROM per_key, stats
    ORDER BY cnt DESC, o_custkey
    LIMIT {SKEW_PROFILE_TOPK}
"""


# ---------------------------------------------------------------------------
# Market-basket co-occurrence: part pairs ordered together in the same
# order at least MIN_COPURCHASE times -- the candidate-generation step
# of association mining (and the item-item signal a recommender trains
# on).  Self-equi-join of the order's item set on l_orderkey: the pair
# fan-out is bounded by items-per-order squared (~7^2 here), never by
# table size, and the pair aggregate is map-side combinable.  A mega
# order (thousands of lines) is the skew case -- AQE skew-split, or cap
# items per order upstream like the dedup stop-shingle note.
# ---------------------------------------------------------------------------

MIN_COPURCHASE = 3


def copurchase_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = items.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders_together"))
        .filter(F.col("n_orders_together") >= MIN_COPURCHASE)
        .orderBy(F.desc("n_orders_together"), "part_a", "part_b")
    )


COPURCHASE_ORACLE = f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           count(*) AS n_orders_together
    FROM items a JOIN items b
         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING count(*) >= {MIN_COPURCHASE}
    ORDER BY n_orders_together DESC, part_a, part_b
"""


# ---------------------------------------------------------------------------
# Item-item collaborative filtering (cosine kNN over the CUSTOMER-part
# incidence matrix) -- the recommender primitive the basket ops above
# don't give: copurchase_* counts parts sharing one ORDER (session
# affinity, raw support/lift); this scores parts bought by the same
# CUSTOMERS over their whole history and normalizes by item popularity,
#
#     cosine(i, j) = |C_i n C_j| / (sqrt(|C_i|) * sqrt(|C_j|))
#
# so a blockbuster part co-occurring with everything stops dominating
# every neighbor list -- the exact reason production item-item CF
# (Sarwar et al. / Amazon) uses cosine, not counts.  Emits the top
# COFILTER_TOPK neighbors per item.
#
# Float discipline: sqrt and the divides are IEEE correctly-rounded over
# bit-identical integer-cast operands with operand order mirrored in the
# oracle; no logs, no order-dependent double sums.
#
# Scale shape: the distinct incidence is one combinable aggregate; the
# pair stream fans out per-customer, so the per-customer incidence is
# HARD-CAPPED at COFILTER_CUST_CAP distinct parts (deterministic
# md5-rank selection -- the stop-shingle discipline): one degenerate
# power-customer (a bot/aggregator account holding 1e5 distinct parts
# at 100x scale) would otherwise alone put |history|^2 ~ 1e10 pair rows
# on a single shuffle key.  With the cap, fan-out per customer is
# provably <= CAP*(CAP-1)/2 regardless of corpus growth; the count of
# trimmed customers is emitted on every row as the n_capped_cust audit
# column so drift in the trimmed population is visible, and the cap
# rank itself plans as a second WindowGroupLimit (map-side partial
# top-k before the shuffle).  Co-counts are a combinable groupBy;
# popularity joins are dimension-sized.  Per-item top-k is a
# partitioned row_number Spark 4 rewrites to WindowGroupLimit.
# ---------------------------------------------------------------------------

COFILTER_TOPK = 5
MIN_COFILTER_CO = 2  # ignore single-customer coincidences
# Per-customer distinct-part history cap (the 100 TB skew lever): parts
# kept per customer are the COFILTER_CUST_CAP smallest by
# md5(custkey:partkey) -- deterministic, content-addressed, mirrored
# token-for-token in the oracle.  64 > the p99 history (~77 raw parts
# at sf0.1 means ~4% of customers trim), so test scale exercises the
# cap while the bound stays constant as the corpus grows.
COFILTER_CUST_CAP = 64


def _cofilter_incidence(
    li: DataFrame, orders: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """(capped incidence, 1-row capped-customer count) -- shared shape."""
    raw = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    w_cap = Window.partitionBy("o_custkey").orderBy(
        F.md5(
            F.concat_ws(
                ":",
                F.col("o_custkey").cast("string"),
                F.col("l_partkey").cast("string"),
            )
        ),
        F.asc("l_partkey"),
    )
    ranked = raw.withColumn("cap_rank", F.row_number().over(w_cap))
    # NOT persisted (optimization round 12): caching the 3-consumer
    # incidence was tried and measured a net LOSS in clean-context bench
    # runs (4.6 s -> 5.9 s) -- the parallel recompute of the lineitem
    # join + cap window is cheaper than the single-threaded cache
    # materialization it replaces at this scale
    inc = ranked.filter(F.col("cap_rank") <= COFILTER_CUST_CAP).drop("cap_rank")
    capstat = (
        raw.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .agg(
            F.sum(
                F.when(F.col("n_parts") > COFILTER_CUST_CAP, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_capped_cust")
        )
    )
    return inc, capstat


def item_item_cofilter_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    inc, capstat = _cofilter_incidence(li, orders)
    pop = inc.groupBy(F.col("l_partkey").alias("part")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cust")
    )
    a = inc.select("o_custkey", F.col("l_partkey").alias("part_a"))
    b = inc.select("o_custkey", F.col("l_partkey").alias("part_b"))
    co = (
        a.join(b, "o_custkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("co"))
        .filter(F.col("co") >= MIN_COFILTER_CO)
    )
    sym = co.unionByName(
        co.select(
            F.col("part_b").alias("part_a"),
            F.col("part_a").alias("part_b"),
            "co",
        )
    )
    scored = (
        sym.join(pop.select(F.col("part").alias("part_a"), F.col("n_cust").alias("n_a")), "part_a")
        .join(pop.select(F.col("part").alias("part_b"), F.col("n_cust").alias("n_b")), "part_b")
        .select(
            F.col("part_a").alias("part"),
            F.col("part_b").alias("neighbor"),
            "co",
            (
                F.col("co").cast("double")
                / (
                    F.sqrt(F.col("n_a").cast("double"))
                    * F.sqrt(F.col("n_b").cast("double"))
                )
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("part").orderBy(F.desc("cosine"), F.asc("neighbor"))
    return (
        scored.withColumn("nbr_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("nbr_rank") <= COFILTER_TOPK)
        .crossJoin(F.broadcast(capstat))
        .select("part", "nbr_rank", "neighbor", "co", "cosine", "n_capped_cust")
        .orderBy("part", "nbr_rank")
    )


ITEM_COFILTER_ORACLE = f"""
    WITH inc_raw AS (
        SELECT DISTINCT o_custkey, l_partkey
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    inc_ranked AS (
        SELECT o_custkey, l_partkey,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY md5(CAST(o_custkey AS VARCHAR) || ':'
                                || CAST(l_partkey AS VARCHAR)),
                            l_partkey
               ) AS cap_rank
        FROM inc_raw
    ),
    inc AS (
        SELECT o_custkey, l_partkey FROM inc_ranked
        WHERE cap_rank <= {COFILTER_CUST_CAP}
    ),
    capstat AS (
        SELECT CAST(sum(CASE WHEN n_parts > {COFILTER_CUST_CAP} THEN 1
                             ELSE 0 END) AS BIGINT) AS n_capped_cust
        FROM (SELECT o_custkey, count(*) AS n_parts
              FROM inc_raw GROUP BY 1)
    ),
    pop AS (
        SELECT l_partkey AS part, CAST(count(*) AS BIGINT) AS n_cust
        FROM inc GROUP BY 1
    ),
    co AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               CAST(count(*) AS BIGINT) AS co
        FROM inc a JOIN inc b
             ON a.o_custkey = b.o_custkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= {MIN_COFILTER_CO}
    ),
    sym AS (
        SELECT part_a, part_b, co FROM co
        UNION ALL
        SELECT part_b, part_a, co FROM co
    ),
    scored AS (
        SELECT s.part_a AS part, s.part_b AS neighbor, s.co,
               CAST(s.co AS DOUBLE)
                   / (sqrt(CAST(pa.n_cust AS DOUBLE))
                      * sqrt(CAST(pb.n_cust AS DOUBLE))) AS cosine
        FROM sym s
        JOIN pop pa ON s.part_a = pa.part
        JOIN pop pb ON s.part_b = pb.part
    )
    SELECT part, nbr_rank, neighbor, co, cosine, n_capped_cust
    FROM (
        SELECT *, CAST(row_number() OVER (
                   PARTITION BY part ORDER BY cosine DESC, neighbor
               ) AS INTEGER) AS nbr_rank
        FROM scored
    )
    CROSS JOIN capstat
    WHERE nbr_rank <= {COFILTER_TOPK}
    ORDER BY part, nbr_rank
"""


# ---------------------------------------------------------------------------
# Association rules over the co-purchase pairs -- the mining step after
# candidate generation: for every frequent unordered pair, BOTH
# directed rules a->b and b->a with exact support / confidence / lift.
# Everything is a ratio of exact integer counts, emitted as single
# rounded divisions (lift as n_ab*N / (n_a*n_b) computed in one double
# expression of exact ints, identical text both engines).
#
# Scale: rides copurchase_part_pairs (pair fan-out bounded by
# items-per-order squared); adds one combinable per-item count and two
# dimension-sized joins of the (already frequent-filtered) pair table
# against it; basket total is one broadcast scalar.
# ---------------------------------------------------------------------------


def copurchase_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    pairs = copurchase_part_pairs(spark, sf_dir).select(
        "part_a", "part_b", F.col("n_orders_together").alias("n_ab")
    )
    counts = items.groupBy(F.col("l_partkey").alias("part")).agg(
        F.count(F.lit(1)).alias("n_part")
    )
    baskets = items.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_baskets")
    )
    directed = pairs.select(
        F.col("part_a").alias("antecedent"),
        F.col("part_b").alias("consequent"),
        "n_ab",
    ).unionByName(
        pairs.select(
            F.col("part_b").alias("antecedent"),
            F.col("part_a").alias("consequent"),
            "n_ab",
        )
    )
    ca = counts.select(
        F.col("part").alias("antecedent"), F.col("n_part").alias("n_ante")
    )
    cc = counts.select(
        F.col("part").alias("consequent"), F.col("n_part").alias("n_cons")
    )
    return (
        directed.join(ca, "antecedent")
        .join(cc, "consequent")
        .crossJoin(F.broadcast(baskets))
        .select(
            "antecedent",
            "consequent",
            "n_ab",
            F.round(
                F.col("n_ab").cast("double") / F.col("n_baskets"), 6
            ).alias("support"),
            F.round(F.col("n_ab").cast("double") / F.col("n_ante"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("n_ab").cast("double")
                * F.col("n_baskets")
                / (F.col("n_ante") * F.col("n_cons")),
                6,
            ).alias("lift"),
        )
        .orderBy("antecedent", "consequent")
    )


COPURCHASE_RULES_ORACLE = f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*) AS n_ab
        FROM items a JOIN items b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(*) >= {MIN_COPURCHASE}
    ),
    directed AS (
        SELECT part_a AS antecedent, part_b AS consequent, n_ab FROM pairs
        UNION ALL
        SELECT part_b AS antecedent, part_a AS consequent, n_ab FROM pairs
    ),
    counts AS (
        SELECT l_partkey AS part, count(*) AS n_part FROM items GROUP BY 1
    ),
    baskets AS (
        SELECT count(DISTINCT l_orderkey) AS n_baskets FROM items
    )
    SELECT antecedent, consequent, n_ab,
           round(CAST(n_ab AS DOUBLE) / any_value(n_baskets), 6) AS support,
           round(CAST(n_ab AS DOUBLE) / any_value(ca.n_part), 6)
               AS confidence,
           round(CAST(n_ab AS DOUBLE) * any_value(n_baskets)
                 / (any_value(ca.n_part) * any_value(cc.n_part)), 6) AS lift
    FROM directed
    JOIN counts ca ON antecedent = ca.part
    JOIN counts cc ON consequent = cc.part
    CROSS JOIN baskets
    GROUP BY antecedent, consequent, n_ab
    ORDER BY antecedent, consequent
"""


# ---------------------------------------------------------------------------
# Deterministic negative sampling: the contrastive-training companion of
# the positive (customer, part) interactions.  Positives are the
# distinct pairs a customer actually ordered; per customer,
# NEG_PER_CUSTOMER candidate parts are probed by a hash of
# (custkey, probe index) onto the part-id space, and candidates that
# collide with a true positive are removed by an anti-join -- so every
# emitted negative is VERIFIED non-interacted, and the same rows come
# back on any engine/run/cluster (md5 probes, the sampling discipline
# used everywhere here).  Scale: candidates are |customers| x K rows
# (linear), the anti-join shuffles on the (cust, part) key, and the
# positive set is exactly the interaction table -- no windows, no
# collect.  (Probes that collide are dropped, not re-drawn: a constant
# expected deficit ~ positives/parts per probe, the standard trade for
# a one-pass sampler.)
# ---------------------------------------------------------------------------

NEG_PER_CUSTOMER = 4


def negative_sampling_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    positives = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(F.col("o_custkey").alias("custkey"), F.col("l_partkey").alias("partkey"))
        .distinct()
    )
    n_parts = part.agg(F.max("p_partkey").alias("max_part"))
    probes = (
        positives.select("custkey")
        .distinct()
        .crossJoin(F.broadcast(n_parts))
        .select(
            "custkey",
            F.explode(
                F.array(*[F.lit(k) for k in range(NEG_PER_CUSTOMER)])
            ).alias("probe"),
            "max_part",
        )
        .select(
            "custkey",
            "probe",
            (
                md5_prefix(F.concat_ws("|", F.col("custkey"), F.col("probe")))
                % F.col("max_part")
                + 1
            ).alias("partkey"),
        )
    )
    return (
        probes.join(positives, ["custkey", "partkey"], "left_anti")
        .select("custkey", "partkey", "probe")
        .orderBy("custkey", "probe")
    )


NEGATIVE_SAMPLING_ORACLE = f"""
    WITH positives AS (
        SELECT DISTINCT o.o_custkey AS custkey, l.l_partkey AS partkey
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    np AS (SELECT max(p_partkey) AS max_part FROM part),
    probes AS (
        SELECT custkey, CAST(probe AS INTEGER) AS probe,
               ('0x' || substring(md5(custkey || '|' || probe), 1, 15))::BIGINT
                   % max_part + 1 AS partkey
        FROM (SELECT DISTINCT custkey FROM positives),
             unnest(range(0, {NEG_PER_CUSTOMER})) t(probe),
             np
    )
    SELECT custkey, partkey, probe
    FROM probes ANTI JOIN positives USING (custkey, partkey)
    ORDER BY custkey, probe
"""


# ---------------------------------------------------------------------------
# Daily open-order backlog via the +1/-1 boundary sweep: an order is
# OPEN from its order date until its last line item ships; the backlog
# curve is how many are open on each boundary day.  The naive form
# explodes every order into its open days (orders x avg-duration rows);
# the sweep emits exactly TWO boundary events per order (+1 at open,
# -1 the day after close) and a running sum over the per-day nets --
# the standard interval-counting pattern for billions of intervals.
# The cumulative window is partitionless BY DESIGN and safe for the
# same reason as vocab_table's rank: its input is the per-DAY
# aggregate, bounded by calendar cardinality (~2.4k days for this
# schema), never by order volume.  All counts exact integers.
# ---------------------------------------------------------------------------


def order_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    closed = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("close_date")
    )
    # inner join: an order with no line items has no fulfillment
    # lifecycle, so it never enters the backlog curve (the synthetic
    # data contains a few such orders; data_quality_audit counts them)
    spans = orders.join(
        closed, orders["o_orderkey"] == closed["l_orderkey"]
    ).select(
        F.col("o_orderdate").alias("open_day"),
        (F.col("close_date") + F.expr("INTERVAL 1 DAY")).alias("close_day"),
    )
    deltas = spans.select(
        F.col("open_day").alias("day"), F.lit(1).alias("delta")
    ).unionByName(
        spans.select(F.col("close_day").alias("day"), F.lit(-1).alias("delta"))
    )
    per_day = deltas.groupBy("day").agg(
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_opened"),
        F.sum(F.when(F.col("delta") == -1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_closed"),
        F.sum("delta").alias("net"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_day.select(
            "day",
            "n_opened",
            "n_closed",
            F.sum("net").over(w).cast("bigint").alias("backlog"),
        )
        .orderBy("day")
    )


BACKLOG_ORACLE = """
    WITH closed AS (
        SELECT l_orderkey, max(l_shipdate) AS close_date
        FROM lineitem GROUP BY l_orderkey
    ),
    spans AS (
        SELECT o_orderdate AS open_day,
               close_date + INTERVAL 1 DAY AS close_day
        FROM orders JOIN closed ON o_orderkey = l_orderkey
    ),
    deltas AS (
        SELECT open_day AS day, 1 AS delta FROM spans
        UNION ALL
        SELECT close_day, -1 FROM spans
    ),
    per_day AS (
        SELECT day,
               CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_opened,
               CAST(sum(CASE WHEN delta = -1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_closed,
               sum(delta) AS net
        FROM deltas GROUP BY day
    )
    SELECT day, n_opened, n_closed,
           CAST(sum(net) OVER (ORDER BY day
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS BIGINT) AS backlog
    FROM per_day
    ORDER BY day
"""

# ---------------------------------------------------------------------------
# Join-cardinality estimator -- the planner statistic behind every join
# sizing decision: |A join B on k| = sum_k cnt_A(k) * cnt_B(k), computed
# EXACTLY from two per-key count tables.  Two specimen joins: the 1:N
# orders x lineitem fact join, and the events-on-user self-join whose
# sum-of-squares is the classic blowup this estimate exists to warn
# about (join_key_skew_profile's hot keys are the per-key view of the
# same hazard; this is the total).
#
# Scale: per side one map-side-combinable groupBy on the key; the key
# tables join on k (both far smaller than their fact tables); totals are
# broadcast scalars.  The estimate costs two count aggregates, not the
# join it predicts.
# ---------------------------------------------------------------------------


def join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")

    def profile(label: str, left: DataFrame, lk: str, right: DataFrame, rk: str) -> DataFrame:
        ca = left.groupBy(F.col(lk).alias("k")).agg(
            F.count(F.lit(1)).alias("ca")
        )
        cb = right.groupBy(F.col(rk).alias("k")).agg(
            F.count(F.lit(1)).alias("cb")
        )
        agg = ca.join(cb, "k").agg(
            F.count(F.lit(1)).alias("common_keys"),
            F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("join_rows"),
            F.max(F.col("ca") * F.col("cb")).cast("bigint").alias(
                "max_key_rows"
            ),
        )
        return (
            agg.crossJoin(
                F.broadcast(left.agg(F.count(F.lit(1)).alias("left_rows")))
            )
            .crossJoin(
                F.broadcast(right.agg(F.count(F.lit(1)).alias("right_rows")))
            )
            .select(
                F.lit(label).alias("join_name"),
                "left_rows",
                "right_rows",
                "common_keys",
                "join_rows",
                "max_key_rows",
                F.round(
                    F.col("join_rows").cast("double")
                    / F.greatest(F.col("left_rows"), F.lit(1)),
                    6,
                ).alias("expansion_vs_left"),
            )
        )

    return (
        profile("events_self_user", events, "user_id", events, "user_id")
        .unionByName(
            profile("orders_lineitem", orders, "o_orderkey", lineitem, "l_orderkey")
        )
        .orderBy("join_name")
    )


def _join_card_oracle() -> str:
    def spec(label, lt, lk, rt, rk):
        return f"""    SELECT '{label}' AS join_name,
           (SELECT count(*) FROM {lt}) AS left_rows,
           (SELECT count(*) FROM {rt}) AS right_rows,
           count(*) AS common_keys,
           CAST(sum(ca * cb) AS BIGINT) AS join_rows,
           CAST(max(ca * cb) AS BIGINT) AS max_key_rows,
           round(CAST(sum(ca * cb) AS DOUBLE)
                 / greatest((SELECT count(*) FROM {lt}), 1), 6)
               AS expansion_vs_left
    FROM (SELECT {lk} AS k, count(*) AS ca FROM {lt} GROUP BY 1) a
    JOIN (SELECT {rk} AS k, count(*) AS cb FROM {rt} GROUP BY 1) b USING (k)"""

    return (
        spec("events_self_user", "events", "user_id", "events", "user_id")
        + "\n    UNION ALL\n"
        + spec("orders_lineitem", "orders", "o_orderkey", "lineitem", "l_orderkey")
        + "\n    ORDER BY join_name"
    )


JOIN_CARD_ORACLE = _join_card_oracle()


# ---------------------------------------------------------------------------
# Customer-spend Gini / concentration summary.  q11 flags heavy suppliers
# against a fixed per-mille threshold; this is the corpus-level inequality
# report behind "how skewed is our revenue": the Gini coefficient from the
# rank formula G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) over spends
# sorted ascending, plus top-1% / top-10% / bottom-50% spend shares.  The
# global rank is the repo's distributed two-pass range rank (never a
# partitionless window); every numerator is decimal-exact (i*x fits
# decimal(38,0) far beyond int64 at 100 TB) and each reported double is
# ONE division of exact decimals, rounded at 6 dp.  The share thresholds
# are integer functions of n embedded identically in both engines.


def customer_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    DEC38 = "decimal(38,0)"
    per = orders.groupBy("o_custkey").agg(
        F.sum((dec("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("x")
    )
    ranked, n = _with_global_rank(
        spark, per, [F.asc("x"), F.asc("o_custkey")], "_i"
    )
    k1 = max(1, n // 100)
    k10 = max(1, n // 10)
    kb = n // 2
    xd = F.col("x").cast(DEC38)
    agg = ranked.agg(
        F.sum(xd).alias("t"),
        F.sum(F.col("_i").cast(DEC38) * xd).alias("s"),
        F.sum(F.when(F.col("_i") > n - k1, F.col("x")).otherwise(0))
        .cast(DEC38)
        .alias("t1"),
        F.sum(F.when(F.col("_i") > n - k10, F.col("x")).otherwise(0))
        .cast(DEC38)
        .alias("t10"),
        F.sum(F.when(F.col("_i") <= kb, F.col("x")).otherwise(0))
        .cast(DEC38)
        .alias("b50"),
    )
    two_s = F.lit(2).cast(DEC38) * F.col("s")
    n_dec = F.lit(n).cast(DEC38)
    gini = F.round(
        (two_s - (n_dec + F.lit(1).cast(DEC38)) * F.col("t")).cast("double")
        / (n_dec * F.col("t")).cast("double"),
        6,
    )
    share = lambda c: F.round(  # noqa: E731
        F.col(c).cast("double") / F.col("t").cast("double"), 6
    )
    return agg.select(
        F.lit(n).cast("bigint").alias("n_customers"),
        F.col("t").cast("bigint").alias("total_cents"),
        gini.alias("gini"),
        share("t1").alias("top1pct_share"),
        share("t10").alias("top10pct_share"),
        share("b50").alias("bottom50pct_share"),
    )


GINI_ORACLE = """
    WITH per AS (
        SELECT o_custkey,
               CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)) AS BIGINT) AS x
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT x,
               CAST(row_number() OVER (ORDER BY x, o_custkey) AS BIGINT) AS i
        FROM per
    ),
    n_ AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ranked),
    agg AS (
        SELECT sum(CAST(x AS DECIMAL(38,0))) AS t,
               sum(CAST(i AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS s,
               CAST(sum(CASE WHEN i > n - greatest(1, n // 100)
                             THEN x ELSE 0 END) AS DECIMAL(38,0)) AS t1,
               CAST(sum(CASE WHEN i > n - greatest(1, n // 10)
                             THEN x ELSE 0 END) AS DECIMAL(38,0)) AS t10,
               CAST(sum(CASE WHEN i <= n // 2
                             THEN x ELSE 0 END) AS DECIMAL(38,0)) AS b50,
               max(n) AS n
        FROM ranked, n_
    )
    SELECT n AS n_customers,
           CAST(t AS BIGINT) AS total_cents,
           round(CAST(CAST(2 AS DECIMAL(38,0)) * s
                      - (CAST(n AS DECIMAL(38,0)) + CAST(1 AS DECIMAL(38,0)))
                        * t AS DOUBLE)
                 / CAST(CAST(n AS DECIMAL(38,0)) * t AS DOUBLE), 6) AS gini,
           round(CAST(t1 AS DOUBLE) / CAST(t AS DOUBLE), 6) AS top1pct_share,
           round(CAST(t10 AS DOUBLE) / CAST(t AS DOUBLE), 6)
               AS top10pct_share,
           round(CAST(b50 AS DOUBLE) / CAST(t AS DOUBLE), 6)
               AS bottom50pct_share
    FROM agg
"""


# ---------------------------------------------------------------------------
# Order basket profile -- the market-basket size distribution underneath
# copurchase_part_pairs: a power-of-two histogram of lineitems-per-order
# with each size class's order share and exact revenue share.  The table
# that justifies the per-order bounded self-join (pair cost is
# sum n·(n−1)/2 over baskets — this shows where that mass lives) and the
# order-level batching layout.  Scale: one combinable groupBy(orderkey)
# reduction, then a histogram over ORDER-cardinality rows onto ~8 size
# classes; revenue stays decimal-exact until one division per share.
# ---------------------------------------------------------------------------


def order_basket_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(revenue_expr()).alias("rev_dec"),
    )
    keyed = per_order.select(
        (F.length(F.bin(F.col("n_items"))) - 1).cast("int").alias("bucket"),
        "n_items",
        "rev_dec",
    )
    tot = keyed.agg(
        F.count(F.lit(1)).cast("bigint").alias("total_orders"),
        F.sum("rev_dec").alias("total_rev"),
    )
    return (
        keyed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.min("n_items").alias("min_items"),
            F.max("n_items").alias("max_items"),
            F.sum("n_items").cast("bigint").alias("total_items"),
            F.sum("rev_dec").alias("bucket_rev"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n_orders",
            "min_items",
            "max_items",
            "total_items",
            F.col("bucket_rev").cast("double").alias("revenue"),
            F.round(
                F.col("n_orders").cast("double") / F.col("total_orders"), 6
            ).alias("order_share"),
            F.round(
                F.col("bucket_rev").cast("double")
                / F.col("total_rev").cast("double"),
                6,
            ).alias("revenue_share"),
        )
        .orderBy("bucket")
    )


BASKET_PROFILE_ORACLE = f"""
    WITH per_order AS (
        SELECT l_orderkey,
               CAST(count(*) AS BIGINT) AS n_items,
               sum({SQL_REVENUE}) AS rev
        FROM lineitem
        GROUP BY l_orderkey
    ),
    keyed AS (
        SELECT CAST(length(printf('%b', n_items)) - 1 AS INTEGER) AS bucket,
               n_items, rev
        FROM per_order
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS total_orders,
               sum(rev) AS total_rev
        FROM keyed
    )
    SELECT bucket,
           count(*) AS n_orders,
           min(n_items) AS min_items,
           max(n_items) AS max_items,
           CAST(sum(n_items) AS BIGINT) AS total_items,
           CAST(sum(rev) AS DOUBLE) AS revenue,
           round(CAST(count(*) AS DOUBLE) / any_value(total_orders), 6)
               AS order_share,
           round(CAST(sum(rev) AS DOUBLE) / CAST(any_value(total_rev)
                     AS DOUBLE), 6) AS revenue_share
    FROM keyed, tot
    GROUP BY bucket
    ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# Pareto frontier (skyline) -- "which customers are not beaten on BOTH
# axes?": a customer is on the frontier iff no other customer has
# spend >= AND orders >= with at least one strict.  The classic
# multi-criteria OLAP operator (Borzsony/Kossmann SKYLINE OF), used here
# to shortlist accounts no single-metric top-k can produce.
#
# The naive plan is the O(n^2) dominance self-join.  For 2 dimensions
# the skyline is a SORT problem: group customers into per-SPEND levels
# (level_max_n = best order count at that exact spend), then a point is
# dominated iff some strictly-higher spend level reaches >= its order
# count -- a running max over levels sorted by spend descending.
#
# Scale decomposition (same argument as global_exact_quantiles): one
# global running max would be a single-partition window over O(n)
# levels, so it is split into (a) a per-BIN max (combinable groupBy,
# output bounded by the price DOMAIN / BIN width, not row count),
# (b) a cross-bin running max over that broadcast-size bin table, and
# (c) an in-bin running max windowed PER BIN (groups bounded by the bin
# width's value domain).  prev_max = greatest(b, c); frontier levels
# have level_max_n > prev_max; a customer is emitted iff its level is
# on the frontier AND it attains the level max (ties all kept: equal
# (spend, n) points do not strictly dominate each other).
#
# The oracle is deliberately the UN-decomposed one-window form, so the
# bin split is checked against an independent formulation; a pytest
# property test additionally checks the NOT-EXISTS dominance definition
# on a sample.  spend is exact cents BIGINT (money discipline).
# ---------------------------------------------------------------------------

SKYLINE_BIN_CENTS = 100_000  # $1000 bins: frontier domain / width ~ O(1k) bins


def pareto_frontier_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    stats = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("spend_cents"),
    )
    lv = stats.groupBy("spend_cents").agg(
        F.max("n_orders").alias("level_max_n"),
        (F.col("spend_cents") / F.lit(SKYLINE_BIN_CENTS))
        .cast("bigint")
        .alias("bin"),
    )
    binmax = lv.groupBy("bin").agg(F.max("level_max_n").alias("bin_max"))
    wb = Window.orderBy(F.desc("bin")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    # window input is the per-bin aggregate (domain/width-bounded), not levels
    prev_bins = binmax.select(
        "bin", F.max("bin_max").over(wb).alias("prev_bins_max")
    )
    wl = (
        Window.partitionBy("bin")
        .orderBy(F.desc("spend_cents"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier_levels = (
        lv.withColumn("same_bin_prev", F.max("level_max_n").over(wl))
        .join(F.broadcast(prev_bins), "bin")
        .select(
            "spend_cents",
            "level_max_n",
            F.greatest(
                F.coalesce("same_bin_prev", F.lit(-1).cast("bigint")),
                F.coalesce("prev_bins_max", F.lit(-1).cast("bigint")),
            ).alias("prev_max"),
        )
        .filter(F.col("level_max_n") > F.col("prev_max"))
    )
    return (
        stats.join(F.broadcast(frontier_levels), "spend_cents")
        .filter(F.col("n_orders") == F.col("level_max_n"))
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "n_orders",
            "spend_cents",
            (F.col("spend_cents").cast("double") / F.lit(100.0)).alias(
                "total_spend"
            ),
        )
        .orderBy(F.desc("spend_cents"), "c_custkey")
    )


PARETO_FRONTIER_ORACLE = """
    WITH stats AS (
        SELECT o_custkey AS c_custkey,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS spend_cents
        FROM orders GROUP BY 1
    ),
    lv AS (
        SELECT spend_cents, max(n_orders) AS level_max_n
        FROM stats GROUP BY 1
    ),
    fr AS (
        SELECT spend_cents, level_max_n,
               max(level_max_n) OVER (ORDER BY spend_cents DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_max
        FROM lv
    )
    SELECT s.c_custkey, s.n_orders, s.spend_cents,
           CAST(s.spend_cents AS DOUBLE) / 100.0 AS total_spend
    FROM stats s
    JOIN fr ON s.spend_cents = fr.spend_cents
    WHERE s.n_orders = fr.level_max_n
      AND (fr.prev_max IS NULL OR fr.level_max_n > fr.prev_max)
    ORDER BY s.spend_cents DESC, s.c_custkey
"""


# ---------------------------------------------------------------------------
# Audience overlap matrix -- set relations BETWEEN the event types'
# user bases: |A n B|, Jaccard, and the overlap coefficient
# |A n B| / min(|A|, |B|) for every unordered type pair.
# dau_wau_stickiness and event_type_pivot describe each audience alone;
# segmentation and cannibalization questions ("are purchasers a subset
# of viewers?") need the PAIRWISE cells, including the zero-overlap
# pairs a join would silently drop (the full pair frame comes from the
# bounded type list, left-joined with intersections).
#
# Scale shape: one combinable distinct on (type, user), a self-join on
# user_id whose per-key expansion is bounded by the TYPE cardinality
# squared (never user-quadratic), one combinable pair rollup, and
# broadcast joins of the bounded size/pair tables.  Pure integer counts;
# the two ratios are single double divisions.
# ---------------------------------------------------------------------------


def audience_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # persist: the shuffle-distinct feeds both self-join legs and sizes
    ut = ev.select("event_type", "user_id").distinct().persist()
    sizes = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    a, b = ut.alias("a"), ut.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("users_both"))
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"), F.col("n_users").alias("users_a")
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("n_users").alias("users_b")
    )
    frame = sa.crossJoin(F.broadcast(sb)).filter(
        F.col("type_a") < F.col("type_b")
    )
    both = F.coalesce(F.col("users_both"), F.lit(0).cast("bigint"))
    return (
        frame.join(F.broadcast(inter), ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            "users_a",
            "users_b",
            both.alias("users_both"),
            (
                both.cast("double")
                / (F.col("users_a") + F.col("users_b") - both).cast("double")
            ).alias("jaccard"),
            (
                both.cast("double")
                / F.least(F.col("users_a"), F.col("users_b")).cast("double")
            ).alias("overlap_coef"),
        )
        .orderBy("type_a", "type_b")
    )


AUDIENCE_OVERLAP_ORACLE = """
    WITH ut AS (SELECT DISTINCT event_type, user_id FROM events),
    sizes AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
        FROM ut GROUP BY event_type
    ),
    inter AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS users_both
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    ),
    frame AS (
        SELECT sa.event_type AS type_a, sa.n_users AS users_a,
               sb.event_type AS type_b, sb.n_users AS users_b
        FROM sizes sa CROSS JOIN sizes sb
        WHERE sa.event_type < sb.event_type
    )
    SELECT type_a, type_b, users_a, users_b,
           COALESCE(users_both, CAST(0 AS BIGINT)) AS users_both,
           CAST(COALESCE(users_both, 0) AS DOUBLE)
               / CAST(users_a + users_b - COALESCE(users_both, 0) AS DOUBLE)
               AS jaccard,
           CAST(COALESCE(users_both, 0) AS DOUBLE)
               / CAST(least(users_a, users_b) AS DOUBLE) AS overlap_coef
    FROM frame LEFT JOIN inter USING (type_a, type_b)
    ORDER BY type_a, type_b
"""


RELATIONAL_QUERIES: list[tuple[str, object, str | None]] = [
    (
        "audience_overlap_matrix",
        audience_overlap_matrix,
        AUDIENCE_OVERLAP_ORACLE,
    ),
    ("join_cardinality_estimate", join_cardinality_estimate, JOIN_CARD_ORACLE),
    (
        "pareto_frontier_customers",
        pareto_frontier_customers,
        PARETO_FRONTIER_ORACLE,
    ),
    ("item_item_cofilter_topk", item_item_cofilter_topk, ITEM_COFILTER_ORACLE),
    ("customer_spend_gini", customer_spend_gini, GINI_ORACLE),
    ("order_basket_profile", order_basket_profile, BASKET_PROFILE_ORACLE),
    ("order_backlog_daily", order_backlog_daily, BACKLOG_ORACLE),
    ("q1_pricing_summary", q1_pricing_summary, Q1_ORACLE),
    ("q3_shipping_priority", q3_shipping_priority, Q3_ORACLE),
    ("q5_region_revenue", q5_region_revenue, Q5_ORACLE),
    ("top_orders_per_customer", top_orders_per_customer, TOP_ORDERS_ORACLE),
    ("running_customer_spend", running_customer_spend, RUNNING_SPEND_ORACLE),
    ("customer_order_stats", customer_order_stats, CUSTOMER_STATS_ORACLE),
    ("orders_above_customer_avg", orders_above_customer_avg, ABOVE_AVG_ORACLE),
    ("supplier_part_distinct", supplier_part_distinct, SUPPLIER_DISTINCT_ORACLE),
    ("rollup_sales", rollup_sales, ROLLUP_ORACLE),
    ("cube_sales", cube_sales, CUBE_ORACLE),
    ("window_function_suite", window_function_suite, WINDOW_SUITE_ORACLE),
    ("customers_without_orders", customers_without_orders, NO_ORDERS_ORACLE),
    ("high_value_customers_semi", high_value_customers_semi, HIGH_VALUE_ORACLE),
    ("segment_priority_setops", segment_priority_setops, SETOPS_ORACLE),
    ("part_scalar_suite", part_scalar_suite, PART_SCALAR_ORACLE),
    ("orders_date_suite", orders_date_suite, ORDERS_DATE_ORACLE),
    ("events_json_stats", events_json_stats, EVENTS_JSON_ORACLE),
    ("event_type_pivot", event_type_pivot, PIVOT_ORACLE),
    ("global_topk_orders", global_topk_orders, GLOBAL_TOPK_ORACLE),
    ("q4_order_priority", q4_order_priority, Q4_ORACLE),
    ("q7_nation_volume", q7_nation_volume, Q7_ORACLE),
    ("q13_customer_order_distribution", q13_customer_order_distribution, Q13_ORACLE),
    ("q18_large_orders", q18_large_orders, Q18_ORACLE),
    ("grouping_sets_sales", grouping_sets_sales, GROUPING_SETS_ORACLE),
    ("cohort_retention", cohort_retention, COHORT_ORACLE),
    ("event_funnel_conversion", event_funnel_conversion, FUNNEL_ORACLE),
    ("q6_forecast_revenue", q6_forecast_revenue, Q6_ORACLE),
    ("q10_returned_items", q10_returned_items, Q10_ORACLE),
    ("q12_shipping_delay", q12_shipping_delay, Q12_ORACLE),
    ("q14_promo_revenue", q14_promo_revenue, Q14_ORACLE),
    ("q17_small_quantity_revenue", q17_small_quantity_revenue, Q17_ORACLE),
    ("q19_disjunctive_revenue", q19_disjunctive_revenue, Q19_ORACLE),
    ("q2_min_revenue_supplier", q2_min_revenue_supplier, Q2_ORACLE),
    ("q8_market_share", q8_market_share, Q8_ORACLE),
    ("q9_widget_nation_revenue", q9_widget_nation_revenue, Q9_ORACLE),
    ("q11_revenue_concentration", q11_revenue_concentration, Q11_ORACLE),
    ("q15_top_supplier", q15_top_supplier, Q15_ORACLE),
    ("q16_supplier_diversity", q16_supplier_diversity, Q16_ORACLE),
    ("q20_heavy_shippers", q20_heavy_shippers, Q20_ORACLE),
    ("q21_waiting_suppliers", q21_waiting_suppliers, Q21_ORACLE),
    ("q22_idle_rich_customers", q22_idle_rich_customers, Q22_ORACLE),
    ("unpivot_event_counts", unpivot_event_counts, UNPIVOT_ORACLE),
    ("rolling_1h_user_value", rolling_1h_user_value, ROLLING_ORACLE),
    ("loyal_customers_division", loyal_customers_division, DIVISION_ORACLE),
    ("customer_rfm_features", customer_rfm_features, RFM_ORACLE),
    # sketch-bounded scoring: engine-specific boundaries -> rows-only
    (
        "customer_rfm_features_approx",
        customer_rfm_features_approx,
        RFM_APPROX_AUDIT_ORACLE,
    ),
    ("join_key_skew_profile", join_key_skew_profile, SKEW_PROFILE_ORACLE),
    ("copurchase_part_pairs", copurchase_part_pairs, COPURCHASE_ORACLE),
    ("copurchase_rules", copurchase_rules, COPURCHASE_RULES_ORACLE),
    ("negative_sampling_pairs", negative_sampling_pairs, NEGATIVE_SAMPLING_ORACLE),
]
