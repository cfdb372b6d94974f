"""General OLAP operator surface over the driver's star schema (SURVEY §2.10).

The reference contains none of these (no joins, sorts, set ops, grouping
sets, SQL window functions — SURVEY §2.10), but the checklist requires them;
they are deliberately plain built-in Spark operators so Catalyst owns the
physical strategy. Scale stance per query is noted inline (broadcast vs
shuffle join, partial aggregation, top-k without global sort).

Float determinism: SUM/AVG over doubles is addition-order-dependent, so
every double aggregate is wrapped in ROUND(..., 2|6) on BOTH sides, and
every money sum goes through ``functions.money.money_sum``; raw
(non-aggregated) doubles are passed through untouched (bit-identical).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_streaming_demo_spark.functions.money import money_sum, sql_money_sum
from flink_streaming_demo_spark.plans.registry import register
from flink_streaming_demo_spark.schemas import load_table as t


# --- TPC-H Q1: wide aggregation ---------------------------------------------

def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GroupBy two low-cardinality cols + 8 aggregates. At 100 TB: pure
    map-side partial aggregation into a 6-group final — shuffle carries only
    partitions x 6 rows; filter pushed to parquet scan."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.expr("timestamp'1998-09-01'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            money_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("sum_disc_price"),
            money_sum(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


register(
    "tpch_q1_pricing_summary",
    tpch_q1_pricing_summary,
    f"""
    SELECT
        l_returnflag,
        l_linestatus,
        ROUND(SUM(l_quantity), 2) AS sum_qty,
        {sql_money_sum("l_extendedprice")} AS sum_base_price,
        {sql_money_sum("l_extendedprice * (1 - l_discount)")}
            AS sum_disc_price,
        {sql_money_sum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")}
            AS sum_charge,
        ROUND(AVG(l_quantity), 6) AS avg_qty,
        ROUND(AVG(l_extendedprice), 6) AS avg_price,
        ROUND(AVG(l_discount), 6) AS avg_disc,
        COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)


# --- TPC-H Q3: 3-way join + top-k -------------------------------------------

def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ orders ⋈ lineitem, revenue per order, top 10.

    Scale: customer is the small side -> broadcast; orders⋈lineitem shuffles
    on orderkey (natural co-partitioning key). Top-10 uses orderBy+limit =
    distributed TakeOrdered (per-partition top-k then merge), never a global
    sort. Tie-break on l_orderkey for determinism; ranking happens on the
    ROUNDED revenue so both engines rank identical values."""
    cust = t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.expr("timestamp'1998-01-01'")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.expr("timestamp'1997-01-01'")
    )
    joined = li.join(
        orders, li.l_orderkey == orders.o_orderkey
    ).join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    agg = joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        money_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("revenue")
    )
    return agg.orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(10)


register(
    "tpch_q3_shipping_priority",
    tpch_q3_shipping_priority,
    f"""
    SELECT
        l_orderkey,
        CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
        o_orderpriority,
        {sql_money_sum("l_extendedprice * (1 - l_discount)")} AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > TIMESTAMP '1997-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
)


# --- TPC-H Q5: 6-way join ----------------------------------------------------

def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """region ⋈ nation ⋈ customer ⋈ orders ⋈ lineitem ⋈ supplier with the
    TPC-H same-nation constraint. Scale: region/nation/supplier/customer all
    broadcast; the only shuffle is orders⋈lineitem on orderkey."""
    reg = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nat = t(spark, sf_dir, "nation")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.expr("timestamp'1996-01-01'"))
        & (F.col("o_orderdate") < F.expr("timestamp'1998-01-01'"))
    )
    li = t(spark, sf_dir, "lineitem")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(
            F.broadcast(cust),
            (orders.o_custkey == cust.c_custkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    )
    return joined.groupBy("n_name").agg(
        money_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("revenue")
    )


register(
    "tpch_q5_local_supplier_volume",
    tpch_q5_local_supplier_volume,
    f"""
    SELECT
        n_name,
        {sql_money_sum("l_extendedprice * (1 - l_discount)")} AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)


# --- TPC-H Q6: selective scan + scalar aggregate ----------------------------

def tpch_q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All predicates push to the parquet scan (min/max row-group skipping
    on l_shipdate/l_discount/l_quantity at scale); single scalar result."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.expr("timestamp'1996-01-01'"))
            & (F.col("l_shipdate") < F.expr("timestamp'1997-01-01'"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            money_sum(F.col("l_extendedprice") * F.col("l_discount")).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


register(
    "tpch_q6_revenue_forecast",
    tpch_q6_revenue_forecast,
    f"""
    SELECT
        {sql_money_sum("l_extendedprice * l_discount")} AS revenue,
        COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)


# --- TPC-H Q18: having over join --------------------------------------------

def tpch_q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate lineitem by orderkey first (shuffle on orderkey), filter by
    HAVING, then join the *small filtered result* to orders+customer.
    Aggregating before joining keeps the join input minimal at scale."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            F.col("c_name"),
            F.col("c_custkey"),
            F.col("o_orderkey"),
            F.col("o_orderdate"),
            F.col("o_totalprice"),
            F.col("total_qty"),
        )
    )


register(
    "tpch_q18_large_volume_customer",
    tpch_q18_large_volume_customer,
    """
    WITH big AS (
        SELECT l_orderkey, ROUND(SUM(l_quantity), 2) AS total_qty
        FROM lineitem
        GROUP BY l_orderkey
        HAVING ROUND(SUM(l_quantity), 2) > 150
    )
    SELECT
        c_name,
        c_custkey,
        o_orderkey,
        CAST(o_orderdate AS TIMESTAMP) AS o_orderdate,
        o_totalprice,
        total_qty
    FROM big
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    """,
)


# --- ROLLUP / CUBE -----------------------------------------------------------

def star_rollup_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    return orders.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


register(
    "star_rollup_order_priority",
    star_rollup_order_priority,
    """
    SELECT
        o_orderstatus,
        o_orderpriority,
        COUNT(*) AS n_orders,
        ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)


def star_cube_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


register(
    "star_cube_returnflag",
    star_cube_returnflag,
    """
    SELECT
        l_returnflag,
        l_linestatus,
        COUNT(*) AS n_items,
        ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)


def star_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube): per (flag, status),
    per flag alone, and the grand total — arbitrary set lists that neither
    rollup nor cube express. Spark 4's DataFrame groupingSets API."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


register(
    "star_grouping_sets",
    star_grouping_sets,
    """
    SELECT
        l_returnflag,
        l_linestatus,
        COUNT(*) AS n_items,
        ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)


# --- Semi / anti joins -------------------------------------------------------

def star_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no URGENT order.

    The anti-join runs against a FILTERED orders subset (priority =
    1-URGENT) rather than all orders — the generator gives every customer
    at least one order, so the unfiltered variant is vacuously empty; this
    keeps the NOT-EXISTS shape and returns real rows (203 customers at
    sf0.01). Scale: the filter pushes to the orders scan; the anti join on
    custkey shuffles both sides unless the filtered custkey projection is
    broadcastable after dedup (AQE decides).
    """
    cust = t(spark, sf_dir, "customer")
    urgent = t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


register(
    "star_customers_without_orders",
    star_customers_without_orders,
    """
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer
    WHERE NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
    )
    GROUP BY c_mktsegment
    """,
)


def star_customers_with_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS)."""
    cust = t(spark, sf_dir, "customer")
    urgent = t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")


register(
    "star_customers_with_urgent_orders",
    star_customers_with_urgent_orders,
    """
    SELECT c_custkey, c_name, c_mktsegment, c_acctbal
    FROM customer
    WHERE EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
    )
    """,
)


# --- Top-k per group (SQL window functions) ---------------------------------

def star_topk_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number over (partition by segment order by totalprice desc).
    Scale: single shuffle on the partition key; no global sort."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    joined = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("c_mktsegment", "rk", "o_orderkey", "o_totalprice", "c_name")
    )


register(
    "star_topk_orders_per_segment",
    star_topk_orders_per_segment,
    """
    SELECT c_mktsegment, rk, o_orderkey, o_totalprice, c_name
    FROM (
        SELECT
            c_mktsegment,
            ROW_NUMBER() OVER (
                PARTITION BY c_mktsegment
                ORDER BY o_totalprice DESC, o_orderkey ASC
            ) AS rk,
            o_orderkey, o_totalprice, c_name
        FROM orders JOIN customer ON o_custkey = c_custkey
    )
    WHERE rk <= 3
    """,
)


def star_lineitem_window_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag / lead / rank / running sum with an explicit ROWS frame; ordering
    key (l_orderkey, l_linenumber) is unique -> fully deterministic,
    including the sequential IEEE addition order of the running sum."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.lag("l_quantity", 1).over(w).alias("prev_qty"),
        F.lead("l_quantity", 1).over(w).alias("next_qty"),
        F.rank().over(
            Window.partitionBy("l_orderkey").orderBy(
                F.desc("l_quantity"), F.asc("l_linenumber")
            )
        ).alias("qty_rank"),
        F.sum("l_quantity").over(wsum).alias("running_qty"),
        F.count(F.lit(1)).over(
            Window.partitionBy("l_orderkey")
        ).alias("n_lines"),
    )


register(
    "star_lineitem_window_functions",
    star_lineitem_window_functions,
    """
    SELECT
        l_orderkey,
        l_linenumber,
        l_quantity,
        LAG(l_quantity, 1) OVER w AS prev_qty,
        LEAD(l_quantity, 1) OVER w AS next_qty,
        RANK() OVER (
            PARTITION BY l_orderkey ORDER BY l_quantity DESC, l_linenumber ASC
        ) AS qty_rank,
        SUM(l_quantity) OVER (
            PARTITION BY l_orderkey ORDER BY l_linenumber
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS running_qty,
        COUNT(*) OVER (PARTITION BY l_orderkey) AS n_lines
    FROM lineitem
    WHERE l_orderkey < 100
    WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber)
    """,
)


# --- Distinct aggregation ----------------------------------------------------

def star_distinct_part_supp(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct("l_partkey", "l_suppkey").alias("n_part_supp"),
    )


register(
    "star_distinct_part_supp",
    star_distinct_part_supp,
    """
    SELECT
        l_returnflag,
        COUNT(DISTINCT l_partkey) AS n_parts,
        COUNT(DISTINCT l_suppkey) AS n_supps,
        COUNT(DISTINCT (l_partkey, l_suppkey)) AS n_part_supp
    FROM lineitem
    GROUP BY l_returnflag
    """,
)


# --- Set operations ----------------------------------------------------------

def star_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT (distinct semantics) over customer keys."""
    orders = t(spark, sf_dir, "orders")
    urgent = orders.filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey")
    high = orders.filter(
        F.col("o_orderpriority") == "2-HIGH"
    ).select("o_custkey")
    low = orders.filter(
        F.col("o_orderpriority") == "5-LOW"
    ).select("o_custkey")
    both = urgent.intersect(high)
    only_urgent = urgent.subtract(high)  # EXCEPT (distinct semantics)
    either = urgent.union(low).distinct()
    return (
        both.withColumn("bucket", F.lit("urgent_and_high"))
        .union(only_urgent.withColumn("bucket", F.lit("urgent_not_high")))
        .union(either.withColumn("bucket", F.lit("urgent_or_low")))
        .select("bucket", "o_custkey")
    )


register(
    "star_set_operations",
    star_set_operations,
    """
    SELECT 'urgent_and_high' AS bucket, o_custkey FROM (
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
    )
    UNION ALL
    SELECT 'urgent_not_high' AS bucket, o_custkey FROM (
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
    )
    UNION ALL
    SELECT 'urgent_or_low' AS bucket, o_custkey FROM (
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        UNION
        SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
    )
    """,
)


# --- Scalar function library -------------------------------------------------

def star_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/date/math scalar surface over part+orders (deterministic,
    engine-portable subset — no libm-dependent functions like pow/exp)."""
    prt = t(spark, sf_dir, "part").filter(F.col("p_partkey") < 50)
    return prt.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.trim(F.lit("  pad  ")).alias("trimmed"),
        F.abs(F.col("p_retailprice") - 1000.0).alias("price_diff"),
        (F.col("p_size") % 5).alias("size_mod"),
        F.greatest("p_size", F.lit(25)).alias("size_or_25"),
        F.least("p_size", F.lit(25)).alias("size_min_25"),
        F.when(F.col("p_size") > 25, "large")
        .when(F.col("p_size") > 10, "medium")
        .otherwise("small")
        .alias("size_class"),
        F.coalesce(F.nullif("p_brand", F.lit("Brand#13")), F.lit("OTHER")).alias(
            "brand_or_other"
        ),
    )


register(
    "star_scalar_functions",
    star_scalar_functions,
    """
    SELECT
        p_partkey,
        UPPER(p_name) AS name_upper,
        LOWER(p_brand) AS brand_lower,
        CAST(LENGTH(p_name) AS INT) AS name_len,
        SUBSTRING(p_name, 1, 5) AS name_prefix,
        CONCAT_WS('|', p_brand, p_type) AS brand_type,
        TRIM('  pad  ') AS trimmed,
        ABS(p_retailprice - 1000.0) AS price_diff,
        p_size % 5 AS size_mod,
        GREATEST(p_size, 25) AS size_or_25,
        LEAST(p_size, 25) AS size_min_25,
        CASE WHEN p_size > 25 THEN 'large'
             WHEN p_size > 10 THEN 'medium'
             ELSE 'small' END AS size_class,
        COALESCE(NULLIF(p_brand, 'Brand#13'), 'OTHER') AS brand_or_other
    FROM part
    WHERE p_partkey < 50
    """,
)


def star_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar surface over orders (year/quarter/month/day,
    date_trunc, datediff, date arithmetic)."""
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200)
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.quarter("o_orderdate").alias("qtr"),
        F.month("o_orderdate").alias("mon"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.date_trunc("week", F.col("o_orderdate")).alias("week_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("due_ts"),
        F.datediff(
            F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("days_to_2002"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("iso_date"),
    )


register(
    "star_date_functions",
    star_date_functions,
    """
    SELECT
        o_orderkey,
        CAST(YEAR(o_orderdate) AS INT) AS yr,
        CAST(QUARTER(o_orderdate) AS INT) AS qtr,
        CAST(MONTH(o_orderdate) AS INT) AS mon,
        CAST(DAYOFMONTH(o_orderdate) AS INT) AS dom,
        CAST(DATE_TRUNC('month', o_orderdate) AS TIMESTAMP) AS month_start,
        CAST(DATE_TRUNC('week', o_orderdate) AS TIMESTAMP) AS week_start,
        CAST(o_orderdate + INTERVAL 90 DAY AS TIMESTAMP) AS due_ts,
        CAST(DATE '2002-01-01' - CAST(o_orderdate AS DATE) AS INT)
            AS days_to_2002,
        STRFTIME(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%d') AS iso_date
    FROM orders
    WHERE o_orderkey < 200
    """,
)


def star_salted_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe equi-join IN the driver-checked surface: orders joined
    to customer through operators/scale.salted_join (shuffle key becomes
    (custkey, salt), hot customers split over 8 reducers; the dim side
    replicates 8x), then the per-mktsegment order count. The oracle is
    the PLAIN join + group-by: the mitigation must be result-invisible,
    which is the deploy bar for salting a skewed 100 TB fact-dim join
    that sits above the broadcast threshold."""
    from flink_streaming_demo_spark.operators.scale import salted_join

    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = (
        t(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("o_custkey"), F.col("c_mktsegment")
        )
    )
    return (
        salted_join(orders, cust, "o_custkey", n_salts=8)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


register(
    "star_salted_join_counts",
    star_salted_join_counts,
    """
    SELECT c.c_mktsegment, COUNT(*) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
