"""Completing the TPC-H-style suite (q2, q4, q9, q11, q12, q16, q20, q21)
adapted to the driver's reduced star schema.

The reference itself has no joins or subqueries (SURVEY.md §2.10 —
/root/reference has only the three taxi streaming apps); this module, with
tpch_queries/tpch_more, gives the engine the full 22-query relational
surface a general analytics engine needs.

Schema adaptations (no partsupp table; lineitem lacks
commitdate/receiptdate/shipmode): the part-supplier relation is DERIVED
from lineitem (distinct (l_partkey, l_suppkey) with min unit price as the
supply cost), and "late shipment" predicates use l_shipdate vs
o_orderdate lags instead of commit/receipt dates. Each query notes its
adaptation.

Determinism policy (same as tpch_queries): double aggregates are ROUND()ed
on both engines; min/max over exact per-row doubles need no rounding;
quantities are integral doubles so their sums are exact.

Scale notes are per-query docstrings: the design rule is that every join
against part/supplier/nation/customer-sized tables is broadcast, and the
only O(fact) shuffles are keyed aggregations on lineitem/orders keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_streaming_demo_spark.functions.money import money_sum, sql_money_sum
from flink_streaming_demo_spark.plans.registry import register
from flink_streaming_demo_spark.schemas import load_table as t


def _derived_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stand-in for TPC-H partsupp: per (partkey, suppkey) observed in
    lineitem, supply cost = min unit price. Unit price is an exact per-row
    double op and MIN is order-independent, so no rounding is needed."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("ps_supplycost"))


_DERIVED_PARTSUPP_SQL = """
    SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
           MIN(l_extendedprice / l_quantity) AS ps_supplycost
    FROM lineitem GROUP BY 1, 2
"""


# --- Q2: minimum-cost supplier (correlated min subquery) ---------------------

def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For SMALL parts of size<=10, the ASIA supplier(s) offering the
    region-wide minimum derived supply cost per part.

    Spark plan: the correlated MIN subquery is decorrelated into a
    groupBy + join (what Catalyst does to the SQL form anyway). The
    derived partsupp is one O(lineitem) aggregation; everything joined to
    it (part, supplier, nation, region, per-part min) is dimension-sized
    and broadcast, so there is exactly one fact-table shuffle.
    """
    ps = _derived_partsupp(spark, sf_dir)
    prt = t(spark, sf_dir, "part").filter(
        (F.col("p_type") == "SMALL") & (F.col("p_size") <= 10)
    )
    supp = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    reg = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")

    # Region-scoped part-supplier offers. The subtree feeds TWO consumers
    # (the per-part min and the final equi-join); pinning it behind one
    # hash exchange on ps_partkey lets ReusedExchange compute the
    # lineitem-derived relation once instead of once per consumer.
    offers = (
        ps.join(F.broadcast(supp), ps.ps_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .repartition(
            spark.sparkContext.defaultParallelism, F.col("ps_partkey")
        )
    )
    min_cost = offers.groupBy(F.col("ps_partkey").alias("mc_partkey")).agg(
        F.min("ps_supplycost").alias("min_cost")
    )
    return (
        offers.join(
            F.broadcast(min_cost),
            (F.col("ps_partkey") == F.col("mc_partkey"))
            & (F.col("ps_supplycost") == F.col("min_cost")),
        )
        .join(F.broadcast(prt), F.col("ps_partkey") == prt.p_partkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.round("ps_supplycost", 4).alias("supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


register(
    "tpch_q2_min_cost_supplier",
    tpch_q2_min_cost_supplier,
    f"""
    WITH ps AS ({_DERIVED_PARTSUPP_SQL}),
    offers AS (
        SELECT ps.*, s_acctbal, s_name, n_name
        FROM ps
        JOIN supplier ON s_suppkey = ps_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        JOIN region ON r_regionkey = n_regionkey
        WHERE r_name = 'ASIA'
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
           ROUND(ps_supplycost, 4) AS supplycost
    FROM offers
    JOIN part ON p_partkey = ps_partkey
    WHERE p_type = 'SMALL' AND p_size <= 10
      AND ps_supplycost = (
          SELECT MIN(o2.ps_supplycost) FROM offers o2
          WHERE o2.ps_partkey = offers.ps_partkey
      )
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)


# --- Q4: order-priority checking (EXISTS semi-join) --------------------------

def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders placed in 1996-Q1 with at least one line item shipped more
    than 60 days after the order date, counted per priority.

    Adaptation: the reference schema has no commit/receipt dates, so "late"
    is l_shipdate > o_orderdate + 60 days.

    Spark plan: LEFT SEMI join — the build side is orders already cut to
    one quarter by a pushed-down scan filter; at 100 TB the quarter of
    orders shuffles against lineitem on orderkey and the semi join keeps
    at most one match per order (no fan-out), then a 5-row aggregate.
    """
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.expr("timestamp'1996-01-01'"))
        & (F.col("o_orderdate") < F.expr("timestamp'1996-04-01'"))
    )
    li = t(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


register(
    "tpch_q4_order_priority",
    tpch_q4_order_priority,
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey
            AND l_shipdate > o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)


# --- Q9: product-type profit by nation and year ------------------------------

def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit on 'red' parts per supplier nation per order year.

    Adaptation: no ps_supplycost, so cost = 0.8 * p_retailprice * quantity.
    Profit is a money sum (``functions.money.money_sum``).

    Spark plan: part (filtered by name) and supplier/nation broadcast into
    the lineitem scan; the one big shuffle is lineitem joins orders on
    orderkey (both fact-sized — at scale this is the sort-merge join to
    co-partition by orderkey), then a (nation x year)-sized aggregate.
    """
    prt = t(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    supp = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    return (
        li.join(F.broadcast(prt), li.l_partkey == prt.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            money_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
                - F.lit(0.8) * F.col("p_retailprice") * F.col("l_quantity")
            ).alias("sum_profit")
        )
        .orderBy("nation", F.desc("o_year"))
    )


register(
    "tpch_q9_product_profit",
    tpch_q9_product_profit,
    f"""
    SELECT n_name AS nation,
           CAST(YEAR(o_orderdate) AS INT) AS o_year,
           {sql_money_sum("l_extendedprice * (1 - l_discount)"
                          " - 0.8 * p_retailprice * l_quantity")}
               AS sum_profit
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN orders ON o_orderkey = l_orderkey
    WHERE p_name LIKE 'red%'
    GROUP BY 1, 2
    ORDER BY nation, o_year DESC
    """,
)


# --- Q11: important inventory (scalar subquery threshold) --------------------

def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose inventory value from NATION_3 suppliers exceeds 0.1% of
    that nation's total inventory value (value = supplycost * total qty
    over the derived partsupp).

    Spark plan: the global total is a scalar — computed once and joined
    as a literal-sized broadcast (crossJoin of a 1-row DF), not a
    collect(): the plan stays fully lazy/distributed, and AQE folds the
    1-row side into a broadcast nested loop. Quantities are integral so
    SUM(qty) is exact; item values are summed as DECIMAL(28,8) — exact,
    order-independent — because double sums proved to straddle a cent
    boundary at sf0.01 (per-row doubles are identical across engines;
    only the summation needed exactness).
    """
    ps = _derived_partsupp(spark, sf_dir)
    li = t(spark, sf_dir, "lineitem")
    qty = li.groupBy(F.col("l_partkey").alias("q_partkey"), "l_suppkey").agg(
        F.sum("l_quantity").alias("total_qty")
    )
    supp = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    scoped = (
        ps.join(
            qty,
            (ps.ps_partkey == F.col("q_partkey"))
            & (ps.ps_suppkey == F.col("l_suppkey")),
        )
        .join(F.broadcast(supp), ps.ps_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "ps_partkey",
            (F.col("ps_supplycost") * F.col("total_qty"))
            .cast("decimal(28,8)")
            .alias("item_value"),
        )
    )
    per_part = scoped.groupBy("ps_partkey").agg(
        F.round(F.sum("item_value"), 2).cast("double").alias("part_value")
    )
    threshold = scoped.agg(
        (F.round(F.sum("item_value"), 2) * F.lit(0.001))
        .cast("double")
        .alias("threshold")
    )
    return (
        per_part.crossJoin(F.broadcast(threshold))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("ps_partkey", "part_value")
        .orderBy(F.desc("part_value"), "ps_partkey")
    )


register(
    "tpch_q11_important_stock",
    tpch_q11_important_stock,
    f"""
    WITH ps AS ({_DERIVED_PARTSUPP_SQL}),
    qty AS (
        SELECT l_partkey AS q_partkey, l_suppkey, SUM(l_quantity) AS total_qty
        FROM lineitem GROUP BY 1, 2
    ),
    scoped AS (
        SELECT ps_partkey,
               CAST(ps_supplycost * total_qty AS DECIMAL(28,8)) AS item_value
        FROM ps
        JOIN qty ON q_partkey = ps_partkey AND l_suppkey = ps_suppkey
        JOIN supplier ON s_suppkey = ps_suppkey
        JOIN nation ON n_nationkey = s_nationkey
        WHERE n_name = 'NATION_3'
    )
    SELECT ps_partkey, CAST(ROUND(SUM(item_value), 2) AS DOUBLE) AS part_value
    FROM scoped
    GROUP BY ps_partkey
    HAVING CAST(ROUND(SUM(item_value), 2) AS DOUBLE) >
           CAST((SELECT ROUND(SUM(item_value), 2) * 0.001 FROM scoped) AS DOUBLE)
    ORDER BY part_value DESC, ps_partkey
    """,
)


# --- Q12: shipping-speed priority histogram ----------------------------------

def tpch_q12_ship_speed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per shipping-speed bucket (days from order to ship), how many
    line items belong to critical-priority orders vs not, for 1997
    shipments.

    Adaptation: no l_shipmode column — the group key is a derived
    ship-speed bucket (FAST <= 30d < MEDIUM <= 90d < SLOW).

    Spark plan: one shuffle (lineitem joins orders on orderkey at fact
    scale), conditional aggregation map-side-combines to 3 rows. The
    1997 filter pushes down to the lineitem scan.
    """
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.expr("timestamp'1997-01-01'"))
        & (F.col("l_shipdate") < F.expr("timestamp'1998-01-01'"))
    )
    orders = t(spark, sf_dir, "orders")
    days = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    bucket = (
        F.when(days <= 30, "FAST").when(days <= 90, "MEDIUM").otherwise("SLOW")
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(bucket.alias("ship_speed"))
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("ship_speed")
    )


register(
    "tpch_q12_ship_speed",
    tpch_q12_ship_speed,
    """
    SELECT CASE WHEN DATE_DIFF('day', o_orderdate, l_shipdate) <= 30 THEN 'FAST'
                WHEN DATE_DIFF('day', o_orderdate, l_shipdate) <= 90 THEN 'MEDIUM'
                ELSE 'SLOW' END AS ship_speed,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1
    ORDER BY ship_speed
    """,
)


# --- Q16: supplier count per part profile (NOT IN anti-join) -----------------

def tpch_q16_parts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct supplier count per (brand, type, size) for mid-size parts,
    excluding Brand#13 and excluding low-balance suppliers (NOT IN).

    Spark plan: NOT IN over a non-null key column is a LEFT ANTI broadcast
    join (the excluded-supplier list is tiny). The distinct (partkey,
    suppkey) pairs come from the derived partsupp; count(DISTINCT) is the
    only fact-scale shuffle.
    """
    ps = _derived_partsupp(spark, sf_dir).select("ps_partkey", "ps_suppkey")
    bad_supp = t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 500.0)
    prt = t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13") & F.col("p_size").isin(5, 10, 15, 20)
    )
    return (
        ps.join(
            F.broadcast(bad_supp),
            ps.ps_suppkey == bad_supp.s_suppkey,
            "left_anti",
        )
        .join(F.broadcast(prt), ps.ps_partkey == prt.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


register(
    "tpch_q16_parts_supplier",
    tpch_q16_parts_supplier,
    f"""
    WITH ps AS ({_DERIVED_PARTSUPP_SQL})
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT ps_suppkey) AS supplier_cnt
    FROM ps
    JOIN part ON p_partkey = ps_partkey
    WHERE p_brand <> 'Brand#13'
      AND p_size IN (5, 10, 15, 20)
      AND ps_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 500.0
      )
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)


# --- Q20: suppliers with excess stock of promoted parts ----------------------

def tpch_q20_excess_supply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who shipped more than half of a 'small' part's total 1997
    volume — i.e. dominant suppliers of promoted parts.

    Spark plan: per-(part, supplier) 1997 volumes and per-part totals are
    two aggregations over the SAME shuffle key prefix (l_partkey) — the
    second reuses the first's output (partial-on-partial), then a
    part-sized broadcast threshold join and a LEFT SEMI into supplier.
    Quantity sums are exact (integral doubles), so the 0.5x threshold
    compare is deterministic without rounding.
    """
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.expr("timestamp'1997-01-01'"))
        & (F.col("l_shipdate") < F.expr("timestamp'1998-01-01'"))
    )
    prt = t(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    li_small = li.join(F.broadcast(prt), li.l_partkey == prt.p_partkey)
    per_ps = li_small.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("supp_qty")
    )
    per_part = per_ps.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum("supp_qty").alias("part_qty")
    )
    dominant = (
        per_ps.join(
            F.broadcast(per_part), F.col("l_partkey") == F.col("t_partkey")
        )
        .filter(F.col("supp_qty") > F.lit(0.5) * F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    supp = t(spark, sf_dir, "supplier")
    nat = t(spark, sf_dir, "nation")
    return (
        supp.join(dominant, supp.s_suppkey == dominant.l_suppkey, "left_semi")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


register(
    "tpch_q20_excess_supply",
    tpch_q20_excess_supply,
    """
    WITH per_ps AS (
        SELECT l_partkey, l_suppkey, SUM(l_quantity) AS supp_qty
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE 'small%'
          AND l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY 1, 2
    ),
    per_part AS (
        SELECT l_partkey AS t_partkey, SUM(supp_qty) AS part_qty
        FROM per_ps GROUP BY 1
    )
    SELECT s_name, n_name
    FROM supplier
    JOIN nation ON n_nationkey = s_nationkey
    WHERE s_suppkey IN (
        SELECT l_suppkey FROM per_ps
        JOIN per_part ON t_partkey = l_partkey
        WHERE supp_qty > 0.5 * part_qty
    )
    ORDER BY s_name
    """,
)


# --- Q21: suppliers who kept orders waiting ----------------------------------

def tpch_q21_waiting_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per supplier: how many finalized multi-supplier orders they alone
    delayed (their last shipment is the strict latest in the order).

    Adaptation: no commit/receipt dates — "delayed the order" means the
    supplier's max l_shipdate is the order's unique maximum while other
    suppliers participate (the EXISTS / NOT EXISTS pair of standard Q21
    becomes nsupp > 1 AND n_at_max == 1).

    Spark plan (r15 rewrite): ONE scan and ONE exchange of the fact
    table. The projected lineitem is hash-repartitioned by l_orderkey;
    the (l_orderkey, l_suppkey) aggregate runs on that partitioning
    (hashpartitioning(l_orderkey) satisfies the grouping's clustered
    distribution), and the per-order roll-up (order max, supplier
    count, count-at-max) is two Window nodes over the SAME partitioning
    — no second fact shuffle, and no second fact scan (the previous
    groupBy + self-join shape scanned and shuffled lineitem twice;
    ReuseExchange did not fire because the join sides carried different
    null filters). The orders join stays an orderkey semi-join
    (broadcast at bench scale, sort-merge at 100 TB — AQE's call);
    supplier names broadcast at the end.
    """
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    per_os = (
        li.select("l_orderkey", "l_suppkey", "l_shipdate")
        .repartition(F.col("l_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("l_shipdate").alias("s_max"))
    )
    w = Window.partitionBy("l_orderkey")
    culprit = (
        per_os.withColumn("o_max", F.max("s_max").over(w))
        .withColumn("nsupp", F.count("*").over(w))
        .withColumn(
            "n_at_max",
            F.sum(
                F.when(F.col("s_max") == F.col("o_max"), 1).otherwise(0)
            ).over(w),
        )
        .filter(
            (F.col("s_max") == F.col("o_max"))
            & (F.col("nsupp") > 1)
            & (F.col("n_at_max") == 1)
        )
        .join(orders, F.col("l_orderkey") == orders.o_orderkey, "left_semi")
    )
    supp = t(spark, sf_dir, "supplier")
    return (
        culprit.join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


register(
    "tpch_q21_waiting_orders",
    tpch_q21_waiting_orders,
    """
    WITH per_os AS (
        SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS s_max
        FROM lineitem GROUP BY 1, 2
    ),
    per_order AS (
        SELECT l_orderkey AS o_key, MAX(s_max) AS o_max, COUNT(*) AS nsupp
        FROM per_os GROUP BY 1
    ),
    at_max AS (
        SELECT per_os.l_orderkey, l_suppkey, nsupp,
               COUNT(*) OVER (PARTITION BY per_os.l_orderkey) AS n_at_max
        FROM per_os
        JOIN per_order ON o_key = l_orderkey AND s_max = o_max
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM at_max
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    WHERE nsupp > 1 AND n_at_max = 1 AND o_orderstatus = 'F'
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
