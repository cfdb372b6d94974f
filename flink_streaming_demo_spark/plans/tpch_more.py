"""Extended TPC-H-style coverage over the driver's (reduced) star schema.

The reference has no joins/subqueries at all (SURVEY §2.10); these queries
exist to exercise the full relational operator surface a reference user
would expect from a general engine: multi-way joins with disjunctive
predicates, left-join histograms, correlated and scalar subqueries,
ratio aggregates, and top-k.

The driver's schema is a *reduced* TPC-H (no partsupp, no
comment/phone/shipmode/commitdate columns), so each query is the standard
TPC-H shape adapted to available columns; adaptations are noted per query.

Float determinism (same policy as tpch_queries): every money sum goes
through ``functions.money.money_sum``, every other double aggregate is
ROUND()ed on both sides, and ratios divide *already-rounded* sums so the
quotient is identical regardless of addition order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_streaming_demo_spark.functions.money import money_sum, sql_money_sum
from flink_streaming_demo_spark.plans.registry import register
from flink_streaming_demo_spark.schemas import load_table as t


# --- TPC-H Q7: volume shipping between two nations ---------------------------

def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional nation-pair trade volume by ship year.

    Scale: nation/supplier/customer broadcast; the only shuffle is
    lineitem⋈orders on orderkey, then a tiny (2x2xyears) final aggregate.
    The disjunctive nation-pair predicate is applied after the broadcast
    joins, still before the shuffle-side aggregation.
    """
    n1 = "NATION_1"
    n2 = "NATION_2"
    supp = t(spark, sf_dir, "supplier")
    cust = t(spark, sf_dir, "customer")
    nat_s = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    nat_c = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.expr("timestamp'1996-01-01'"))
        & (F.col("l_shipdate") < F.expr("timestamp'1998-01-01'"))
    )
    orders = t(spark, sf_dir, "orders")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat_s), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(nat_c), F.col("c_nationkey") == F.col("cn_key"))
        .filter(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "revenue"
        )
    )


register(
    "tpch_q7_volume_shipping",
    tpch_q7_volume_shipping,
    f"""
    SELECT
        supp_nation,
        cust_nation,
        l_year,
        {sql_money_sum("volume")} AS revenue
    FROM (
        SELECT
            n1.n_name AS supp_nation,
            n2.n_name AS cust_nation,
            CAST(YEAR(l_shipdate) AS INT) AS l_year,
            l_extendedprice * (1 - l_discount) AS volume
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
)


# --- TPC-H Q8: national market share -----------------------------------------

def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of NATION_1 suppliers in ASIA's STANDARD-part revenue by year.

    The ratio divides two *rounded* sums so float addition order cannot
    perturb the quotient. Scale: all dims broadcast; one orderkey shuffle.
    """
    prt = t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.expr("timestamp'1996-01-01'"))
        & (F.col("o_orderdate") < F.expr("timestamp'1998-01-01'"))
    )
    cust = t(spark, sf_dir, "customer")
    nat_c = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey")
    )
    reg = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    supp = t(spark, sf_dir, "supplier")
    nat_s = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    joined = (
        li.join(F.broadcast(prt), li.l_partkey == prt.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat_c), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(reg), F.col("n_regionkey") == reg.r_regionkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat_s), F.col("s_nationkey") == F.col("sn_key"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    agg = joined.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        money_sum(
            F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(0.0)
        ).alias("nation_vol"),
        money_sum(vol).alias("total_vol"),
    )
    return agg.select(
        "o_year",
        F.round(F.col("nation_vol") / F.col("total_vol"), 6).alias("mkt_share"),
    )


register(
    "tpch_q8_market_share",
    tpch_q8_market_share,
    f"""
    SELECT
        o_year,
        ROUND(nation_vol / total_vol, 6) AS mkt_share
    FROM (
        SELECT
            CAST(YEAR(o_orderdate) AS INT) AS o_year,
            {sql_money_sum(
                "CASE WHEN n2.n_name = 'NATION_1' "
                "THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END"
            )} AS nation_vol,
            {sql_money_sum("l_extendedprice * (1 - l_discount)")} AS total_vol
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'ASIA'
          AND p_type = 'STANDARD'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY CAST(YEAR(o_orderdate) AS INT)
    )
    """,
)


# --- TPC-H Q10: returned-item reporting --------------------------------------

def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 20 customers by lost revenue (returned items, one quarter).

    Adaptation: the reduced customer table has no address/phone/comment, so
    the output carries (custkey, name, nation, mktsegment, acctbal).
    Revenue is a money sum (``functions.money.money_sum``).
    Scale: customer/nation broadcast; orderkey shuffle; top-20 via
    TakeOrdered (per-partition top-k), not a global sort.
    """
    cust = t(spark, sf_dir, "customer")
    nat = t(spark, sf_dir, "nation")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.expr("timestamp'1997-01-01'"))
        & (F.col("o_orderdate") < F.expr("timestamp'1997-04-01'"))
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
    )
    agg = joined.groupBy(
        "c_custkey", "c_name", "c_acctbal", "n_name", "c_mktsegment"
    ).agg(
        money_sum(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
        ).alias("revenue")
    )
    return agg.orderBy(F.desc("revenue"), F.asc("c_custkey")).limit(20)


register(
    "tpch_q10_returned_items",
    tpch_q10_returned_items,
    f"""
    SELECT
        c_custkey,
        c_name,
        c_acctbal,
        n_name,
        c_mktsegment,
        {sql_money_sum("l_extendedprice * (1 - l_discount)")} AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)


# --- TPC-H Q13: customer order-count distribution ----------------------------

def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of orders-per-customer including zero-order customers.

    Adaptation: TPC-H excludes orders by o_comment pattern; the reduced
    schema has no comment, so the exclusion predicate is on
    o_orderpriority instead (same left-join-then-histogram shape).
    Scale: two aggregations; the first shuffles on custkey, the second on
    the (tiny-cardinality) count value.
    """
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "3-MEDIUM"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


register(
    "tpch_q13_customer_distribution",
    tpch_q13_customer_distribution,
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '3-MEDIUM'
        GROUP BY c_custkey
    )
    GROUP BY c_count
    """,
)


# --- TPC-H Q14: promotion effect ---------------------------------------------

def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent of one month's revenue from PROMO parts (conditional-sum
    ratio). Adaptation: p_type is a single token here, so the predicate is
    equality rather than TPC-H's 'PROMO%' prefix match. Scale: part
    broadcast; single scalar result, all partial-aggregated map-side.
    """
    prt = t(spark, sf_dir, "part")
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.expr("timestamp'1997-09-01'"))
        & (F.col("l_shipdate") < F.expr("timestamp'1997-10-01'"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    agg = li.join(F.broadcast(prt), li.l_partkey == prt.p_partkey).agg(
        money_sum(
            F.when(F.col("p_type") == "PROMO", vol).otherwise(0.0)
        ).alias("promo_vol"),
        money_sum(vol).alias("total_vol"),
    )
    return agg.select(
        F.round(
            F.lit(100.0) * F.col("promo_vol") / F.col("total_vol"), 6
        ).alias("promo_pct")
    )


register(
    "tpch_q14_promo_revenue",
    tpch_q14_promo_revenue,
    f"""
    SELECT ROUND(100.0 * promo_vol / total_vol, 6) AS promo_pct
    FROM (
        SELECT
            {sql_money_sum(
                "CASE WHEN p_type = 'PROMO' "
                "THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END"
            )} AS promo_vol,
            {sql_money_sum("l_extendedprice * (1 - l_discount)")} AS total_vol
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-09-01'
          AND l_shipdate < TIMESTAMP '1997-10-01'
    )
    """,
)


# --- TPC-H Q15: top supplier (scalar subquery on an aggregate) ---------------

def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) with the maximum quarterly revenue.

    The scalar MAX is joined back via an inner join on the rounded revenue
    value (Spark-side: cross-joinable 1-row aggregate, broadcast); ties are
    all returned, matching the SQL semantics. Scale: the revenue view is
    |suppliers|-sized — tiny after the lineitem aggregation.
    """
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.expr("timestamp'1997-01-01'"))
        & (F.col("l_shipdate") < F.expr("timestamp'1997-04-01'"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        )
    )
    max_rev = rev.agg(F.max("total_revenue").alias("max_revenue"))
    supp = t(spark, sf_dir, "supplier")
    return (
        rev.join(
            F.broadcast(max_rev),
            rev.total_revenue == max_rev.max_revenue,
        )
        .join(F.broadcast(supp), F.col("supplier_no") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


register(
    "tpch_q15_top_supplier",
    tpch_q15_top_supplier,
    f"""
    WITH rev AS (
        SELECT
            l_suppkey AS supplier_no,
            {sql_money_sum("l_extendedprice * (1 - l_discount)")}
                AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier
    JOIN rev ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
)


# --- TPC-H Q17: small-quantity-order revenue (correlated subquery) -----------

def tpch_q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average yearly revenue lost if small-quantity orders stopped.

    The correlated sub-aggregate (per-part average quantity) is decorrelated
    Spark-side into a groupBy + join — exactly what Catalyst would do to the
    SQL form. The avg is exact (integral quantities sum exactly in doubles),
    so the 0.2*avg threshold is order-independent without rounding.
    Scale: the per-part avg table is |part|-sized -> broadcast.
    """
    li = t(spark, sf_dir, "lineitem")
    prt = t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap_key")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        li.join(F.broadcast(prt), li.l_partkey == prt.p_partkey)
        .join(F.broadcast(avg_qty), li.l_partkey == F.col("ap_key"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.round(money_sum(F.col("l_extendedprice")) / 7.0, 2).alias(
                "avg_yearly"
            )
        )
    )


register(
    "tpch_q17_small_quantity",
    tpch_q17_small_quantity,
    f"""
    SELECT ROUND({sql_money_sum("l_extendedprice")} / 7.0, 2) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#13'
      AND l_quantity < (
          SELECT 0.2 * AVG(l2.l_quantity)
          FROM lineitem l2
          WHERE l2.l_partkey = p_partkey
      )
    """,
)


# --- TPC-H Q19: discounted revenue (disjunctive join predicates) -------------

def tpch_q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue over three disjunctive brand/size/quantity branches.

    Adaptation: no shipmode/shipinstruct columns, so the branches combine
    p_brand, p_size and l_quantity only. The OR-of-ANDs stays a single
    broadcast hash join on partkey with a post-join disjunction — one pass.
    """
    li = t(spark, sf_dir, "lineitem")
    prt = t(spark, sf_dir, "part")
    j = li.join(F.broadcast(prt), li.l_partkey == prt.p_partkey)
    branch1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    )
    branch2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    )
    branch3 = (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return j.filter(branch1 | branch2 | branch3).agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


register(
    "tpch_q19_discounted_revenue",
    tpch_q19_discounted_revenue,
    f"""
    SELECT
        {sql_money_sum("l_extendedprice * (1 - l_discount)")} AS revenue,
        COUNT(*) AS n_items
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)


# --- TPC-H Q22: customers with no orders above average balance ---------------

def tpch_q22_global_sales_opportunity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Well-funded customers with no high-priority order, by segment.

    Adaptation: no c_phone, so grouping is by c_mktsegment instead of
    country code; and the NOT EXISTS runs against high-priority orders
    (1-URGENT / 2-HIGH) rather than all orders — the generator gives every
    customer at least one order, so the classic Q22 anti-join is vacuously
    empty on this data; this keeps the scalar-subquery + NOT-EXISTS shape
    with real rows (9 customers at sf0.01). The average balance is rounded
    to 2dp before the comparison so the threshold double is identical on
    both engines regardless of summation order. Scale: scalar avg
    broadcast; priority filter pushes to the orders scan; anti join on
    custkey (the filtered custkey projection dedups small enough to
    broadcast under AQE).
    """
    cust = t(spark, sf_dir, "customer")
    hi_orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.round(F.avg("c_acctbal"), 2).alias("avg_bal")
    )
    rich = cust.join(
        F.broadcast(avg_bal), cust.c_acctbal > F.col("avg_bal")
    )
    return (
        rich.join(hi_orders, rich.c_custkey == hi_orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            money_sum(F.col("c_acctbal")).alias("totacctbal"),
        )
    )


register(
    "tpch_q22_global_sales_opportunity",
    tpch_q22_global_sales_opportunity,
    f"""
    SELECT
        c_mktsegment,
        COUNT(*) AS numcust,
        {sql_money_sum("c_acctbal")} AS totacctbal
    FROM customer
    WHERE c_acctbal > (
            SELECT ROUND(AVG(c_acctbal), 2)
            FROM customer
            WHERE c_acctbal > 0.0
          )
      AND NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey
              AND o_orderpriority IN ('1-URGENT', '2-HIGH')
          )
    GROUP BY c_mktsegment
    """,
)


# --- One-pass column profiler -------------------------------------------------

_PROFILE_NUM = ("l_orderkey", "l_quantity", "l_extendedprice", "l_discount")
_PROFILE_STR = ("l_returnflag", "l_linestatus")


def system_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality column profile of lineitem: per column, null count,
    exact distinct count, and typed min/max (numeric as round-6
    doubles, strings verbatim — never cross-cast, so no
    engine-specific number formatting). The per-column stats unpivot
    via an exploded struct array. The profile every ingest run emits
    before a table is certified.

    100 TB shape: TWO projection-pruned passes joined as 1-row
    broadcasts — a plain pass for count/nulls/min-max (partial-agg
    map-side, no row multiplication) and a multi-countDistinct pass
    (ONE Expand, rows x profiled columns, slim one-column copies).
    Fusing both into a single agg makes Spark evaluate every
    non-distinct aggregate gid-gated over the Expand-multiplied rows —
    measured 3.5x slower at sf0.1 (12.9 s vs 3.7 s) than this split;
    no per-column re-scans either way."""
    li = t(spark, sf_dir, "lineitem")
    basic = [F.count(F.lit(1)).alias("_n")]
    dist = []
    for c in _PROFILE_NUM + _PROFILE_STR:
        dist.append(F.countDistinct(c).alias(f"d_{c}"))
        basic.append(F.sum(F.col(c).isNull().cast("long")).alias(f"nn_{c}"))
    for c in _PROFILE_NUM:
        basic += [
            F.round(F.min(c).cast("double"), 6).alias(f"mn_{c}"),
            F.round(F.max(c).cast("double"), 6).alias(f"mx_{c}"),
        ]
    for c in _PROFILE_STR:
        basic += [F.min(c).alias(f"mn_{c}"), F.max(c).alias(f"mx_{c}")]
    one = li.agg(*basic).crossJoin(F.broadcast(li.agg(*dist)))
    rows = []
    for c in _PROFILE_NUM:
        rows.append(F.struct(
            F.lit(c).alias("col_name"),
            F.col("_n").alias("n_rows"),
            F.col(f"nn_{c}").alias("n_nulls"),
            F.col(f"d_{c}").alias("n_distinct"),
            F.col(f"mn_{c}").alias("min_num"),
            F.col(f"mx_{c}").alias("max_num"),
            F.lit(None).cast("string").alias("min_str"),
            F.lit(None).cast("string").alias("max_str"),
        ))
    for c in _PROFILE_STR:
        rows.append(F.struct(
            F.lit(c).alias("col_name"),
            F.col("_n").alias("n_rows"),
            F.col(f"nn_{c}").alias("n_nulls"),
            F.col(f"d_{c}").alias("n_distinct"),
            F.lit(None).cast("double").alias("min_num"),
            F.lit(None).cast("double").alias("max_num"),
            F.col(f"mn_{c}").alias("min_str"),
            F.col(f"mx_{c}").alias("max_str"),
        ))
    return one.select(F.explode(F.array(*rows)).alias("p")).select("p.*")


def _profile_oracle() -> str:
    selects = []
    for c in _PROFILE_NUM:
        selects.append(f"""
        SELECT '{c}' AS col_name,
               COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_nulls,
               COUNT(DISTINCT {c}) AS n_distinct,
               ROUND(CAST(MIN({c}) AS DOUBLE), 6) AS min_num,
               ROUND(CAST(MAX({c}) AS DOUBLE), 6) AS max_num,
               CAST(NULL AS VARCHAR) AS min_str,
               CAST(NULL AS VARCHAR) AS max_str
        FROM lineitem""")
    for c in _PROFILE_STR:
        selects.append(f"""
        SELECT '{c}' AS col_name,
               COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_nulls,
               COUNT(DISTINCT {c}) AS n_distinct,
               CAST(NULL AS DOUBLE) AS min_num,
               CAST(NULL AS DOUBLE) AS max_num,
               MIN({c}) AS min_str,
               MAX({c}) AS max_str
        FROM lineitem""")
    return "\n    UNION ALL\n".join(selects)


register("system_profile_lineitem", system_profile_lineitem,
         _profile_oracle())


# --- Market-basket co-occurrence (frequent pair mining) ------------------------

def star_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part pairs that co-occur in >= 2 orders, with support counts and
    lift — the A-priori first pass / co-occurrence mining primitive
    (recommender candidates, "bought-together" analytics).

    100 TB shape: ONE shuffle groups lineitem by order into a sorted
    part array (baskets are bounded — TPC-H <= 7 items, <= 17 observed
    at sf0.1 — so the per-order array is tiny), then the upper-triangle
    pair expansion is a pure map-side array expression (<= 136 pairs
    per order, no self-join of the fact table against itself), and the
    pair counts partial-aggregate map-side before the only other
    shuffle. Supports attach by equi-join on the compact per-part
    table; lift = n_pair * N / (n_a * n_b) is one double division —
    engine-portable. The naive form this replaces (lineitem self-join
    on orderkey) shuffles the fact table twice and materializes the
    same pairs as join output instead of a codegen'd expression."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                """flatten(transform(parts, (a, ai) ->
                       transform(slice(parts, ai + 2, size(parts)), b ->
                           struct(a AS part_a, b AS part_b))))"""
            )
        ).alias("p")
    ).select("p.part_a", "p.part_b")
    pair_counts = pairs.groupBy("part_a", "part_b").agg(
        F.count(F.lit(1)).alias("n_pair")
    ).filter(F.col("n_pair") >= 2)
    supp = li.groupBy("l_partkey").agg(
        F.countDistinct("l_orderkey").alias("n_part")
    )
    n_orders = li.select(
        F.countDistinct("l_orderkey").alias("n_orders")
    )
    out = (
        pair_counts.join(
            supp.select(
                F.col("l_partkey").alias("part_a"),
                F.col("n_part").alias("n_a"),
            ),
            "part_a",
        )
        .join(
            supp.select(
                F.col("l_partkey").alias("part_b"),
                F.col("n_part").alias("n_b"),
            ),
            "part_b",
        )
        .crossJoin(F.broadcast(n_orders))
    )
    lift = (
        F.col("n_pair").cast("double")
        * F.col("n_orders").cast("double")
        / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
    )
    return out.select(
        "part_a",
        "part_b",
        "n_pair",
        "n_a",
        "n_b",
        F.round(lift, 6).alias("lift"),
    )


register(
    "star_basket_pairs",
    star_basket_pairs,
    """
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pc AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               COUNT(*) AS n_pair
        FROM items a
        JOIN items b ON a.l_orderkey = b.l_orderkey
                    AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    ),
    supp AS (
        SELECT l_partkey, COUNT(DISTINCT l_orderkey) AS n_part
        FROM lineitem GROUP BY 1
    ),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM lineitem)
    SELECT pc.part_a, pc.part_b, pc.n_pair,
           sa.n_part AS n_a, sb.n_part AS n_b,
           ROUND(CAST(pc.n_pair AS DOUBLE) * CAST(n.n_orders AS DOUBLE)
                 / (CAST(sa.n_part AS DOUBLE) * CAST(sb.n_part AS DOUBLE)),
                 6) AS lift
    FROM pc
    JOIN supp sa ON sa.l_partkey = pc.part_a
    JOIN supp sb ON sb.l_partkey = pc.part_b
    CROSS JOIN n
    """,
)


# --- Running (cumulative) revenue over the time dimension ----------------------

def tpch_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily revenue and its running total over ship dates — the
    cumulative-metric shape behind burn-up charts and pacing monitors.

    100 TB shape: the fact scan partial-aggregates to one row PER DAY
    before anything orders anything — the only window runs over the
    per-day control table, whose size is the calendar (~2.5k days for
    TPC-H, growing with time, never with volume), so the one-task
    ordered pass is bounded and allowlisted in the plan guard.

    Determinism discipline: each day's revenue is a money sum
    (``functions.money.money_sum``) taken as integer CENTS (bigint)
    first, so the cumulative fold is pure integer arithmetic — immune
    to the engines' different windowed-sum association (DuckDB segment-tree vs Spark sequential), which over
    2.5k float addends is exactly where a last-ulp wobble would cross a
    rounding boundary. The /100.0 back to dollars is one exact-input
    division, identical on both engines."""
    li = t(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.date_trunc("DAY", F.col("l_shipdate")).alias("ship_date")).agg(
        F.round(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            * 100,
            0,
        )
        .cast("bigint")
        .alias("cents")
    )
    from pyspark.sql import Window

    w = Window.orderBy("ship_date").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.withColumn(
        "running_cents", F.sum("cents").over(w)
    ).select(
        "ship_date",
        F.round(F.col("cents") / 100.0, 2).alias("daily_revenue"),
        F.round(F.col("running_cents") / 100.0, 2).alias(
            "running_revenue"
        ),
    )


register(
    "tpch_running_revenue",
    tpch_running_revenue,
    f"""
    WITH daily AS (
        SELECT date_trunc('day', CAST(l_shipdate AS TIMESTAMP)) AS ship_date,
               CAST(ROUND({sql_money_sum("l_extendedprice * (1 - l_discount)")}
                          * 100, 0) AS BIGINT) AS cents
        FROM lineitem
        GROUP BY 1
    )
    SELECT ship_date,
           ROUND(cents / 100.0, 2) AS daily_revenue,
           ROUND(SUM(cents) OVER (
                     ORDER BY ship_date
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) / 100.0, 2) AS running_revenue
    FROM daily
    """,
)


# --- Data expectations (contract checks an ingest run gates on) ---------------

def system_data_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named data-contract checks across the warehouse — the
    expectations gate (Deequ/Great-Expectations shape) an ingest run
    evaluates before certifying a batch: completeness (null counts),
    uniqueness, referential integrity, range constraints, and a
    derived-column consistency check. One row per check:
    (check_name, n_checked, n_violations, passed).

    100 TB shape: every per-table check is one partial-aggregated scan
    (violations counted map-side as 0/1 sums); the two referential
    checks are LEFT ANTI joins shuffling only the single key column —
    counted, never materialized. The union of eight 1-row frames is
    driver-free; nothing here collects or re-scans."""
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer").select("c_custkey")
    li = t(spark, sf_dir, "lineitem")
    ev = t(spark, sf_dir, "events")
    docs = t(spark, sf_dir, "documents")

    def scan_check(df, name, viol_cond):
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_checked"),
            F.sum(viol_cond.cast("long")).cast("bigint").alias(
                "n_violations"
            ),
        ).select(
            F.lit(name).alias("check_name"),
            "n_checked",
            "n_violations",
            (F.col("n_violations") == 0).alias("passed"),
        )

    def ri_check(child, key, parent, pkey, name):
        viol = child.join(
            parent, child[key] == parent[pkey], "left_anti"
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n_violations"))
        total = child.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_checked")
        )
        return viol.crossJoin(F.broadcast(total)).select(
            F.lit(name).alias("check_name"),
            "n_checked",
            "n_violations",
            (F.col("n_violations") == 0).alias("passed"),
        )

    unique_ev = ev.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_checked"),
        (F.count(F.lit(1)) - F.countDistinct("event_id"))
        .cast("bigint")
        .alias("n_violations"),
    ).select(
        F.lit("events_event_id_unique").alias("check_name"),
        "n_checked",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )
    frames = [
        scan_check(
            orders, "orders_custkey_not_null", F.col("o_custkey").isNull()
        ),
        scan_check(
            li,
            "lineitem_quantity_in_1_50",
            ~F.col("l_quantity").between(1, 50),
        ),
        scan_check(
            li,
            "lineitem_discount_in_0_0.1",
            ~F.col("l_discount").between(0.0, 0.1),
        ),
        unique_ev,
        scan_check(ev, "events_value_positive", F.col("value") <= 0),
        scan_check(
            docs,
            "documents_n_chars_consistent",
            F.col("n_chars") != F.length("text"),
        ),
        ri_check(
            orders, "o_custkey", cust, "c_custkey",
            "orders_custkey_in_customer",
        ),
        ri_check(
            li,
            "l_orderkey",
            orders.select("o_orderkey"),
            "o_orderkey",
            "lineitem_orderkey_in_orders",
        ),
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


register(
    "system_data_expectations",
    system_data_expectations,
    """
    SELECT 'orders_custkey_not_null' AS check_name,
           COUNT(*) AS n_checked,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_violations,
           SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0
               AS passed
    FROM orders
    UNION ALL
    SELECT 'lineitem_quantity_in_1_50', COUNT(*),
           CAST(SUM(CASE WHEN l_quantity NOT BETWEEN 1 AND 50
                    THEN 1 ELSE 0 END) AS BIGINT),
           SUM(CASE WHEN l_quantity NOT BETWEEN 1 AND 50
               THEN 1 ELSE 0 END) = 0
    FROM lineitem
    UNION ALL
    SELECT 'lineitem_discount_in_0_0.1', COUNT(*),
           CAST(SUM(CASE WHEN l_discount NOT BETWEEN 0.0 AND 0.1
                    THEN 1 ELSE 0 END) AS BIGINT),
           SUM(CASE WHEN l_discount NOT BETWEEN 0.0 AND 0.1
               THEN 1 ELSE 0 END) = 0
    FROM lineitem
    UNION ALL
    SELECT 'events_event_id_unique', COUNT(*),
           CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT),
           COUNT(*) - COUNT(DISTINCT event_id) = 0
    FROM events
    UNION ALL
    SELECT 'events_value_positive', COUNT(*),
           CAST(SUM(CASE WHEN value <= 0 THEN 1 ELSE 0 END) AS BIGINT),
           SUM(CASE WHEN value <= 0 THEN 1 ELSE 0 END) = 0
    FROM events
    UNION ALL
    SELECT 'documents_n_chars_consistent', COUNT(*),
           CAST(SUM(CASE WHEN n_chars != length(text) THEN 1 ELSE 0 END)
                AS BIGINT),
           SUM(CASE WHEN n_chars != length(text) THEN 1 ELSE 0 END) = 0
    FROM documents
    UNION ALL
    SELECT 'orders_custkey_in_customer',
           (SELECT COUNT(*) FROM orders),
           CAST(COUNT(*) AS BIGINT),
           COUNT(*) = 0
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem_orderkey_in_orders',
           (SELECT COUNT(*) FROM lineitem),
           CAST(COUNT(*) AS BIGINT),
           COUNT(*) = 0
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_orderkey = l.l_orderkey)
    """,
)
