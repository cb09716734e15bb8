"""TPC-H-style analytical queries over the fixture star schema.

The reference exposes the full SQL surface via Trino passthrough (S5,
api_poc.py:214-226) — these queries prove the same surface on Spark SQL and
are the bench headliners. Plans to verify with .explain():

- q1: partial aggregation before the shuffle (one row per (partition, flag,
  status) moves), whole-stage codegen over the scan+project+agg.
- q3/q5: small dims broadcast (nation/region/customer-side under AQE), only
  the fact-fact joins shuffle, filters pushed into the parquet scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .common import t


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: big scan → group by two low-cardinality keys →
    8 aggregates. All-JVM, map-side combined."""
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: dim-filtered 3-way join → revenue per order → top 10.
    customer is small relative to lineitem: broadcast it explicitly."""
    cust = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(
            orders.join(
                F.broadcast(cust.select("c_custkey")),
                orders.o_custkey == F.col("c_custkey"),
            ).select("o_orderkey", "o_orderdate", "o_orderpriority"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            # exact DECIMAL sum, as in q7: a double sum of an order whose
            # revenue ends in a half cent rounds by summation order
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: region→nation→customer→orders→lineitem→supplier with
    the co-location predicate c_nationkey = s_nationkey; revenue per nation.
    Dims (region/nation/supplier) broadcast; facts shuffle on join keys once.
    """
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = t(spark, sf_dir, "nation")
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")

    asia_nations = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")

    return (
        li.join(orders.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .join(
            F.broadcast(supp.select("s_suppkey", "s_nationkey")),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .join(
            cust.select("c_custkey", "c_nationkey"),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan + selective filter + scalar agg — the
    predicate-pushdown showcase (all three filters reach the parquet reader).
    """
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS semi-join (orders with ≥1 late lineitem) →
    priority histogram. Catalyst plans the EXISTS as LeftSemi; only order
    keys shuffle."""
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    late = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")  # fixture lacks commit/receipt dates
        .select("l_orderkey")
    )
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top 20.
    Fact-fact join shuffles once; the nation dim broadcasts; top-k is
    TakeOrderedAndProject."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = t(spark, sf_dir, "nation")
    return (
        li.join(
            orders.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey")
        )
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
        .select(
            "c_custkey", "c_name", "n_name",
            F.round("c_acctbal", 2).alias("c_acctbal"), "revenue",
        )
    )


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between nation pairs (supplier
    nation ≠ customer nation), by year. Both dims broadcast twice under
    different aliases; facts shuffle once."""
    nation = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    supp = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(nation.withColumnsRenamed({"n_nationkey": "sk", "n_name": "supp_nation"})),
            F.col("s_nationkey") == F.col("sk"),
        )
        .join(
            F.broadcast(nation.withColumnsRenamed({"n_nationkey": "ck", "n_name": "cust_nation"})),
            F.col("c_nationkey") == F.col("ck"),
        )
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            # per-row cast to DECIMAL before summing: decimal addition is
            # exact and order-independent, so Spark's combine order and
            # DuckDB's agree bit-for-bit (double sums differed at a
            # rounding boundary here)
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("volume")
        )
    )


def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share in a month window (conditional
    aggregate ratio over a fact×dim join; part broadcast)."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    part = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q19_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive brackets (brand × size ×
    quantity bands) — the complex-predicate pushdown case."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    bracket1 = (
        (F.col("p_brand") == "Brand#12") & (F.col("p_size") <= 10)
        & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 20)
    )
    bracket2 = (
        (F.col("p_brand") == "Brand#23") & (F.col("p_size") <= 20)
        & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 30)
    )
    bracket3 = (
        (F.col("p_brand") == "Brand#34") & (F.col("p_size") <= 30)
        & (F.col("l_quantity") >= 20) & (F.col("l_quantity") <= 40)
    )
    return joined.filter(bracket1 | bracket2 | bracket3).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def q_order_lineitem_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join + aggregate: order fulfillment stats per status/priority
    (the shuffle-sizing workhorse for the bench)."""
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_lineitems"),
            F.countDistinct("o_orderkey").alias("n_orders"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        )
    )


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "q3_top_revenue_orders": q3_top_revenue_orders,
    "q4_order_priority": q4_order_priority,
    "q5_nation_revenue": q5_nation_revenue,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q7_nation_volume": q7_nation_volume,
    "q10_returned_items": q10_returned_items,
    "q14_promo_share": q14_promo_share,
    "q19_bracket_revenue": q19_bracket_revenue,
    "q_order_lineitem_join_agg": q_order_lineitem_join_agg,
}

ORACLE = {
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               round(avg(l_quantity), 4) AS avg_qty,
               round(avg(l_extendedprice), 4) AS avg_price,
               round(avg(l_discount), 4) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q3_top_revenue_orders": """
        SELECT o_orderkey, o_orderdate, o_orderpriority,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        FROM customer, orders, lineitem
        WHERE c_mktsegment = 'BUILDING'
          AND c_custkey = o_custkey
          AND l_orderkey = o_orderkey
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate > TIMESTAMP '1998-01-01'
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderkey ASC
        LIMIT 10
    """,
    "q4_order_priority": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "q10_returned_items": """
        SELECT c_custkey, c_name, n_name, round(c_acctbal, 2) AS c_acctbal,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM customer, orders, lineitem, nation
        WHERE c_custkey = o_custkey
          AND l_orderkey = o_orderkey
          AND o_orderdate >= TIMESTAMP '1996-10-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
          AND l_returnflag = 'R'
          AND c_nationkey = n_nationkey
        GROUP BY c_custkey, c_name, n_name, c_acctbal
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
    """,
    "q5_nation_revenue": """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey
          AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey
          AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey
          AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY n_name
    """,
    "q6_forecast_revenue": """
        SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    "q7_nation_volume": """
        SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INTEGER) AS l_year,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,4))), 2) AS DOUBLE) AS volume
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        WHERE sn.n_name != cn.n_name
        GROUP BY 1, 2, 3
    """,
    "q14_promo_share": """
        SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0.0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct,
               count(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-03-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
    """,
    "q19_bracket_revenue": """
        SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_size <= 10 AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#23' AND p_size <= 20 AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#34' AND p_size <= 30 AND l_quantity BETWEEN 20 AND 40)
    """,
    "q_order_lineitem_join_agg": """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_lineitems,
               count(DISTINCT o_orderkey) AS n_orders,
               round(sum(l_quantity), 2) AS sum_qty,
               round(avg(l_extendedprice), 4) AS avg_price
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderstatus, o_orderpriority
    """,
}
