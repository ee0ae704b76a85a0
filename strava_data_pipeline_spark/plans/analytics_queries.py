"""General analytics queries (SURVEY.md §2b) — the query-engine bar.

TPC-H-shaped plans over the star schema: wide scan+agg, multi-way joins
with broadcast dims, semi-joins, top-N. Each declarative so Catalyst
does pushdown/pruning/reorder; dims are explicitly broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from strava_data_pipeline_spark.plans.registry import register
from strava_data_pipeline_spark.sources.catalog import load_table


# --------------------------------------------------------------------------
# 13. q1_pricing_summary — flagship scan+agg (TPC-H Q1 shape)
# --------------------------------------------------------------------------
_Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
       round(round(sum(l_quantity), 2) / count(*), 4) AS avg_qty,
       round(round(sum(l_extendedprice), 2) / count(*), 4) AS avg_price,
       round(round(sum(l_discount), 4) / count(*), 4) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-08-06 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("q1_pricing_summary", oracle=_Q1_ORACLE)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report: one pushdown-filtered scan, map-side
    partial aggs, single shuffle on the 2-col grouping key."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2001-08-06 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            # averages derive from rounded sums so both engines round an
            # identical double (see pipeline_queries.py note)
            F.round(F.round(F.sum("l_quantity"), 2) / F.count("*"), 4).alias("avg_qty"),
            F.round(F.round(F.sum("l_extendedprice"), 2) / F.count("*"), 4).alias(
                "avg_price"
            ),
            F.round(F.round(F.sum("l_discount"), 4) / F.count("*"), 4).alias("avg_disc"),
            F.count("*").cast("bigint").alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# 14. q3_shipping_priority — 3-way join + agg + top-N
# --------------------------------------------------------------------------
_Q3_ORACLE = """
SELECT l.l_orderkey AS orderkey,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       o.o_orderdate AS orderdate, o.o_orderpriority AS orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1996-06-30 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1996-06-30 00:00:00'
GROUP BY 1, 3, 4
ORDER BY revenue DESC, orderkey ASC
LIMIT 10
"""


@register("q3_shipping_priority", oracle=_Q3_ORACLE)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unshipped-order revenue: orders⋈customer then lineitem on the
    fact key, top-10 via TakeOrderedAndProject. Join strategy is left
    to Catalyst/AQE — both non-lineitem sides scale with SF, so a
    forced broadcast would be a 100 TB bug; locally they fall under
    the auto-threshold and broadcast anyway."""
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1996-06-30 00:00:00").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1996-06-30 00:00:00").cast("timestamp")
    )
    return (
        l.join(o.join(c, o["o_custkey"] == c["c_custkey"]),
               l["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.col("o_orderdate").alias("orderdate"),
            F.col("o_orderpriority").alias("orderpriority"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("orderkey", "revenue", "orderdate", "orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("orderkey").asc())
        .limit(10)
    )


# --------------------------------------------------------------------------
# 15. q5_local_supplier — multi-way join through region/nation
# --------------------------------------------------------------------------
_Q5_ORACLE = """
SELECT n.n_name AS nation,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM region r
JOIN nation n   ON n.n_regionkey = r.r_regionkey
JOIN supplier s ON s.s_nationkey = n.n_nationkey
JOIN lineitem l ON l.l_suppkey = s.s_suppkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey AND c.c_nationkey = s.s_nationkey
WHERE r.r_name = 'ASIA'
GROUP BY 1
"""


@register("q5_local_supplier", oracle=_Q5_ORACLE)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier volume: every dim (region→nation→supplier,
    customer) broadcasts; the only shuffle is lineitem⋈orders plus the
    final 1-col agg."""
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    dims = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    return (
        l.join(dims, l["l_suppkey"] == dims["s_suppkey"])
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(
            c,
            (c["c_custkey"] == o["o_custkey"])
            & (c["c_nationkey"] == dims["s_nationkey"]),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# --------------------------------------------------------------------------
# 16. top_customers_by_revenue — Q10 shape
# --------------------------------------------------------------------------
# revenue quantizes to exact BIGINT cents PER ROW before the sum (the
# q10_returned_items discipline): the old round(sum(double), 2)
# accumulated in engine-chosen order and hash-diverged at a half-cent
# boundary once the mult=10 rehearsal gave a customer enough addends —
# rows/cols matched, values didn't.
_Q10_ORACLE = """
SELECT c.c_custkey AS custkey, c.c_name AS name,
       CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
       round(c.c_acctbal, 2) AS acctbal, n.n_name AS nation
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
GROUP BY 1, 2, 4, 5
ORDER BY revenue DESC, custkey ASC
LIMIT 20
"""


@register("top_customers_by_revenue", oracle=_Q10_ORACLE)
def top_customers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item revenue per customer, top-20. Revenue sums exact
    BIGINT cents (per-row quantization — see the oracle note); top-20
    rides TakeOrderedAndProject with the custkey tie-break."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, c["c_custkey"] == o["o_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.round(F.col("c_acctbal"), 2).alias("acctbal"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            (
                F.sum(
                    F.floor(
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                        * 100
                        + F.lit(0.5)
                    ).cast("bigint")
                ).cast("double")
                / 100.0
            ).alias("revenue")
        )
        .select("custkey", "name", "revenue", "acctbal", "nation")
        .orderBy(F.col("revenue").desc(), F.col("custkey").asc())
        .limit(20)
    )


# --------------------------------------------------------------------------
# 17. order_priority_count — Q4 shape (EXISTS semi-join)
# --------------------------------------------------------------------------
_Q4_ORACLE = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-04-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > TIMESTAMP '1996-07-01 00:00:00')
GROUP BY 1
"""


@register("order_priority_count", oracle=_Q4_ORACLE)
def order_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-lineitem order counts via left_semi join (EXISTS), then a
    tiny agg."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-04-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1996-07-01 00:00:00").cast("timestamp")
    )
    return (
        o.join(l, o["o_orderkey"] == l["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("bigint").alias("order_count"))
    )


# --------------------------------------------------------------------------
# 18. parts_brand_stats — dim aggregation with expressions
# --------------------------------------------------------------------------
_BRAND_ORACLE = """
SELECT p_brand,
       CAST(count(*) AS BIGINT) AS n_parts,
       round(round(sum(p_retailprice), 2) / count(*), 4) AS avg_price,
       round(sum(p_retailprice * p_size), 2) AS weighted_price,
       CAST(count(DISTINCT p_type) AS BIGINT) AS n_types
FROM part GROUP BY 1
"""


@register("parts_brand_stats", oracle=_BRAND_ORACLE)
def parts_brand_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand-level stats over the part dim."""
    return (
        load_table(spark, sf_dir, "part")
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            F.round(F.round(F.sum("p_retailprice"), 2) / F.count("*"), 4).alias(
                "avg_price"
            ),
            F.round(F.sum(F.col("p_retailprice") * F.col("p_size")), 2).alias(
                "weighted_price"
            ),
            F.countDistinct("p_type").cast("bigint").alias("n_types"),
        )
    )
