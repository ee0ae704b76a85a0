"""Extended analytics queries (SURVEY.md §2b, rows 57-64) — the rest of
the TPC-H operator classes expressible over the available star schema
(no partsupp / shipmode / phone columns, so Q7/Q8/Q13/Q14/Q17/Q18/Q19/Q22
are adapted to the columns that exist; the *operator shapes* — two-sided
nation join, market-share ratio, outer-join distribution, conditional
aggregation, correlated scalar subquery, group-HAVING semi-join,
disjunctive pushdown, anti-join with scalar threshold — are preserved).

Rounding discipline follows analytics_queries.py: round sums to 2
decimals BEFORE any division so both engines divide identical doubles.
l_quantity is integral (verified), so per-part AVG comparisons in q17
are exact-deterministic across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from strava_data_pipeline_spark.plans.registry import register
from strava_data_pipeline_spark.sources.catalog import load_table

# --------------------------------------------------------------------------
# 57. q7_nation_trade — TPC-H Q7 shape: bidirectional nation-pair volume
# --------------------------------------------------------------------------
_Q7_ORACLE = """
SELECT supp_nation, cust_nation, l_year,
       CAST(round(sum(volume), 2) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(year FROM l.l_shipdate) AS INTEGER) AS l_year,
         CAST(l.l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS volume
  FROM supplier s
  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_1')
      OR (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_3'))
    AND l.l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                         AND TIMESTAMP '1996-12-31 00:00:00'
) shipping
GROUP BY 1, 2, 3
"""


@register("q7_nation_trade", oracle=_Q7_ORACLE)
def q7_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume shipped between a nation pair, both directions, per ship
    year. Both nation dims broadcast; the disjunctive pair predicate is
    applied after the joins so Catalyst can still push the shipdate
    range to the lineitem scan (reference has no analytics tier; this is
    the §2b query-engine bar).

    Revenue sums in DECIMAL(18,2)-derived precision: the small per-group
    row counts here put a group's double-sum within an ulp of a .xx5
    rounding boundary (observed: 673097.265), so unlike the big Q1/Q5
    aggregates this query needs exact decimal accumulation for a
    deterministic cross-engine round."""
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    l = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").between(
            F.lit("1995-01-01 00:00:00").cast("timestamp"),
            F.lit("1996-12-31 00:00:00").cast("timestamp"),
        )
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_1")
    ) | ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_3"))
    return (
        l.join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (1 - F.col("l_discount").cast("decimal(18,2)"))
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )


# --------------------------------------------------------------------------
# 58. q8_market_share — TPC-H Q8 shape: one nation's share of region volume
# --------------------------------------------------------------------------
_Q8_ORACLE = """
SELECT o_year,
       round(round(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END), 2)
             / round(sum(volume), 2), 4) AS mkt_share
FROM (
  SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume,
         ns.n_name AS supp_nation
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
  JOIN region r   ON nc.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE' AND p.p_type = 'PROMO'
) all_nations
GROUP BY 1
"""


@register("q8_market_share", oracle=_Q8_ORACLE)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_3's share of PROMO-part volume sold into EUROPE, per order
    year: conditional-aggregation ratio over a 7-way join. nation/region
    broadcast explicitly (construction-bounded); the PROMO filter prunes
    part before its join. Numerator and denominator are rounded before
    the divide so both engines divide identical doubles."""
    p = load_table(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    ns = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    nc = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_region")
    )
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .join(F.broadcast(r), F.col("nc_region") == F.col("r_regionkey"))
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(
                F.round(
                    F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0)),
                    2,
                )
                / F.round(F.sum(vol), 2),
                4,
            ).alias("mkt_share")
        )
    )


# --------------------------------------------------------------------------
# 59. q13_order_distribution — TPC-H Q13 shape: outer-join distribution
# --------------------------------------------------------------------------
_Q13_ORACLE = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY 1
) c_orders
GROUP BY 1
"""


@register("q13_order_distribution", oracle=_Q13_ORACLE)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of customers by non-urgent order count, INCLUDING
    zero-order customers: left outer join (filter on the join condition,
    not a WHERE — a WHERE would silently drop the zero bucket), then a
    two-level aggregation. Second agg's input is one row per customer —
    tiny shuffle."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c["c_custkey"] == o["o_custkey"])
            & (o["o_orderpriority"] != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").cast("bigint").alias("custdist")
    )


# --------------------------------------------------------------------------
# 60. q14_promo_revenue — TPC-H Q14 shape: conditional-agg ratio
# --------------------------------------------------------------------------
_Q14_ORACLE = """
SELECT round(100.0 * round(sum(CASE WHEN p.p_type = 'PROMO'
                                    THEN l.l_extendedprice * (1 - l.l_discount)
                                    ELSE 0 END), 2)
             / round(sum(l.l_extendedprice * (1 - l.l_discount)), 2), 4)
         AS promo_revenue_pct
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
"""


@register("q14_promo_revenue", oracle=_Q14_ORACLE)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent of one month's revenue from PROMO parts: single join +
    global conditional aggregate (one row out). The month filter pushes
    to the lineitem scan; part joins on partkey only (2-col ReadSchema)."""
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .agg(
            F.round(
                F.lit(100.0)
                * F.round(
                    F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0)), 2
                )
                / F.round(F.sum(rev), 2),
                4,
            ).alias("promo_revenue_pct")
        )
    )


# --------------------------------------------------------------------------
# 61. q17_small_qty_revenue — TPC-H Q17 shape: correlated scalar subquery
# --------------------------------------------------------------------------
_Q17_ORACLE = """
SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#23'
  AND l.l_quantity < (
    SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = p.p_partkey
  )
"""


@register("q17_small_qty_revenue", oracle=_Q17_ORACLE)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity revenue for one brand, decorrelated: the
    per-part AVG subquery becomes a groupBy(partkey) aggregate joined
    back — one extra shuffle instead of a per-row subquery (Catalyst
    does the same rewrite for the SQL form). l_quantity is integral, so
    sum/count per part is exact in double on both engines and the
    0.2*avg threshold comparison is deterministic."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#23")
    # Prune lineitem to the brand's parts BEFORE the per-part average:
    # the threshold only needs lineitems OF THOSE PARTS, so the semi-join
    # cuts the aggregate's input by the brand selectivity (~25×) instead
    # of averaging every part in the fact table and discarding 96% of
    # the groups at the join.
    brand_li = li.join(
        p.select("p_partkey"), li["l_partkey"] == F.col("p_partkey"), "left_semi"
    )
    thresholds = brand_li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        brand_li.join(thresholds, F.col("l_partkey") == F.col("t_partkey"))
        .where(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


# --------------------------------------------------------------------------
# 62. q18_large_orders — TPC-H Q18 shape: group-HAVING semi-join
# --------------------------------------------------------------------------
_Q18_ORACLE = """
SELECT c.c_name AS name, c.c_custkey AS custkey, o.o_orderkey AS orderkey,
       o.o_orderdate AS orderdate, round(o.o_totalprice, 2) AS totalprice,
       round(sum(l.l_quantity), 2) AS sum_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 300
)
GROUP BY 1, 2, 3, 4, 5
ORDER BY totalprice DESC, orderkey ASC
LIMIT 100
"""


@register("q18_large_orders", oracle=_Q18_ORACLE)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with very large orders: the HAVING subquery becomes a
    groupBy + filter + left_semi join (ids only shuffle), then the
    detail join re-aggregates. Top-100 is TakeOrderedAndProject."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .where(F.col("sq") > 300)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        o.join(big, o["o_orderkey"] == F.col("big_orderkey"), "left_semi")
        .join(c, F.col("o_custkey") == c["c_custkey"])
        .join(l, F.col("o_orderkey") == l["l_orderkey"])
        .groupBy(
            F.col("c_name").alias("name"),
            F.col("c_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderdate").alias("orderdate"),
            F.round(F.col("o_totalprice"), 2).alias("totalprice"),
        )
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .orderBy(F.col("totalprice").desc(), F.col("orderkey").asc())
        .limit(100)
    )


# --------------------------------------------------------------------------
# 63. q19_disjunctive_revenue — TPC-H Q19 shape: disjunctive predicates
# --------------------------------------------------------------------------
_Q19_ORACLE = """
SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)
"""


@register("q19_disjunctive_revenue", oracle=_Q19_ORACLE)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-branch disjunctive brand/size/quantity predicate over the
    part join. Catalyst extracts the common l_quantity range (1..30) and
    p_size range as pushable conjuncts from the OR; the residual
    disjunction evaluates post-join inside codegen."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    branch = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .where(branch)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# --------------------------------------------------------------------------
# 64. q22_dormant_customers — TPC-H Q22 shape: anti-join + scalar threshold
# --------------------------------------------------------------------------
_Q22_ORACLE = """
SELECT c.c_nationkey AS nationkey,
       CAST(count(*) AS BIGINT) AS numcust,
       round(sum(c.c_acctbal), 2) AS totacctbal
FROM customer c
WHERE c.c_nationkey < 10
  AND c.c_acctbal > (
    SELECT round(avg(c2.c_acctbal), 2) FROM customer c2
    WHERE c2.c_acctbal > 0.0 AND c2.c_nationkey < 10
  )
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
  )
GROUP BY 1
"""


@register("q22_dormant_customers", oracle=_Q22_ORACLE)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Well-funded customers with no RECENT orders (none since 2000 —
    every customer has lifetime orders, which would make the classic
    no-orders-ever form vacuous on this data), per nation: a scalar
    average threshold (computed once, applied via cross-join broadcast
    of the 1-row aggregate) plus a left_anti join to recent orders. The
    threshold is rounded to 2 decimals on both engines so the
    order-of-summation ulp cannot flip a boundary row."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_nationkey") < 10)
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
    )
    thresh = c.where(F.col("c_acctbal") > 0.0).agg(
        F.round(F.avg("c_acctbal"), 2).alias("bal_threshold")
    )
    return (
        c.join(F.broadcast(thresh))
        .where(F.col("c_acctbal") > F.col("bal_threshold"))
        .join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count("*").cast("bigint").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# --------------------------------------------------------------------------
# 85. customer_rfm — quintile-scored recency/frequency/monetary
# --------------------------------------------------------------------------
_RFM_ORACLE = """
WITH base AS (
    SELECT o.o_custkey AS custkey,
           CAST(date_diff('day', max(o.o_orderdate),
                (SELECT max(o_orderdate) FROM orders)) AS BIGINT) AS recency_days,
           CAST(count(*) AS BIGINT) AS frequency,
           round(sum(o.o_totalprice), 2) AS monetary
    FROM orders o GROUP BY 1
), q AS (
    SELECT round(quantile_cont(recency_days, 0.2), 4) AS r20,
           round(quantile_cont(recency_days, 0.4), 4) AS r40,
           round(quantile_cont(recency_days, 0.6), 4) AS r60,
           round(quantile_cont(recency_days, 0.8), 4) AS r80,
           round(quantile_cont(frequency, 0.2), 4) AS f20,
           round(quantile_cont(frequency, 0.4), 4) AS f40,
           round(quantile_cont(frequency, 0.6), 4) AS f60,
           round(quantile_cont(frequency, 0.8), 4) AS f80,
           round(quantile_cont(monetary, 0.2), 4) AS m20,
           round(quantile_cont(monetary, 0.4), 4) AS m40,
           round(quantile_cont(monetary, 0.6), 4) AS m60,
           round(quantile_cont(monetary, 0.8), 4) AS m80
    FROM base
)
SELECT b.custkey, b.recency_days, b.frequency, b.monetary,
       CAST(1 + CAST(b.recency_days <= q.r80 AS INT) + CAST(b.recency_days <= q.r60 AS INT)
              + CAST(b.recency_days <= q.r40 AS INT) + CAST(b.recency_days <= q.r20 AS INT)
            AS BIGINT) AS r_score,
       CAST(1 + CAST(b.frequency > q.f20 AS INT) + CAST(b.frequency > q.f40 AS INT)
              + CAST(b.frequency > q.f60 AS INT) + CAST(b.frequency > q.f80 AS INT)
            AS BIGINT) AS f_score,
       CAST(1 + CAST(b.monetary > q.m20 AS INT) + CAST(b.monetary > q.m40 AS INT)
              + CAST(b.monetary > q.m60 AS INT) + CAST(b.monetary > q.m80 AS INT)
            AS BIGINT) AS m_score
FROM base b CROSS JOIN q
"""


@register("customer_rfm", oracle=_RFM_ORACLE)
def customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quintile RFM segmentation WITHOUT the classic global ntile —
    ntile(5) funnels every customer through one window partition, the
    textbook scale-killer. Instead: exact quantile thresholds from a
    1-row aggregate, broadcast back, scores assigned by codegen
    comparisons. Recency scores high when LOW (<= thresholds),
    frequency/monetary high when HIGH (> thresholds); rounded
    thresholds keep the comparisons engine-deterministic."""
    o = load_table(spark, sf_dir, "orders")
    hwm = o.agg(F.max("o_orderdate").alias("max_date"))
    base = (
        o.join(F.broadcast(hwm))
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.datediff(F.first("max_date"), F.max("o_orderdate"))
            .cast("bigint")
            .alias("recency_days"),
            F.count("*").cast("bigint").alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
    )
    qcols = []
    for col, pfx in (("recency_days", "r"), ("frequency", "f"), ("monetary", "m")):
        for p in (20, 40, 60, 80):
            qcols.append(
                F.round(
                    F.expr(f"percentile({col}, {p / 100})"), 4
                ).alias(f"{pfx}{p}")
            )
    q = base.agg(*qcols)
    b = base.join(F.broadcast(q))
    as_int = lambda c: c.cast("int")  # noqa: E731
    return b.select(
        "custkey",
        "recency_days",
        "frequency",
        "monetary",
        (
            F.lit(1)
            + as_int(F.col("recency_days") <= F.col("r80"))
            + as_int(F.col("recency_days") <= F.col("r60"))
            + as_int(F.col("recency_days") <= F.col("r40"))
            + as_int(F.col("recency_days") <= F.col("r20"))
        ).cast("bigint").alias("r_score"),
        (
            F.lit(1)
            + as_int(F.col("frequency") > F.col("f20"))
            + as_int(F.col("frequency") > F.col("f40"))
            + as_int(F.col("frequency") > F.col("f60"))
            + as_int(F.col("frequency") > F.col("f80"))
        ).cast("bigint").alias("f_score"),
        (
            F.lit(1)
            + as_int(F.col("monetary") > F.col("m20"))
            + as_int(F.col("monetary") > F.col("m40"))
            + as_int(F.col("monetary") > F.col("m60"))
            + as_int(F.col("monetary") > F.col("m80"))
        ).cast("bigint").alias("m_score"),
    )


# --------------------------------------------------------------------------
# 86. parts_bought_together — market-basket co-occurrence
# --------------------------------------------------------------------------
_BASKET_ORACLE = """
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
       CAST(count(*) AS BIGINT) AS n_orders
FROM lineitem a
JOIN lineitem b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
HAVING count(*) >= 2
ORDER BY n_orders DESC, part_a ASC, part_b ASC
LIMIT 50
"""


@register("parts_bought_together", oracle=_BASKET_ORACLE)
def parts_bought_together(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top co-purchased part pairs via basket arrays: ONE
    orderkey-keyed shuffle (map-side-combined collect_list) and a
    codegen index-pair explode replace the co-partitioned self-join
    (which shuffled the item list twice); the pair blow-up stays
    bounded by per-order line count (~4), NOT the table — the safe
    kind of quadratic. The sorted list + i<j indexing reproduces the
    join's part_a < part_b multiset exactly (equal-part duplicate
    lines filter out the same way). Top-50 is TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_partkey")).alias("ps")
    )
    return (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) ->"
                    " transform(slice(ps, i + 2, size(ps)), y ->"
                    " named_struct('part_a', x, 'part_b', y))))"
                )
            ).alias("e")
        )
        .select(F.col("e.part_a").alias("part_a"), F.col("e.part_b").alias("part_b"))
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").cast("bigint").alias("n_orders"))
        .where(F.col("n_orders") >= 2)
        .orderBy(F.col("n_orders").desc(), F.col("part_a").asc(), F.col("part_b").asc())
        .limit(50)
    )


# --------------------------------------------------------------------------
# 122. q10_returned_items — TPC-H Q10: top customers by returned revenue
# --------------------------------------------------------------------------
_Q10_ORACLE = """
SELECT c.c_custkey, c.c_name,
       CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5)
                AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
       c.c_acctbal, n.n_name
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
  AND l.l_returnflag = 'R'
GROUP BY 1, 2, 4, 5
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


@register("q10_returned_items", oracle=_Q10_ORACLE)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: customers who returned the most revenue in a quarter.
    Plan shape: the returnflag + quarter predicates prune BOTH fact
    scans before the orderkey join (pushdown-pinned classes), the
    customer join keys on o_custkey, nation broadcasts, and the top-20
    rides TakeOrderedAndProject — no global sort. Deterministic
    tie-break on c_custkey. Revenue is quantized to exact BIGINT cents
    per row before the sum (the events_rolling_7d discipline): the
    per-row double product is engine-identical, so the summed cents —
    unlike an order-dependent double sum — hash-match exactly."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            (
                F.sum(
                    F.floor(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                        + F.lit(0.5)
                    ).cast("bigint")
                ).cast("double")
                / 100.0
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )
