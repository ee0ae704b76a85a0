"""Remaining TPC-H operator shapes (SURVEY.md §2b, rows 89-97) — with
these, every one of the 22 TPC-H query classes is covered either
directly or adapted to the available star schema. The schema has no
partsupp / shipmode / commitdate / receiptdate columns, so:

- "cost" proxies: min unit price observed in lineitem (q2), 60% of
  p_retailprice (q9) — the *shapes* (correlated min subquery, profit
  expression over a 6-way join) are what's exercised;
- "late" proxy: l_shipdate > o_orderdate + 60 days (q21);
- "shipmode" proxy: l_returnflag (q12);
- "stock" proxy: a supplier's shipped share of a part's total (q20).

Rounding discipline (see analytics_extra.py): sums that feed an
equality compare or a 2dp round accumulate in DECIMAL(18,2)-derived
precision (order-independent, exact on both engines); raw doubles that
flow through min()/division untouched are bit-identical cross-engine
and need no rounding (the compare normalizes floats at 9dp).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from strava_data_pipeline_spark.plans.registry import register
from strava_data_pipeline_spark.sources.catalog import load_table


def _dec(col: str):
    return F.col(col).cast("decimal(18,2)")


# --------------------------------------------------------------------------
# 89. q6_forecast_revenue — TPC-H Q6: the pure-scan aggregate
# --------------------------------------------------------------------------
_Q6_ORACLE = """
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_discount AS DECIMAL(18,2))), 2) AS DOUBLE)
         AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("q6_forecast_revenue", oracle=_Q6_ORACLE)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue increase from dropping small-quantity discounts: a
    single-table filter + global aggregate, no join, no window — the
    canonical everything-pushes-to-the-scan query. All three predicates
    reach the parquet reader as PushedFilters; the agg is one
    whole-stage-codegen span with a 1-row exchange. Decimal
    accumulation makes the single output value order-independent."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(_dec("l_extendedprice") * _dec("l_discount")), 2)
            .cast("double")
            .alias("revenue")
        )
    )


# --------------------------------------------------------------------------
# 90. q12_returnflag_priority — TPC-H Q12 shape: conditional counts
# --------------------------------------------------------------------------
_Q12_ORACLE = """
SELECT l.l_returnflag AS return_flag,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY 1
"""


@register("q12_returnflag_priority", oracle=_Q12_ORACLE)
def q12_returnflag_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Urgent-vs-other order counts per return flag (Q12's shipmode
    stand-in — the schema has no l_shipmode): a fact-fact equi-join
    where the year filter prunes lineitem at the scan, then two
    conditional sums in one aggregate pass — no second scan, no pivot
    job. Output is 3 groups; the shuffle after partial aggregation
    carries 3 rows per task."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .groupBy(F.col("l_returnflag").alias("return_flag"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias(
                "high_line_count"
            ),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias(
                "low_line_count"
            ),
        )
    )


# --------------------------------------------------------------------------
# 91. q15_top_supplier — TPC-H Q15: aggregate view + scalar max
# --------------------------------------------------------------------------
_Q15_ORACLE = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY 1
)
SELECT s.s_suppkey AS suppkey, s.s_name AS name, r.total_revenue
FROM supplier s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


@register("q15_top_supplier", oracle=_Q15_ORACLE)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier(s) with the maximum quarterly revenue: the CREATE VIEW +
    scalar-max subquery of Q15 becomes an aggregate reused by both the
    max and the equality filter. The revenue frame (one row per
    supplier) is persisted so the fact table is scanned once; the max
    is a broadcast 1-row join. Revenue is decimal-accumulated and
    rounded before the equality compare, so ties resolve identically on
    both engines (ALL tied suppliers return, as in the spec)."""
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    revenue = (
        l.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(F.sum(_dec("l_extendedprice") * (1 - _dec("l_discount"))), 2)
            .cast("double")
            .alias("total_revenue")
        )
        .persist()
    )
    top = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(F.broadcast(top))
        .where(F.col("total_revenue") == F.col("max_revenue"))
        .join(s, F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("name"),
            "total_revenue",
        )
    )


# --------------------------------------------------------------------------
# 92. q2_min_cost_supplier — TPC-H Q2 shape: correlated min subquery
# --------------------------------------------------------------------------
_Q2_ORACLE = """
WITH cost AS (
  SELECT l_partkey AS pk, l_suppkey AS sk,
         min(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem GROUP BY 1, 2
), eu AS (
  SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
  FROM supplier s
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
), best AS (
  SELECT c.pk, min(c.unit_cost) AS min_cost
  FROM cost c JOIN eu ON c.sk = eu.s_suppkey
  GROUP BY 1
)
SELECT p.p_partkey AS partkey, p.p_name AS part_name,
       eu.s_name AS supplier, eu.n_name AS nation,
       eu.s_acctbal AS acctbal, c.unit_cost
FROM cost c
JOIN eu ON c.sk = eu.s_suppkey
JOIN best b ON c.pk = b.pk AND c.unit_cost = b.min_cost
JOIN part p ON p.p_partkey = c.pk
WHERE p.p_size <= 15 AND p.p_type = 'STANDARD'
"""


@register("q2_min_cost_supplier", oracle=_Q2_ORACLE)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest EUROPE supplier per STANDARD small part (Q2's
    correlated min-cost subquery; lineitem's observed min unit price
    stands in for the absent partsupp.ps_supplycost). Decorrelated the
    Catalyst way: per-(part,supplier) min → per-part min among EUROPE
    suppliers → equality join-back picks the argmin rows (all ties, as
    the spec requires). unit_cost stays a raw double: min() and a
    single division are bit-identical cross-engine, so no rounding is
    needed for the equality. The supplier side broadcasts (dim-sized);
    the part filter prunes before the final join."""
    l = load_table(spark, sf_dir, "lineitem")
    cost = (
        l.groupBy(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk"))
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eu = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    eu_cost = cost.join(F.broadcast(eu), F.col("sk") == F.col("s_suppkey")).persist()
    best = (
        eu_cost.groupBy(F.col("pk").alias("best_pk"))
        .agg(F.min("unit_cost").alias("min_cost"))
    )
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_size") <= 15) & (F.col("p_type") == "STANDARD")
    )
    return (
        eu_cost.join(
            best,
            (F.col("pk") == F.col("best_pk"))
            & (F.col("unit_cost") == F.col("min_cost")),
        )
        .join(p, eu_cost["pk"] == p["p_partkey"])
        .select(
            F.col("p_partkey").alias("partkey"),
            F.col("p_name").alias("part_name"),
            F.col("s_name").alias("supplier"),
            F.col("n_name").alias("nation"),
            F.col("s_acctbal").alias("acctbal"),
            "unit_cost",
        )
    )


# --------------------------------------------------------------------------
# 93. q9_product_profit — TPC-H Q9 shape: profit expression, 5-way join
# --------------------------------------------------------------------------
_Q9_ORACLE = """
SELECT nation, o_year, CAST(round(sum(amount), 2) AS DOUBLE) AS sum_profit
FROM (
  SELECT n.n_name AS nation,
         CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
         CAST(l.l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
         - CAST(0.6 AS DECIMAL(3,2))
           * CAST(p.p_retailprice AS DECIMAL(18,2))
           * CAST(l.l_quantity AS DECIMAL(18,2)) AS amount
  FROM lineitem l
  JOIN part p     ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n   ON s.s_nationkey = n.n_nationkey
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  WHERE p.p_name LIKE 'red %'
) profit
GROUP BY 1, 2
"""


@register("q9_product_profit", oracle=_Q9_ORACLE)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit on red parts per supplier nation per order year (Q9;
    cost = 60% of p_retailprice since partsupp doesn't exist). The
    p_name LIKE prefix filter prunes part BEFORE its join, which in
    turn prunes ~96% of lineitem via the join — the classic
    selective-dim star join. nation broadcasts; profit accumulates in
    exact decimal because nation×year groups are small enough for a
    double sum to sit on a rounding boundary."""
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("red %"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    l = load_table(spark, sf_dir, "lineitem")
    amount = _dec("l_extendedprice") * (1 - _dec("l_discount")) - F.lit(
        "0.6"
    ).cast("decimal(3,2)") * _dec("p_retailprice") * _dec("l_quantity")
    return (
        l.join(p.select("p_partkey", "p_retailprice"), l["l_partkey"] == F.col("p_partkey"))
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.round(F.sum(amount), 2).cast("double").alias("sum_profit"))
    )


# --------------------------------------------------------------------------
# 94. q11_important_parts — TPC-H Q11 shape: group vs scalar threshold
# --------------------------------------------------------------------------
_Q11_ORACLE = """
WITH val AS (
  SELECT l.l_partkey AS partkey,
         sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS v
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n   ON s.s_nationkey = n.n_nationkey
  WHERE n.n_name = 'NATION_3'
  GROUP BY 1
)
SELECT partkey, CAST(round(v, 2) AS DOUBLE) AS part_value
FROM val
WHERE v > (SELECT sum(v) * CAST(0.0001 AS DECIMAL(7,4)) FROM val)
"""


@register("q11_important_parts", oracle=_Q11_ORACLE)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose shipped value from one nation's suppliers exceeds
    0.01% of that nation's total (Q11's important-stock HAVING over a
    scalar subquery). The per-part aggregate is computed once and
    persisted; the grand total re-aggregates those group rows (not the
    fact table) and broadcasts back as a 1-row threshold. Everything
    stays in exact decimal until the final display round, so the
    threshold compare cannot straddle an ulp."""
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")
    l = load_table(spark, sf_dir, "lineitem")
    val = (
        l.join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(_dec("l_extendedprice") * (1 - _dec("l_discount"))).alias("v"))
        .persist()
    )
    thresh = val.agg(
        (F.sum("v") * F.lit("0.0001").cast("decimal(7,4)")).alias("threshold")
    )
    return (
        val.join(F.broadcast(thresh))
        .where(F.col("v") > F.col("threshold"))
        .select("partkey", F.round(F.col("v"), 2).cast("double").alias("part_value"))
    )


# --------------------------------------------------------------------------
# 95. q16_supplier_count — TPC-H Q16 shape: distinct count + NOT IN
# --------------------------------------------------------------------------
_Q16_ORACLE = """
SELECT p.p_brand AS brand, p.p_type AS type, p.p_size AS size,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 4, 9, 14, 19, 24, 29, 34, 39, 44)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
"""


@register("q16_supplier_count", oracle=_Q16_ORACLE)
def q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct suppliers able to supply each (brand, type, size) slice
    (Q16; the lineitem link stands in for partsupp, negative account
    balance for the complaints NOT IN list). The exclusion subquery
    becomes a left_anti join against a construction-bounded supplier
    subset; count(DISTINCT) runs as Spark's two-phase distinct
    aggregate — partial distinct per partition before the shuffle, so
    the exchange carries (group, suppkey) pairs, not lineitems."""
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34, 39, 44)
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    l = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        l.join(bad, l["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(p, l["l_partkey"] == p["p_partkey"])
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("type"),
            F.col("p_size").alias("size"),
        )
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


# --------------------------------------------------------------------------
# 96. q20_dominant_suppliers — TPC-H Q20 shape: nested-agg semi-join chain
# --------------------------------------------------------------------------
_Q20_ORACLE = """
WITH ps AS (
  SELECT l_partkey AS pk, l_suppkey AS sk, sum(l_quantity) AS sq
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  GROUP BY 1, 2
), pt AS (
  SELECT pk, sum(sq) AS tq FROM ps GROUP BY 1
), dominant AS (
  SELECT DISTINCT ps.sk
  FROM ps
  JOIN pt ON ps.pk = pt.pk
  JOIN part p ON p.p_partkey = ps.pk
  WHERE p.p_name LIKE 'red %' AND ps.sq > 0.3 * pt.tq
)
SELECT s.s_suppkey AS suppkey, s.s_name AS name, n.n_name AS nation
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'EUROPE' AND s.s_suppkey IN (SELECT sk FROM dominant)
"""


@register("q20_dominant_suppliers", oracle=_Q20_ORACLE)
def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EUROPE suppliers who shipped >30% of some red part's 1996 volume
    (Q20's excess-stock pipeline with shipped-share standing in for
    availqty). Two stacked aggregates — (part,supplier) then part —
    share one shuffle partitioning on partkey prefix; the qualifying
    supplier ids collapse to a DISTINCT set that semi-joins the
    supplier dim. Quantity sums are integral doubles: exact in IEEE
    double on both engines, order-independent."""
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    ps = (
        l.groupBy(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk"))
        .agg(F.sum("l_quantity").alias("sq"))
        .persist()
    )
    pt = ps.groupBy("pk").agg(F.sum("sq").alias("tq"))
    red = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("red %"))
        .select("p_partkey")
    )
    dominant = (
        ps.join(pt, "pk")
        .join(F.broadcast(red), F.col("pk") == F.col("p_partkey"), "left_semi")
        .where(F.col("sq") > 0.3 * F.col("tq"))
        .select("sk")
        .distinct()
    )
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    return (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(dominant, F.col("s_suppkey") == F.col("sk"), "left_semi")
        .select(
            F.col("s_suppkey").alias("suppkey"),
            F.col("s_name").alias("name"),
            F.col("n_name").alias("nation"),
        )
    )


# --------------------------------------------------------------------------
# 97. q21_waiting_suppliers — TPC-H Q21 shape: exists + not-exists
# --------------------------------------------------------------------------
_Q21_ORACLE = """
WITH late AS (
  SELECT l.l_orderkey AS okey, l.l_suppkey AS skey
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderstatus = 'F'
    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
), eu_supp AS (
  SELECT s.s_suppkey, s.s_name
  FROM supplier s
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
)
SELECT s.s_name AS name, CAST(count(*) AS BIGINT) AS numwait
FROM late l1
JOIN eu_supp s ON l1.skey = s.s_suppkey
WHERE EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.okey AND l2.l_suppkey <> l1.skey)
  AND NOT EXISTS (SELECT 1 FROM late l3
                  WHERE l3.okey = l1.okey AND l3.skey <> l1.skey)
GROUP BY 1
ORDER BY numwait DESC, name ASC
LIMIT 100
"""


@register("q21_waiting_suppliers", oracle=_Q21_ORACLE)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who alone held up a finished multi-supplier order
    (Q21; late = shipped >60 days after the order date, the available
    lateness signal without commitdate/receiptdate). The correlated
    EXISTS becomes a left_semi join (another supplier shipped on the
    order) and the NOT EXISTS a left_anti join (no OTHER supplier was
    late) — both equi-joins on orderkey with the supplier-inequality as
    a residual condition, so they hash-partition, never nested-loop.
    The late frame is computed once and persisted: it feeds the
    probe side, the anti side, and the final count. Top-100 is
    TakeOrderedAndProject."""
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select(F.col("l_orderkey").alias("okey"), F.col("l_suppkey").alias("skey"))
        .persist()
    )
    all_lines = l.select(
        F.col("l_orderkey").alias("a_okey"), F.col("l_suppkey").alias("a_skey")
    )
    other_late = late.select(
        F.col("okey").alias("b_okey"), F.col("skey").alias("b_skey")
    )
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eu = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name")
    )
    return (
        late.join(
            all_lines,
            (F.col("okey") == F.col("a_okey")) & (F.col("skey") != F.col("a_skey")),
            "left_semi",
        )
        .join(
            other_late,
            (F.col("okey") == F.col("b_okey")) & (F.col("skey") != F.col("b_skey")),
            "left_anti",
        )
        .join(F.broadcast(eu), F.col("skey") == F.col("s_suppkey"))
        .groupBy(F.col("s_name").alias("name"))
        .agg(F.count("*").cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("name").asc())
        .limit(100)
    )
