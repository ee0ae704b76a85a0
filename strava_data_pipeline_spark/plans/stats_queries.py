"""Exact-moment statistics queries (SURVEY.md §2, r6 eighth pack,
rows 169-171): the one-pass sufficient-statistics layer — Pearson
correlation matrix, per-group OLS trend fit, and a chi-square
independence audit — all computed from integer/DECIMAL(38,0) moment
sums so the statistics are bit-reproducible across engines and across
cluster sizes (float moment accumulation is order-dependent; a 1000-
executor sum and a 32-thread sum of the same doubles disagree in the
last bits, which is exactly what these queries must never do).

The discipline: raw measures quantize losslessly to integers (cents /
percent / epoch-days), moment sums accumulate in DECIMAL(38,0) (exact,
order-free, overflow-checked in docstrings), and the final statistic is
a fixed expression tree of correctly-rounded double ops over IDENTICAL
exact inputs — so both engines produce the same double, and round(.,6)
is stable.

No reference parity lines: beyond-reference operators per the task
brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from strava_data_pipeline_spark.plans.registry import register
from strava_data_pipeline_spark.sources.catalog import load_table

# --------------------------------------------------------------------------
# 169. corr_matrix — Pearson correlation of the lineitem measures, one pass
# --------------------------------------------------------------------------
# Four measures in lossless integer units; all 4+4+6 moment sums ride
# ONE aggregation over ONE scan. Magnitudes: Σxy ≤ rows·(10^7)^2 ≈
# 10^22 at sf100, and the combination n·Σxy − Σx·Σy ≤ ~10^31 — inside
# DECIMAL(38,0) with 7 digits to spare.
_CM_VARS: tuple[tuple[str, str, str], ...] = (
    # (name, spark integer expr, duckdb integer expr)
    ("quantity", "cast(round(l_quantity * 100) as decimal(38,0))",
     "CAST(round(l_quantity * 100) AS DECIMAL(38,0))"),
    ("price", "cast(round(l_extendedprice * 100) as decimal(38,0))",
     "CAST(round(l_extendedprice * 100) AS DECIMAL(38,0))"),
    ("discount", "cast(round(l_discount * 100) as decimal(38,0))",
     "CAST(round(l_discount * 100) AS DECIMAL(38,0))"),
    ("tax", "cast(round(l_tax * 100) as decimal(38,0))",
     "CAST(round(l_tax * 100) AS DECIMAL(38,0))"),
)
_CM_PAIRS = [
    (_CM_VARS[i][0], _CM_VARS[j][0])
    for i in range(len(_CM_VARS))
    for j in range(i + 1, len(_CM_VARS))
]


def _corr_oracle() -> str:
    proj = ", ".join(f"{d} AS {n}" for n, _, d in _CM_VARS)
    sums = ", ".join(
        f"sum({n}) AS s_{n}, sum({n} * {n}) AS q_{n}" for n, _, _ in _CM_VARS
    )
    crosses = ", ".join(
        f"sum({x} * {y}) AS c_{x}_{y}" for x, y in _CM_PAIRS
    )
    pair_rows = " UNION ALL ".join(
        f"""SELECT '{x}' AS var_x, '{y}' AS var_y, n,
            CAST(CAST(n AS DECIMAL(38,0)) * c_{x}_{y} - s_{x} * s_{y} AS VARCHAR)
              AS cov_num,
            round(CAST(CAST(n AS DECIMAL(38,0)) * c_{x}_{y} - s_{x} * s_{y} AS DOUBLE)
                  / (sqrt(CAST(CAST(n AS DECIMAL(38,0)) * q_{x} - s_{x} * s_{x} AS DOUBLE))
                   * sqrt(CAST(CAST(n AS DECIMAL(38,0)) * q_{y} - s_{y} * s_{y} AS DOUBLE))),
                  6) AS corr
            FROM m"""
        for x, y in _CM_PAIRS
    )
    return f"""
WITH v AS (SELECT {proj} FROM lineitem),
m AS (SELECT CAST(count(*) AS BIGINT) AS n, {sums}, {crosses} FROM v)
{pair_rows}
"""


@register("corr_matrix", oracle=_corr_oracle())
def corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix of the four lineitem measures
    (quantity, price, discount, tax) — the feature-redundancy screen a
    modeling pipeline runs before training, and the cross-column half
    of table_stats. All six pairwise correlations come from ONE
    15-sum aggregation over ONE scan.

    Scale design: measures quantize losslessly to integer units and
    every moment accumulates in DECIMAL(38,0) — exact and order-free,
    so the 1000-executor partial-aggregate tree gives bit-identical
    sums to any other plan (float moments would drift in the last bits
    with partitioning). The final correlation is a fixed tree of
    correctly-rounded double ops over those exact sums (identical on
    both engines); cov numerators additionally ship as exact decimal
    STRINGS so the oracle row proves the moments, not just the rounded
    quotient. Headroom: n·Σxy − Σx·Σy ≈ 10^31 at sf100 vs DECIMAL(38)."""
    exprs = [F.expr(s).alias(n) for n, s, _ in _CM_VARS]
    v = load_table(spark, sf_dir, "lineitem").select(*exprs)
    aggs = [F.count("*").cast("bigint").alias("n")]
    for n, _, _ in _CM_VARS:
        aggs.append(F.sum(F.col(n)).alias(f"s_{n}"))
        aggs.append(F.sum(F.col(n) * F.col(n)).alias(f"q_{n}"))
    for x, y in _CM_PAIRS:
        aggs.append(F.sum(F.col(x) * F.col(y)).alias(f"c_{x}_{y}"))
    m = v.agg(*aggs)
    nd = F.col("n").cast("decimal(38,0)")
    # all 6 pair rows explode out of the SINGLE 1-row aggregate — a
    # union of 6 selects over `m` would re-evaluate the aggregate (and
    # rescan the fact table) once per pair
    structs = []
    for x, y in _CM_PAIRS:
        num = nd * F.col(f"c_{x}_{y}") - F.col(f"s_{x}") * F.col(f"s_{y}")
        varx = (nd * F.col(f"q_{x}") - F.col(f"s_{x}") * F.col(f"s_{x}")).cast(
            "double"
        )
        vary = (nd * F.col(f"q_{y}") - F.col(f"s_{y}") * F.col(f"s_{y}")).cast(
            "double"
        )
        structs.append(
            F.struct(
                F.lit(x).alias("var_x"),
                F.lit(y).alias("var_y"),
                num.cast("string").alias("cov_num"),
                F.round(
                    num.cast("double") / (F.sqrt(varx) * F.sqrt(vary)), 6
                ).alias("corr"),
            )
        )
    return m.select("n", F.explode(F.array(*structs)).alias("p")).select(
        F.col("p.var_x").alias("var_x"),
        F.col("p.var_y").alias("var_y"),
        "n",
        F.col("p.cov_num").alias("cov_num"),
        F.col("p.corr").alias("corr"),
    )


# --------------------------------------------------------------------------
# 170. trend_fit — per-type OLS of event value against time
# --------------------------------------------------------------------------
# t = whole epoch-days (BIGINT ~2·10^4), v = cents. The five moment
# sums fit BIGINT comfortably (Σtv ≤ 10^16 at sf100); the OLS
# combinations n·Σtv − Σt·Σv (~10^23) go through DECIMAL(38,0).
_TREND_ORACLE = """
WITH v AS (
    SELECT event_type,
           CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS t,
           CAST(round(value * 100) AS BIGINT) AS vc
    FROM events
), m AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(t) AS DECIMAL(38,0)) AS st,
           CAST(sum(vc) AS DECIMAL(38,0)) AS sv,
           CAST(sum(t * vc) AS DECIMAL(38,0)) AS stv,
           CAST(sum(t * t) AS DECIMAL(38,0)) AS stt
    FROM v GROUP BY 1
)
SELECT event_type, n,
       CAST(CAST(n AS DECIMAL(38,0)) * stv - st * sv AS VARCHAR) AS slope_num,
       CAST(CAST(n AS DECIMAL(38,0)) * stt - st * st AS VARCHAR) AS slope_den,
       round(CAST(CAST(n AS DECIMAL(38,0)) * stv - st * sv AS DOUBLE)
             / CAST(CAST(n AS DECIMAL(38,0)) * stt - st * st AS DOUBLE), 9)
         AS slope_cents_per_day,
       round((CAST(sv AS DOUBLE)
              - (CAST(CAST(n AS DECIMAL(38,0)) * stv - st * sv AS DOUBLE)
                 / CAST(CAST(n AS DECIMAL(38,0)) * stt - st * st AS DOUBLE))
                * CAST(st AS DOUBLE)) / n, 6) AS intercept_cents
FROM m
"""


@register("trend_fit", oracle=_TREND_ORACLE)
def trend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of value against time (cents/day slope
    + intercept) — "is this metric drifting, and how fast": the
    closed-form regression every monitoring dashboard fits, computed
    exactly. Complements cusum_changepoint (WHERE did it shift) with
    the rate (HOW FAST is it moving).

    Scale design: one scan, one map-side-combinable 5-moment aggregate
    per type — sufficient statistics, never the points. Moments are
    exact (BIGINT inputs, DECIMAL(38,0) combinations — n·Σtv ≈ 10^23
    at sf100, 15 digits of headroom), slope numerator/denominator ship
    as exact decimal strings alongside the rounded quotient, and the
    slope/intercept doubles are fixed expression trees over identical
    exact inputs on both engines."""
    v = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("cast(unix_timestamp(ts) div 86400 as bigint)").alias("t"),
        F.round(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    m = v.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("t").cast("decimal(38,0)").alias("st"),
        F.sum("vc").cast("decimal(38,0)").alias("sv"),
        F.sum(F.col("t") * F.col("vc")).cast("decimal(38,0)").alias("stv"),
        F.sum(F.col("t") * F.col("t")).cast("decimal(38,0)").alias("stt"),
    )
    nd = F.col("n").cast("decimal(38,0)")
    num = nd * F.col("stv") - F.col("st") * F.col("sv")
    den = nd * F.col("stt") - F.col("st") * F.col("st")
    slope = num.cast("double") / den.cast("double")
    return m.select(
        "event_type",
        "n",
        num.cast("string").alias("slope_num"),
        den.cast("string").alias("slope_den"),
        F.round(slope, 9).alias("slope_cents_per_day"),
        F.round(
            (F.col("sv").cast("double") - slope * F.col("st").cast("double"))
            / F.col("n"),
            6,
        ).alias("intercept_cents"),
    )


# --------------------------------------------------------------------------
# 171. chi2_independence — event_type × weekday contingency audit
# --------------------------------------------------------------------------
# Weekday = epoch-day mod 7 (pure integer — Spark's dayofweek() and
# DuckDB's dayofweek() disagree on Sunday's index, so neither is used).
# Per-cell chi-square term in the cross-multiplied form
# (O·N − RT·CT)² / (RT·CT·N): exact DECIMAL numerator, one
# correctly-rounded double division.
_CHI2_ORACLE = """
WITH cells AS (
    SELECT event_type,
           CAST(floor(epoch(ts)) AS BIGINT) // 86400 % 7 AS wd,
           CAST(count(*) AS BIGINT) AS obs
    FROM events GROUP BY 1, 2
), tot AS (
    SELECT event_type, wd, obs,
           sum(obs) OVER (PARTITION BY event_type) AS rt,
           sum(obs) OVER (PARTITION BY wd) AS ct,
           sum(obs) OVER () AS n
    FROM cells
)
SELECT event_type, wd, obs,
       round(CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / n, 6) AS expected,
       round(CAST(CAST(obs AS DECIMAL(38,0)) * n - CAST(rt AS DECIMAL(38,0)) * ct AS DOUBLE)
             * CAST(CAST(obs AS DECIMAL(38,0)) * n - CAST(rt AS DECIMAL(38,0)) * ct AS DOUBLE)
             / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) * CAST(n AS DOUBLE)), 6)
         AS chi2_term
FROM tot
"""


@register("chi2_independence", oracle=_CHI2_ORACLE)
def chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence audit of event_type × weekday: observed
    vs expected cell counts and per-cell chi-square terms — "does
    behavior depend on the day", the categorical-drift screen next to
    trend_fit's numeric one. Weekday is epoch-day mod 7 (pure integer;
    Spark and DuckDB index Sunday differently in dayofweek(), so
    calendar functions are deliberately avoided).

    Scale design: the fact collapses to the |types|×7 contingency
    frame in one map-side-combinable groupBy; the margin sums are
    windows over THAT 35-row frame (the full-frame window is bounded
    by the category domain, never the data). The chi-square term uses
    the cross-multiplied form (O·N − RT·CT)²/(RT·CT·N) — numerator
    exact in DECIMAL(38,0) (≈10^30 at sf100), one rounded double
    division at the end."""
    cells = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.expr("cast(unix_timestamp(ts) div 86400 % 7 as bigint)").alias(
                "wd"
            ),
        )
        .agg(F.count("*").cast("bigint").alias("obs"))
    )
    tot = cells.select(
        "event_type",
        "wd",
        "obs",
        F.sum("obs").over(Window.partitionBy("event_type")).alias("rt"),
        F.sum("obs").over(Window.partitionBy("wd")).alias("ct"),
        F.sum("obs").over(
            Window.partitionBy()
        ).alias("n"),
    )
    od = F.col("obs").cast("decimal(38,0)")
    rtd = F.col("rt").cast("decimal(38,0)")
    num = od * F.col("n") - rtd * F.col("ct")
    return tot.select(
        "event_type",
        "wd",
        "obs",
        F.round(
            F.col("rt").cast("double") * F.col("ct").cast("double") / F.col("n"),
            6,
        ).alias("expected"),
        F.round(
            num.cast("double")
            * num.cast("double")
            / (
                F.col("rt").cast("double")
                * F.col("ct").cast("double")
                * F.col("n").cast("double")
            ),
            6,
        ).alias("chi2_term"),
    )
