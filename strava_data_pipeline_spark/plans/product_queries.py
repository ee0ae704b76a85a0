"""Product-analytics queries (SURVEY.md §2, r6 ninth pack, rows
172-174): the experimentation / engagement layer — last-touch
attribution, deterministic A/B evaluation with exact moments, and
DAU/MAU stickiness — the three queries a product team runs daily on
the event stream.

No reference parity lines: beyond-reference operators per the task
brief. Cross-engine discipline unchanged (integer epochs/cents, exact
moment sums, hash-gated assignment, one rounded double at the end).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from strava_data_pipeline_spark.functions.hashing import (
    md5_u32,
    md5_u32_duckdb,
)
from strava_data_pipeline_spark.plans.registry import register
from strava_data_pipeline_spark.sources.catalog import load_table

# --------------------------------------------------------------------------
# 172. attribution_last_touch — last non-purchase touch before each purchase
# --------------------------------------------------------------------------
# ROWS-frame (not RANGE) running last-touch, so duplicate timestamps
# stay deterministic: the frame order is the shared (ts, event_id)
# total order, and `last_value IGNORE NULLS` over rows-before-current
# picks the same row on both engines. The 7-day lookback is a plain
# integer filter AFTER attribution (a RANGE frame could embed it, but
# RANGE cannot carry the event_id tie-break).
_ATTR_WINDOW_SEC = 7 * 86400

_ATTR_ORACLE = f"""
WITH e AS (
    SELECT event_id, user_id, event_type,
           CAST(floor(epoch(ts)) AS BIGINT) AS s
    FROM events
), touched AS (
    SELECT event_id, user_id, event_type, s,
           last_value(CASE WHEN event_type <> 'purchase'
                           THEN event_id END IGNORE NULLS)
             OVER w AS touch_event_id,
           last_value(CASE WHEN event_type <> 'purchase'
                           THEN s END IGNORE NULLS)
             OVER w AS touch_s
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT event_id AS purchase_event_id, user_id,
       CASE WHEN s - touch_s <= {_ATTR_WINDOW_SEC}
            THEN touch_event_id END AS touch_event_id,
       CASE WHEN s - touch_s <= {_ATTR_WINDOW_SEC}
            THEN CAST(s - touch_s AS BIGINT) END AS gap_sec
FROM touched
WHERE event_type = 'purchase'
"""


@register("attribution_last_touch", oracle=_ATTR_ORACLE)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: for every purchase, the user's most
    recent preceding non-purchase event within a 7-day lookback (NULL
    when the trail is cold) — the marketing-attribution primitive, and
    a shape as-of joins don't cover (the attribution target is a
    FILTERED subset of the same stream, not a second table).

    Scale design: one user_id-partitioned window carries both
    attribution columns — `last_value(... IGNORE NULLS)` over a ROWS
    frame in the shared (ts, event_id) total order, so duplicate
    timestamps attribute identically on every engine and every
    partitioning (a RANGE frame would embed the 7-day bound but cannot
    carry the tie-break; the bound is an integer filter afterwards
    instead). One exchange, zero joins, BIGINT epochs throughout."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_timestamp("ts").cast("bigint").alias("s"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    non_purchase = F.when(
        F.col("event_type") != "purchase", F.col("event_id")
    )
    non_purchase_s = F.when(F.col("event_type") != "purchase", F.col("s"))
    touched = e.select(
        "event_id",
        "user_id",
        "event_type",
        "s",
        F.last(non_purchase, ignorenulls=True).over(w).alias("touch_event_id"),
        F.last(non_purchase_s, ignorenulls=True).over(w).alias("touch_s"),
    )
    in_window = (F.col("s") - F.col("touch_s")) <= _ATTR_WINDOW_SEC
    return touched.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        F.when(in_window, F.col("touch_event_id")).alias("touch_event_id"),
        F.when(in_window, (F.col("s") - F.col("touch_s")).cast("bigint")).alias(
            "gap_sec"
        ),
    )


# --------------------------------------------------------------------------
# 195. attribution_last_touch_bucketed — the skew-robust twin (r8)
# --------------------------------------------------------------------------
@register("attribution_last_touch_bucketed", oracle=_ATTR_ORACLE)
def attribution_last_touch_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """attribution_last_touch through the two-phase carry — SAME
    oracle, identical hash. The plain query's last-non-purchase
    ignorenulls window hands ONE task the hot user's whole stream
    (measured 4.37x tax, SCALING_SKEW_R8.json);
    operators/bucketed_prefix.bucketed_carry computes the identical
    strictly-before last-non-null over (user, day) buckets — the
    conditional columns pass straight through as the carry inputs
    (nulls = purchases skip, exactly the window's ignorenulls), and
    the cross-bucket carry rides one summary row per (user, day). The
    7-day bound stays the same integer filter afterwards. Same
    hot-key-knob contract as the other bucketed twins."""
    from strava_data_pipeline_spark.operators.bucketed_prefix import (
        bucketed_carry,
    )

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_timestamp("ts").cast("bigint").alias("s"),
    ).withColumn("_bkt", F.floor(F.col("s") / F.lit(86_400)))
    touched = bucketed_carry(
        e,
        key_col="user_id",
        bucket_col="_bkt",
        order_cols=["s", "event_id"],
        carries={
            "touch_event_id": F.when(
                F.col("event_type") != "purchase", F.col("event_id")
            ),
            "touch_s": F.when(
                F.col("event_type") != "purchase", F.col("s")
            ),
        },
    )
    in_window = (F.col("s") - F.col("touch_s")) <= _ATTR_WINDOW_SEC
    return touched.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_event_id"),
        "user_id",
        F.when(in_window, F.col("touch_event_id")).alias("touch_event_id"),
        F.when(in_window, (F.col("s") - F.col("touch_s")).cast("bigint")).alias(
            "gap_sec"
        ),
    )


# --------------------------------------------------------------------------
# 173. ab_test_eval — deterministic assignment + exact-moment evaluation
# --------------------------------------------------------------------------
# Arms come from the portable md5-u32 hash of the user id (50/50 by
# hash parity bucket), so assignment is reproducible everywhere and
# immune to partitioning — the property rand() splits lose. Value
# moments accumulate as exact cents BIGINTs; the z-statistic is a
# fixed double tree over identical exact inputs.
_AB_ORACLE = f"""
WITH assigned AS (
    SELECT CASE WHEN {md5_u32_duckdb("CAST(user_id AS VARCHAR)")} % 2 = 0
                THEN 'control' ELSE 'treatment' END AS arm,
           CAST(round(value * 100) AS BIGINT) AS vc
    FROM events WHERE event_type = 'purchase'
)
SELECT arm,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(vc) AS BIGINT) AS sum_cents,
       CAST(sum(vc * vc) AS BIGINT) AS sumsq_cents,
       round(sum(vc) * 1.0 / count(*), 6) AS mean_cents,
       round((sum(vc * vc) * 1.0 / count(*))
             - (sum(vc) * 1.0 / count(*)) * (sum(vc) * 1.0 / count(*)), 6)
         AS var_cents
FROM assigned GROUP BY 1
"""


@register("ab_test_eval", oracle=_AB_ORACLE)
def ab_test_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout over purchase values: per arm, exact
    counts, cents sums and sums-of-squares (the sufficient statistics
    a sequential test or CUPED adjustment consumes), plus mean and
    population variance. Assignment is the portable md5-u32 hash of
    the user id mod 2 — deterministic, partitioning-independent, and
    identical across engines, the property rand()-based splits lose
    the moment the cluster re-partitions.

    Scale design: one filtered scan, one map-side-combinable two-row
    aggregate; moments are exact BIGINTs (Σv² ≤ rows·(5·10^4)² ≈ 10^16
    at sf100), and mean/variance are fixed double expressions over
    those identical exact sums."""
    e = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    )
    assigned = e.select(
        F.when(md5_u32(F.col("user_id").cast("string")) % 2 == 0, "control")
        .otherwise("treatment")
        .alias("arm"),
        F.round(F.col("value") * 100).cast("bigint").alias("vc"),
    )
    mean = F.sum("vc") * F.lit(1.0) / F.count("*")
    return assigned.groupBy("arm").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("vc").cast("bigint").alias("sum_cents"),
        F.sum(F.col("vc") * F.col("vc")).cast("bigint").alias("sumsq_cents"),
        F.round(mean, 6).alias("mean_cents"),
        F.round(
            (F.sum(F.col("vc") * F.col("vc")) * F.lit(1.0) / F.count("*"))
            - mean * mean,
            6,
        ).alias("var_cents"),
    )


# --------------------------------------------------------------------------
# 174. dau_mau_stickiness — engagement ratio per day
# --------------------------------------------------------------------------
# Day and month from integer epoch-days (no calendar functions — the
# weekday lesson from chi2_independence applies to month boundaries
# too, so "month" here is the 30-day epoch bucket: the rolling-
# engagement denominator, not the calendar page).
_DAU_ORACLE = """
WITH e AS (
    SELECT DISTINCT user_id,
           CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
    FROM events
), dau AS (
    SELECT day, CAST(count(*) AS BIGINT) AS dau FROM e GROUP BY 1
), mau AS (
    SELECT day // 30 AS bucket, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
    FROM e GROUP BY 1
)
SELECT d.day, d.dau, m.mau,
       round(d.dau * 1.0 / m.mau, 6) AS stickiness
FROM dau d JOIN mau m ON d.day // 30 = m.bucket
"""


@register("dau_mau_stickiness", oracle=_DAU_ORACLE)
def dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per day: daily active users over the 30-day-
    bucket active users — the engagement headline number. Day and
    month-bucket come from integer epoch-days (calendar month
    functions are avoided for the same cross-engine reason as
    chi2_independence's weekday).

    Scale design: ONE distinct pass builds the (user, day) activity
    frame — domain-bounded at users×days — and both aggregates derive
    from it: DAU is a day-keyed count, MAU a bucket-keyed distinct
    count over the same frame, joined back day-to-bucket. The fact
    table is scanned once; everything downstream is activity-frame-
    sized. Stickiness is one rounded division of exact BIGINTs."""
    e = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr("cast(unix_timestamp(ts) div 86400 as bigint)").alias("day"),
        )
        .distinct()
    )
    dau = e.groupBy("day").agg(F.count("*").cast("bigint").alias("dau"))
    mau = (
        e.select(F.expr("day div 30").alias("bucket"), "user_id")
        .distinct()
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("mau"))
    )
    return (
        dau.join(mau, F.expr("day div 30") == mau.bucket)
        .select(
            "day",
            "dau",
            "mau",
            F.round(F.col("dau") * F.lit(1.0) / F.col("mau"), 6).alias(
                "stickiness"
            ),
        )
    )
