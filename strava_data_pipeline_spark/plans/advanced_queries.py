"""Advanced temporal/statistical queries (SURVEY.md §2e).

Generalizations past the reference's point/list lookups over
time-stamped activities (/root/reference/internal/db/activities.go):
as-of enrichment, interval (range) joins, keyset pagination at depth,
exact distribution statistics, rollup cubes, and gaps-and-islands
streaks. All declarative DataFrame ops; every query has a DuckDB
oracle (the as-of oracle uses DuckDB's native ASOF JOIN — an
independent implementation of the same semantics, not a transcription
of ours).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from strava_data_pipeline_spark.operators.temporal import asof_join, interval_join
from strava_data_pipeline_spark.plans.registry import register
from strava_data_pipeline_spark.sources.catalog import load_table

EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value"]


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select(*EVENT_COLS)


# --------------------------------------------------------------------------
# 33. events_asof_profile — as-of join to a versioned user-profile dim
# --------------------------------------------------------------------------
_ASOF_ORACLE = """
WITH u AS (SELECT DISTINCT user_id FROM events),
p AS (
    SELECT user_id, v,
           TIMESTAMP '2024-01-01 00:00:00'
             + to_days(CAST(v * 7 + user_id % 7 AS INT)) AS valid_from,
           'T' || CAST((user_id + v) % 4 AS VARCHAR) AS tier
    FROM u, (SELECT unnest([0, 1, 2, 3]) AS v)
)
SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value, p.tier
FROM events e ASOF LEFT JOIN p
  ON e.user_id = p.user_id AND e.ts >= p.valid_from
"""


@register("events_asof_profile", oracle=_ASOF_ORACLE)
def events_asof_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Enrich each event with the profile tier valid at event time.

    The profile dim is a derived 4-version SCD (weekly re-tiering,
    staggered per user); the as-of join is the union+window plan —
    one shuffle on user_id, no range cross-product. Events earlier
    than a user's first version keep a NULL tier (left semantics)."""
    ev = _events(spark, sf_dir)
    profiles = (
        ev.select("user_id")
        .distinct()
        .select("user_id", F.explode(F.array(*[F.lit(v) for v in range(4)])).alias("v"))
        .select(
            "user_id",
            F.expr(
                "timestamp'2024-01-01 00:00:00'"
                " + make_interval(0, 0, 0, CAST(v * 7 + user_id % 7 AS INT), 0, 0, 0)"
            ).alias("valid_from"),
            F.concat(F.lit("T"), ((F.col("user_id") + F.col("v")) % 4).cast("string")).alias(
                "tier"
            ),
        )
    )
    return asof_join(
        ev, profiles, on=["user_id"], left_ts="ts", right_ts="valid_from", payload=["tier"]
    ).select("event_id", "ts", "user_id", "event_type", "value", "tier")


# --------------------------------------------------------------------------
# 34. events_in_windows — interval (range) join to overlapping windows
# --------------------------------------------------------------------------
_RANGE_ORACLE = """
WITH w AS (
    SELECT n_nationkey AS win_id,
           TIMESTAMP '2024-01-01 00:00:00'
             + to_days(CAST(n_nationkey AS INT)) AS win_start,
           TIMESTAMP '2024-01-01 00:00:00'
             + to_days(CAST(n_nationkey AS INT)) + INTERVAL 36 HOUR AS win_end
    FROM nation
)
SELECT w.win_id,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(e.value), 2) AS sum_value
FROM w JOIN events e ON e.ts >= w.win_start AND e.ts < w.win_end
GROUP BY 1
"""


@register("events_in_windows", oracle=_RANGE_ORACLE)
def events_in_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window event stats for 25 overlapping 36-hour windows
    (derived from nation). Dimension-sized window side → broadcast
    nested-loop range join, the right plan when one side is tiny."""
    windows = (
        load_table(spark, sf_dir, "nation")
        .select(
            F.col("n_nationkey").alias("win_id"),
            F.expr(
                "timestamp'2024-01-01 00:00:00'"
                " + make_interval(0, 0, 0, CAST(n_nationkey AS INT), 0, 0, 0)"
            ).alias("win_start"),
        )
        .withColumn("win_end", F.col("win_start") + F.expr("INTERVAL 36 HOURS"))
    )
    return (
        interval_join(_events(spark, sf_dir), windows, ts_col="ts")
        .groupBy("win_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


# --------------------------------------------------------------------------
# 35. activities_keyset — keyset (cursor) pagination at depth
# --------------------------------------------------------------------------
_KEYSET_CURSOR_TS = "2024-01-15 12:00:00"
_KEYSET_CURSOR_ID = 10**12

_KEYSET_ORACLE = f"""
SELECT event_id, ts, user_id, event_type, value
FROM events
WHERE ts < TIMESTAMP '{_KEYSET_CURSOR_TS}'
   OR (ts = TIMESTAMP '{_KEYSET_CURSOR_TS}' AND event_id < {_KEYSET_CURSOR_ID})
ORDER BY ts DESC, event_id DESC
LIMIT 20
"""


@register("activities_keyset", oracle=_KEYSET_ORACLE)
def activities_keyset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page 'after cursor (ts, id)' — the deep-pagination companion to
    activities_page (offset windows re-scan everything they skip; a
    keyset page is a pushed-down range scan + TakeOrderedAndProject
    regardless of depth). Cursor is (ts, id) so pagination is total
    even with timestamp ties."""
    ev = _events(spark, sf_dir)
    cts = F.lit(_KEYSET_CURSOR_TS).cast("timestamp")
    return (
        # redundant ts <= cursor conjunct: Catalyst does not factor it
        # out of the OR, and it is what reaches the parquet scan
        ev.where(F.col("ts") <= cts)
        .where(
            (F.col("ts") < cts)
            | ((F.col("ts") == cts) & (F.col("event_id") < F.lit(_KEYSET_CURSOR_ID)))
        )
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(20)
    )


# --------------------------------------------------------------------------
# 36. percentile_stats — exact distribution statistics per type
# --------------------------------------------------------------------------
_PCTL_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90,
       round(quantile_cont(value, 0.99), 4) AS p99,
       round(min(value), 4) AS min_value,
       round(max(value), 4) AS max_value
FROM events GROUP BY 1
"""


@register("percentile_stats", oracle=_PCTL_ORACLE)
def percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles of value per event type.
    Spark's ``percentile`` matches DuckDB's ``quantile_cont``; at
    100 TB the scale path swaps in ``percentile_approx`` (t-digest
    sketch, mergeable map-side) — exact percentile must materialize
    each group's values."""
    pct = F.expr("percentile(value, array(0.5, 0.9, 0.99))")
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.element_at(pct, 1), 4).alias("p50"),
            F.round(F.element_at(pct, 2), 4).alias("p90"),
            F.round(F.element_at(pct, 3), 4).alias("p99"),
            F.round(F.min("value"), 4).alias("min_value"),
            F.round(F.max("value"), 4).alias("max_value"),
        )
    )


# --------------------------------------------------------------------------
# 50. percentile_stats_approx — the sketch path percentile_stats documents
# --------------------------------------------------------------------------
# Exact-checkable oracle for a sketch query: the GK-sketch ESTIMATE is
# implementation-defined across engines, but its RANK-error contract is
# not — percentile_approx(accuracy=10000) must return a data value whose
# rank is within n/10000 of the requested quantile.  Both engines
# compute the exact data values at the rank window q ± 0.001 (±1 rank
# slack for ceiling-convention differences) and hash THOSE, plus a flag
# that the Spark estimate fell inside its window.  A broken sketch
# flips the flag and the hash mismatches; the oracle asserts TRUE.
# Decimal literals are CAST AS DOUBLE so DuckDB does the identical IEEE
# multiply Spark does (bare 0.499 parses as DECIMAL there).
def _pctl_rank_bounds_sql(q: float, name: str) -> str:
    lo_f, hi_f = q - 0.001, q + 0.001
    return f"""
       floor(max(CASE WHEN r = greatest(1,
           CAST(ceil(CAST({lo_f!r} AS DOUBLE) * n) AS BIGINT) - 1)
           THEN value END) * 10000 + 0.5) / 10000 AS {name}_lo,
       floor(max(CASE WHEN r = least(n,
           CAST(ceil(CAST({hi_f!r} AS DOUBLE) * n) AS BIGINT) + 1)
           THEN value END) * 10000 + 0.5) / 10000 AS {name}_hi,
       TRUE AS {name}_ok"""


_PCTL_APPROX_ORACLE = f"""
WITH ranked AS (
    SELECT event_type, value,
           row_number() OVER (PARTITION BY event_type ORDER BY value) AS r,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM events
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n,
       {_pctl_rank_bounds_sql(0.5, "p50")},
       {_pctl_rank_bounds_sql(0.9, "p90")},
       {_pctl_rank_bounds_sql(0.99, "p99")},
       floor(min(value) * 10000 + 0.5) / 10000 AS min_value,
       floor(max(value) * 10000 + 0.5) / 10000 AS max_value
FROM ranked GROUP BY event_type
"""


@register("percentile_stats_approx", oracle=_PCTL_APPROX_ORACLE)
def percentile_stats_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch percentiles (``percentile_approx``, accuracy 10000) — the
    100 TB path: mergeable map-side partials, no per-group value
    materialization.  The registry artifact emits, per quantile, the
    EXACT data values at the rank window q ± 0.001 (computable
    identically in any engine) plus a flag that the sketch estimate
    landed inside its window — turning the sketch's rank-error
    contract into a hashable cross-engine check.  The rank pass reuses
    one event_type partitioning for both windows and the final agg."""

    def _round4(c: F.Column) -> F.Column:
        return F.floor(c * 10000 + F.lit(0.5)) / 10000

    ev = _events(spark, sf_dir).select("event_type", "value")
    w = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w.orderBy("value")).alias("r"),
        F.count("*").over(w).alias("n"),
    )

    def _rlo(q: float) -> F.Column:
        return F.greatest(
            F.lit(1).cast("bigint"),
            F.ceil(F.lit(q - 0.001) * F.col("n")).cast("bigint") - 1,
        )

    def _rhi(q: float) -> F.Column:
        return F.least(
            F.col("n"),
            F.ceil(F.lit(q + 0.001) * F.col("n")).cast("bigint") + 1,
        )

    aggs = [F.max("n").cast("bigint").alias("n")]
    for q, name in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
        aggs.append(
            F.max(F.when(F.col("r") == _rlo(q), F.col("value"))).alias(f"_{name}_lo")
        )
        aggs.append(
            F.max(F.when(F.col("r") == _rhi(q), F.col("value"))).alias(f"_{name}_hi")
        )
    aggs.append(F.min("value").alias("_min"))
    aggs.append(F.max("value").alias("_max"))
    bounds = ranked.groupBy("event_type").agg(*aggs)

    pct = F.expr("percentile_approx(value, array(0.5, 0.9, 0.99), 10000)")
    est = ev.groupBy("event_type").agg(pct.alias("_p"))

    out_cols = [F.col("event_type"), F.col("n")]
    for i, name in ((1, "p50"), (2, "p90"), (3, "p99")):
        e = F.element_at(F.col("_p"), i)
        out_cols += [
            _round4(F.col(f"_{name}_lo")).alias(f"{name}_lo"),
            _round4(F.col(f"_{name}_hi")).alias(f"{name}_hi"),
            ((e >= F.col(f"_{name}_lo")) & (e <= F.col(f"_{name}_hi"))).alias(
                f"{name}_ok"
            ),
        ]
    out_cols += [
        _round4(F.col("_min")).alias("min_value"),
        _round4(F.col("_max")).alias("max_value"),
    ]
    return bounds.join(F.broadcast(est), "event_type").select(*out_cols)


# --------------------------------------------------------------------------
# 37. events_rollup — ROLLUP(type, day) cube
# --------------------------------------------------------------------------
_ROLLUP_ORACLE = """
SELECT event_type, CAST(ts AS DATE) AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY ROLLUP(event_type, CAST(ts AS DATE))
"""


@register("events_rollup", oracle=_ROLLUP_ORACLE)
def events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup: per (type, day), per type, and grand
    total in one pass (Expand + single shuffle, not three scans)."""
    return (
        _events(spark, sf_dir)
        .withColumn("day", F.to_date("ts"))
        .rollup("event_type", "day")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


# --------------------------------------------------------------------------
# 38. type_streaks — gaps-and-islands longest active-day streaks
# --------------------------------------------------------------------------
_STREAK_ORACLE = """
WITH d AS (
    SELECT DISTINCT user_id, event_type, CAST(ts AS DATE) AS day FROM events
), r AS (
    SELECT user_id, event_type, day,
           row_number() OVER (PARTITION BY user_id, event_type ORDER BY day) AS rn
    FROM d
), s AS (
    SELECT user_id, event_type, day - to_days(CAST(rn AS INT)) AS anchor FROM r
), g AS (
    SELECT user_id, event_type, anchor, count(*) AS len FROM s GROUP BY 1, 2, 3
)
SELECT user_id, event_type,
       CAST(max(len) AS BIGINT) AS longest_streak,
       CAST(sum(len) AS BIGINT) AS active_days
FROM g GROUP BY 1, 2
"""


@register("type_streaks", oracle=_STREAK_ORACLE)
def type_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per (user, type):
    classic gaps-and-islands — day minus dense row_number is constant
    within a streak. All window + hash-agg, single partitioning by
    (user, type) reused across both steps."""
    d = (
        _events(spark, sf_dir)
        .select("user_id", "event_type", F.to_date("ts").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("day")
    streaks = (
        d.withColumn("rn", F.row_number().over(w))
        .withColumn("anchor", F.date_sub(F.col("day"), F.col("rn")))
        .groupBy("user_id", "event_type", "anchor")
        .agg(F.count("*").alias("len"))
    )
    return streaks.groupBy("user_id", "event_type").agg(
        F.max("len").cast("bigint").alias("longest_streak"),
        F.sum("len").cast("bigint").alias("active_days"),
    )


# --------------------------------------------------------------------------
# 69. events_funnel — ordered multi-step conversion
# --------------------------------------------------------------------------
_FUNNEL_ORACLE = """
WITH u AS (
    SELECT DISTINCT user_id FROM events
), v AS (
    SELECT user_id, min(ts) AS t_view FROM events
    WHERE event_type = 'view' GROUP BY 1
), c AS (
    SELECT e.user_id, min(e.ts) AS t_click
    FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
    WHERE e.event_type = 'click' GROUP BY 1
), p AS (
    SELECT e.user_id, min(e.ts) AS t_purchase
    FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
    WHERE e.event_type = 'purchase' GROUP BY 1
)
SELECT u.user_id, v.t_view, c.t_click, p.t_purchase,
       p.t_purchase IS NOT NULL AS converted
FROM u
LEFT JOIN v USING (user_id)
LEFT JOIN c USING (user_id)
LEFT JOIN p USING (user_id)
"""


@register("events_funnel", oracle=_FUNNEL_ORACLE)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered view→click→purchase funnel per user in ONE scan
    and ONE user_id exchange: running-min windows carry "first view so
    far" and "first qualifying click so far" along each user's event
    order, so a row can test strictly-after membership without any
    self-join (the earlier 3-scan + 3-join form re-read the fact table
    per stage). Equivalent to the join form because whenever the global
    first view precedes an event in (ts, id) order, the running min AT
    that event equals the global min, and ties/later firsts exclude the
    event under both definitions."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_view = F.col("event_type") == "view"
    fv = ev.withColumn("first_view", F.min(F.when(is_view, F.col("ts"))).over(w))
    click_q = (
        (F.col("event_type") == "click")
        & F.col("first_view").isNotNull()
        & (F.col("ts") > F.col("first_view"))
    )
    qc = fv.withColumn(
        "first_click", F.min(F.when(click_q, F.col("ts"))).over(w)
    )
    purchase_q = (
        (F.col("event_type") == "purchase")
        & F.col("first_click").isNotNull()
        & (F.col("ts") > F.col("first_click"))
    )
    agg = qc.groupBy("user_id").agg(
        F.min(F.when(is_view, F.col("ts"))).alias("t_view"),
        F.min(F.when(click_q, F.col("ts"))).alias("t_click"),
        F.min(F.when(purchase_q, F.col("ts"))).alias("t_purchase"),
    )
    return agg.select(
        "user_id",
        "t_view",
        "t_click",
        "t_purchase",
        F.col("t_purchase").isNotNull().alias("converted"),
    )


# --------------------------------------------------------------------------
# 70. retention_cohorts — first-day cohort × activity-day offset
# --------------------------------------------------------------------------
_RETENTION_ORACLE = """
WITH first_day AS (
    SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day FROM events GROUP BY 1
), active AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_day FROM events
)
SELECT f.cohort_day,
       CAST(a.active_day - f.cohort_day AS BIGINT) AS day_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM active a JOIN first_day f USING (user_id)
GROUP BY 1, 2
"""


@register("retention_cohorts", oracle=_RETENTION_ORACLE)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention triangle: users cohorted by first-seen day,
    counted on each later active day offset. The cohort dim aggregates
    to one row per user before the join, and both sides hash on
    user_id — the (cohort_day, offset) agg is the only other shuffle.
    The events table never self-joins row-to-row."""
    ev = load_table(spark, sf_dir, "events")
    # min(distinct day) == date(min ts), so the cohort dim derives from
    # the SAME distinct user-day frame the join consumes — one events
    # scan, and the distinct's exchange is reused for the groupBy
    active = ev.select("user_id", F.to_date("ts").alias("active_day")).distinct()
    first_day = active.groupBy("user_id").agg(
        F.min("active_day").alias("cohort_day")
    )
    return (
        active.join(first_day, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("active_day", "cohort_day").cast("bigint").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_users"))
    )


# --------------------------------------------------------------------------
# 71. events_pivot — wide per-user activity matrix
# --------------------------------------------------------------------------
_PIVOT_ORACLE = """
SELECT user_id,
       CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS view,
       CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS click,
       CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS signup,
       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
       CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS error
FROM events GROUP BY 1
"""

_EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]


@register("events_pivot", oracle=_PIVOT_ORACLE)
def events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot: per-user event-type count matrix. The pivot
    values are DECLARED (not discovered) so the plan is a single-pass
    conditional aggregation — a two-phase pivot that first scans for
    distinct types would add a full extra job at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    piv = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(t) for t in _EVENT_TYPES],
    )


# --------------------------------------------------------------------------
# 72. events_cube — full CUBE over (type, day-of-week)
# --------------------------------------------------------------------------
_CUBE_ORACLE = """
SELECT event_type, dow,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS total_value
FROM (
    SELECT event_type, CAST(dayofweek(ts) AS INTEGER) AS dow, value FROM events
)
GROUP BY CUBE (event_type, dow)
"""


@register("events_cube", oracle=_CUBE_ORACLE)
def events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(type, weekday): all four grouping-set combinations in a
    single Expand pass — one scan, one shuffle, 4× expansion only on
    the narrow (type, dow, value) projection rather than four separate
    aggregation jobs. Complements events_rollup (§2e #37), which covers
    the hierarchical subset."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        # Spark dayofweek is 1=Sunday..7, matching DuckDB's dayofweek+1;
        # DuckDB dayofweek is 0=Sunday..6
        (F.dayofweek("ts") - 1).cast("int").alias("dow"),
        "value",
    )
    return ev.cube("event_type", "dow").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


# --------------------------------------------------------------------------
# 73. events_zscore — per-(user,type) standardized outlier scores
# --------------------------------------------------------------------------
_ZSCORE_ORACLE = """
WITH stats AS (
    SELECT user_id, event_type,
           avg(value) AS mu,
           stddev_samp(value) AS sigma,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, e.event_type,
       round(e.value, 4) AS value,
       round((e.value - s.mu) / s.sigma, 4) AS zscore
FROM events e JOIN stats s USING (user_id, event_type)
WHERE s.n >= 3 AND s.sigma > 0
"""


@register("events_zscore", oracle=_ZSCORE_ORACLE)
def events_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(user,type) z-scores for every event value — the anomaly
    primitive. Group moments ride an UNORDERED window over the same
    partitioning the rows already need: one scan, one exchange, no
    join-back (the agg+join form read the fact table twice). Output
    rounds to 4dp; groups under 3 events or with zero variance are
    excluded (z undefined)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type")
    enriched = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sigma"),
        F.count("*").over(w).alias("n"),
    )
    return enriched.where((F.col("n") >= 3) & (F.col("sigma") > 0)).select(
        "event_id",
        "user_id",
        "event_type",
        F.round("value", 4).alias("value"),
        F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 4).alias(
            "zscore"
        ),
    )


# --------------------------------------------------------------------------
# 74. events_gapfill — calendar densification + LOCF carry-forward
# --------------------------------------------------------------------------
_GAPFILL_ORACLE = """
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
), spans AS (
    SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1
), calendar AS (
    SELECT s.user_id, CAST(unnest(generate_series(s.d0, s.d1, INTERVAL 1 DAY)) AS DATE) AS day
    FROM spans s
)
SELECT c.user_id, c.day,
       CAST(coalesce(d.n_events, 0) AS BIGINT) AS n_events,
       coalesce(d.total_value, 0.0) AS total_value,
       d.day IS NULL AS is_gap,
       last_value(d.total_value IGNORE NULLS) OVER (
           PARTITION BY c.user_id ORDER BY c.day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value
FROM calendar c LEFT JOIN daily d USING (user_id, day)
"""


@register("events_gapfill", oracle=_GAPFILL_ORACLE)
def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification (the hypertable gap-fill): each user's
    daily series is completed over their OWN [first, last] day span —
    the calendar explodes from the per-user span row (bounded by the
    span length), never a cross join against a global calendar dim —
    then missing days zero-fill and LOCF carries the last observed
    daily total forward via last(ignorenulls) over the user window.
    All three shuffles key on user_id."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    calendar = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "user_id",
            F.explode(
                F.sequence(F.col("d0"), F.col("d1"), F.expr("interval 1 day"))
            ).alias("day"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        calendar.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
            F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
            F.col("n_events").isNull().alias("is_gap"),
            F.last("total_value", ignorenulls=True).over(w).alias("locf_value"),
        )
    )


# --------------------------------------------------------------------------
# 75. events_latest_n — per-key top-N (the feed query)
# --------------------------------------------------------------------------
_LATEST_N_ORACLE = """
SELECT event_id, user_id, event_type, ts,
       CAST(rn AS BIGINT) AS rn
FROM (
    SELECT event_id, user_id, event_type, ts,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
)
WHERE rn <= 3
"""


@register("events_latest_n", oracle=_LATEST_N_ORACLE)
def events_latest_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest 3 events PER USER — the per-key feed complement of the
    global recent_activities top-N. A partitioned row_number window
    (never a global orderBy): each user's group sorts independently, so
    the plan scales with the largest single key, not the table. Ties
    break on event_id for a total deterministic order."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.select(
            "event_id", "user_id", "event_type", "ts",
            F.row_number().over(w).cast("bigint").alias("rn"),
        )
        .where(F.col("rn") <= 3)
    )


# --------------------------------------------------------------------------
# 81. weekly_type_trend — week-over-week deltas on an aggregated series
# --------------------------------------------------------------------------
_TREND_ORACLE = """
WITH weekly AS (
    SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS week_start,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2
)
SELECT event_type, week_start, n_events, total_value,
       CAST(n_events - lag(n_events) OVER w AS BIGINT) AS delta_events,
       round((total_value - lag(total_value) OVER w)
             / lag(total_value) OVER w, 4) AS pct_change
FROM weekly
WINDOW w AS (PARTITION BY event_type ORDER BY week_start)
"""


@register("weekly_type_trend", oracle=_TREND_ORACLE)
def weekly_type_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week movement per event type: analytic lag over an
    ALREADY-AGGREGATED series — the window runs on (type × week)
    cardinality rows, so the sort behind it is trivially small no
    matter the fact-table size. pct_change divides rounded totals, so
    both engines divide identical doubles."""
    ev = load_table(spark, sf_dir, "events")
    weekly = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("week", "ts")).alias("week_start")
    ).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    w = Window.partitionBy("event_type").orderBy("week_start")
    return weekly.select(
        "event_type",
        "week_start",
        "n_events",
        "total_value",
        (F.col("n_events") - F.lag("n_events").over(w)).cast("bigint").alias(
            "delta_events"
        ),
        F.round(
            (F.col("total_value") - F.lag("total_value").over(w))
            / F.lag("total_value").over(w),
            4,
        ).alias("pct_change"),
    )


# --------------------------------------------------------------------------
# 87. user_churn_setops — INTERSECT/EXCEPT cohort algebra
# --------------------------------------------------------------------------
_SETOPS_ORACLE = """
WITH w1 AS (
    SELECT DISTINCT user_id FROM events
    WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
), w4 AS (
    SELECT DISTINCT user_id FROM events
    WHERE ts >= TIMESTAMP '2024-01-22 00:00:00'
)
SELECT 'retained' AS cohort, user_id FROM (SELECT user_id FROM w1 INTERSECT SELECT user_id FROM w4)
UNION ALL
SELECT 'churned' AS cohort, user_id FROM (SELECT user_id FROM w1 EXCEPT SELECT user_id FROM w4)
UNION ALL
SELECT 'resurrected' AS cohort, user_id FROM (SELECT user_id FROM w4 EXCEPT SELECT user_id FROM w1)
"""


@register("user_churn_setops", oracle=_SETOPS_ORACLE)
def user_churn_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retained / churned / resurrected cohorts via relational set
    algebra — INTERSECT and EXCEPT plan as hash semi/anti joins over
    the two distinct-user sets (id-width shuffles only). The week
    boundaries land inside the events span so all three cohorts are
    non-empty."""
    ev = load_table(spark, sf_dir, "events")
    w1 = (
        ev.where(F.col("ts") < F.lit("2024-01-08 00:00:00").cast("timestamp"))
        .select("user_id")
        .distinct()
    )
    w4 = (
        ev.where(F.col("ts") >= F.lit("2024-01-22 00:00:00").cast("timestamp"))
        .select("user_id")
        .distinct()
    )
    tag = lambda df, name: df.select(  # noqa: E731
        F.lit(name).alias("cohort"), "user_id"
    )
    return (
        tag(w1.intersect(w4), "retained")
        .unionByName(tag(w1.exceptAll(w4), "churned"))
        .unionByName(tag(w4.exceptAll(w1), "resurrected"))
    )


# --------------------------------------------------------------------------
# 88. events_grouping_sets — explicit non-hierarchical grouping sets
# --------------------------------------------------------------------------
_GSETS_ORACLE = """
SELECT event_type, user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY GROUPING SETS ((event_type), (user_id))
"""


@register("events_grouping_sets", oracle=_GSETS_ORACLE)
def events_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly the two marginal totals (per type, per user) and NOTHING
    else — grouping sets expand only the requested combinations in one
    pass, where cube would compute (and shuffle) all four. Completes the
    rollup (#37) / cube (#72) / grouping-sets trio."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupingSets(
        [["event_type"], ["user_id"]], "event_type", "user_id"
    ).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


# --------------------------------------------------------------------------
# 102. events_rank_suite — the full ranking-function family in one pass
# --------------------------------------------------------------------------
_RANKS_ORACLE = """
WITH per_user AS (
    SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1, 2
)
SELECT event_type, user_id, n_events,
       CAST(rank()       OVER w AS BIGINT) AS rnk,
       CAST(dense_rank() OVER w AS BIGINT) AS dense_rnk,
       percent_rank()    OVER w AS pct_rank,
       cume_dist()       OVER w AS cume
FROM per_user
WINDOW w AS (PARTITION BY event_type ORDER BY n_events DESC)
"""


@register("events_rank_suite", oracle=_RANKS_ORACLE)
def events_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / percent_rank / cume_dist over each user's
    event count within their event type — the four ranking semantics
    (gapped, dense, normalized, inclusive-fraction) sharing ONE window
    spec, so Spark evaluates them in a single Window operator over one
    sort. The ordering key is an exact BIGINT count: ties are real (and
    exercised — Poisson counts collide) and every ranking function is
    tie-stable by definition, so no float ordering ambiguity exists
    between engines; percent_rank/cume_dist emerge as exact ratios of
    small integers. Scales with the largest event_type's user count,
    not the fact table — the window input is the pre-aggregated
    (type, user) frame."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("event_type", "user_id").agg(
        F.count("*").cast("bigint").alias("n_events")
    )
    w = Window.partitionBy("event_type").orderBy(F.col("n_events").desc())
    return per_user.select(
        "event_type",
        "user_id",
        "n_events",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("dense_rnk"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


# --------------------------------------------------------------------------
# 103. events_sliding_window — hopping-window aggregates in batch
# --------------------------------------------------------------------------
_SLIDING_ORACLE = """
WITH hops AS (
    SELECT e.event_type,
           date_trunc('hour', e.ts) - to_hours(k) AS window_start,
           e.value
    FROM events e, unnest(range(0, 6)) AS t(k)
)
SELECT event_type,
       window_start,
       window_start + to_hours(6) AS window_end,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS total_value
FROM hops
GROUP BY 1, 2
"""


@register("events_sliding_window", oracle=_SLIDING_ORACLE)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six-hour windows sliding every hour (hopping aggregate) — the
    batch twin of the streaming windowed counts. Spark's F.window with a
    slideDuration assigns each event to its 6 overlapping windows via an
    internal explode (bounded ×6 blow-up, NOT a range join against a
    window dim — the same event-local expansion the oracle writes
    explicitly with range(0,6)); the aggregate then shuffles on
    (type, window_start) like any groupBy. Timestamps stay in whole-hour
    arithmetic, so bucket edges are engine-exact."""
    e = load_table(spark, sf_dir, "events")
    w = F.window("ts", "6 hours", "1 hour")
    return (
        e.groupBy("event_type", w.alias("w"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "event_type",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "total_value",
        )
    )


# --------------------------------------------------------------------------
# 105. scd2_intervals — build the slowly-changing dimension from events
# --------------------------------------------------------------------------
_SCD2_ORACLE = """
WITH ordered AS (
    SELECT user_id, event_type, ts, event_id,
           lag(event_type) OVER w AS prev_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), flagged AS (
    SELECT user_id, event_type, ts,
           sum(CASE WHEN prev_type IS NULL OR prev_type <> event_type
                    THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seg
    FROM ordered
), segs AS (
    SELECT user_id, event_type, seg,
           min(ts) AS valid_from,
           CAST(count(*) AS BIGINT) AS n_events
    FROM flagged GROUP BY 1, 2, 3
)
SELECT user_id, event_type, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY seg) AS valid_to,
       n_events
FROM segs
"""


@register("scd2_intervals", oracle=_SCD2_ORACLE)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension BUILD: collapse each user's
    event stream into [valid_from, valid_to) intervals of constant
    event_type — the construction side of the versioned dim that
    events_asof_profile consumes. Three window passes (change flag →
    running segment id → interval close via lead) and the final groupBy
    all partition on user_id, so the whole build is ONE hash exchange
    of the fact table; the open interval's valid_to is NULL by lead()
    semantics. Ties at identical timestamps order by event_id — a total
    order, so segment boundaries are engine-identical."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "event_type",
        "ts",
        F.sum(
            F.when(
                F.lag("event_type").over(w).isNull()
                | (F.lag("event_type").over(w) != F.col("event_type")),
                1,
            ).otherwise(0)
        )
        .over(w)
        .alias("seg"),
    )
    segs = flagged.groupBy("user_id", "event_type", "seg").agg(
        F.min("ts").alias("valid_from"),
        F.count("*").cast("bigint").alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("seg")
    return segs.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_events",
    )


# --------------------------------------------------------------------------
# 194. scd2_intervals_bucketed — the skew-robust twin (r8)
# --------------------------------------------------------------------------
@register("scd2_intervals_bucketed", oracle=_SCD2_ORACLE)
def scd2_intervals_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scd2_intervals through the two-phase primitives — SAME oracle,
    identical hash. The plain build's lag + running-segment windows
    hand ONE task the hot user's whole stream (measured 5.41x tax,
    SCALING_SKEW_R8.json); here the change flag comes from
    operators/bucketed_prefix.bucketed_carry (lag = carry of a
    never-null column) over (user, day) buckets, and the segment id
    from bucketed_cumsum of the flag on the same buckets — the
    sequential dependency rides one summary row per bucket. The
    interval-close lead stays a plain per-user window: it runs on the
    SEGMENT frame (bounded by type alternations, an offset frame Spark
    evaluates O(1)/row), and its sort is of segment rows, not events.
    Same hot-key-knob contract as the other bucketed twins."""
    from strava_data_pipeline_spark.operators.bucketed_prefix import (
        bucketed_carry,
        bucketed_cumsum,
    )

    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.floor(F.unix_timestamp("ts").cast("bigint") / F.lit(86_400)).alias(
            "_bkt"
        ),
    )
    lagged = bucketed_carry(
        e,
        key_col="user_id",
        bucket_col="_bkt",
        order_cols=["ts", "event_id"],
        carries={"prev_type": "event_type"},
    )
    flagged = lagged.withColumn(
        "_brk",
        F.when(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type")),
            1,
        )
        .otherwise(0)
        .cast("bigint"),
    )
    seg = bucketed_cumsum(
        flagged,
        key_col="user_id",
        bucket_col="_bkt",
        order_cols=["ts", "event_id"],
        sums={"seg": "_brk"},
    )
    segs = seg.groupBy("user_id", "event_type", "seg").agg(
        F.min("ts").alias("valid_from"),
        F.count("*").cast("bigint").alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("seg")
    return segs.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        "n_events",
    )


# --------------------------------------------------------------------------
# 107. heavy_hitters — exact frequent-group detection (relative support)
# --------------------------------------------------------------------------
# The relative rule (count > 1.5x the mean group count) is evaluated as
# an integer cross-multiplication, so the boolean is exact on both
# engines and the rule stays non-vacuous at every scale factor — a
# fixed absolute threshold would be vacuous at sf0.001 and trivial at
# sf10.
_HEAVY_ORACLE = """
WITH c AS (
    SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2
), s AS (
    SELECT CAST(sum(cnt) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS n_groups
    FROM c
)
SELECT c.user_id, c.event_type, c.cnt,
       floor(c.cnt * 1.0 / s.total * 1000000 + 0.5) / 1000000 AS support,
       c.cnt * s.n_groups * 10 > 15 * s.total AS is_heavy
FROM c, s
ORDER BY c.cnt DESC, c.user_id, c.event_type
LIMIT 100
"""


@register("heavy_hitters", oracle=_HEAVY_ORACLE)
def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters over (user_id, event_type): one map-side
    partial-aggregated groupBy, then the global (total, n_groups) pair
    — a single tiny row — broadcast back over the counts. The flag
    `cnt > 1.5 * mean` is computed as cnt*n_groups*10 > 15*total in
    BIGINT. Top-100 by count via TakeOrderedAndProject. At 100 TB this
    is the exact reference answer the sampled estimator below is graded
    against; the group-key shuffle is the only wide exchange."""
    e = _events(spark, sf_dir)
    c = e.groupBy("user_id", "event_type").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    s = c.agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("n_groups"),
    )
    flagged = c.crossJoin(F.broadcast(s)).select(
        "user_id",
        "event_type",
        "cnt",
        (F.floor(F.col("cnt") * F.lit(1.0) / F.col("total") * 1000000 + F.lit(0.5)) / 1000000).alias(
            "support"
        ),
        (F.col("cnt") * F.col("n_groups") * 10 > 15 * F.col("total")).alias(
            "is_heavy"
        ),
    )
    return flagged.orderBy(
        F.col("cnt").desc(), "user_id", "event_type"
    ).limit(100)


# --------------------------------------------------------------------------
# 108. heavy_hitters_sampled — the sketch path: deterministic sample,
# scaled counts, same relative rule
# --------------------------------------------------------------------------
# A 25% hash-gated sample (md5(event_id) % 100 < 25): deterministic,
# reproducible on both engines, no RNG — the same gate discipline as
# corpus_split_counts. Counts scale by 4; at 100 TB only the sampled
# quarter shuffles, which is the entire point of the estimator.
_HEAVY_SAMPLED_ORACLE = """
WITH sampled AS (
    SELECT user_id, event_type
    FROM events
    WHERE CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))::UBIGINT
               AS BIGINT) % 100 < 25
), c AS (
    SELECT user_id, event_type,
           CAST(count(*) AS BIGINT) AS sampled_cnt,
           CAST(count(*) * 4 AS BIGINT) AS est_cnt
    FROM sampled GROUP BY 1, 2
), s AS (
    SELECT CAST(sum(sampled_cnt) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS n_groups
    FROM c
)
SELECT c.user_id, c.event_type, c.sampled_cnt, c.est_cnt,
       c.sampled_cnt * s.n_groups * 10 > 15 * s.total AS is_heavy_est
FROM c, s
ORDER BY c.sampled_cnt DESC, c.user_id, c.event_type
LIMIT 100
"""


@register("heavy_hitters_sampled", oracle=_HEAVY_SAMPLED_ORACLE)
def heavy_hitters_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled heavy-hitter estimate: hash-gate the fact table to 25%
    BEFORE the shuffle (the gate is a codegen-resident predicate on the
    scan, so 75% of rows never leave the map side), count the sample,
    scale by 1/rate, apply the same relative rule. Deterministic by
    construction — both engines draw the identical sample, making the
    estimator itself oracle-checkable, which a count-min sketch's
    binary blob would not be."""
    from strava_data_pipeline_spark.functions.hashing import md5_u32

    e = _events(spark, sf_dir)
    sampled = e.where(md5_u32(F.col("event_id").cast("string")) % 100 < 25)
    c = sampled.groupBy("user_id", "event_type").agg(
        F.count("*").cast("bigint").alias("sampled_cnt"),
        (F.count("*") * 4).cast("bigint").alias("est_cnt"),
    )
    s = c.agg(
        F.sum("sampled_cnt").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("n_groups"),
    )
    flagged = c.crossJoin(F.broadcast(s)).select(
        "user_id",
        "event_type",
        "sampled_cnt",
        "est_cnt",
        (F.col("sampled_cnt") * F.col("n_groups") * 10 > 15 * F.col("total")).alias(
            "is_heavy_est"
        ),
    )
    return flagged.orderBy(
        F.col("sampled_cnt").desc(), "user_id", "event_type"
    ).limit(100)


# --------------------------------------------------------------------------
# 109. sessions_overlap_windows — fact×fact interval-overlap join
# --------------------------------------------------------------------------
# The scale path interval_join cannot take: BOTH interval sets are
# derived (sessions from events, windows from nation), joined through
# day-bin bucketization instead of a range predicate. The oracle is an
# independent inequality join — DuckDB plans it as an IEJoin, a third
# implementation strategy agreeing on the same semantics.
_OVERLAP_ORACLE = """
WITH flagged AS (
    SELECT user_id, ts, event_id,
           CASE WHEN floor(epoch(ts)) - lag(floor(epoch(ts))) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
    SELECT user_id,
           CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq,
           ts
    FROM flagged
), s AS (
    SELECT user_id, session_seq, min(ts) AS session_start, max(ts) AS session_end
    FROM sess GROUP BY 1, 2
), w AS (
    SELECT n_nationkey AS win_id,
           TIMESTAMP '2024-01-01 00:00:00'
             + to_days(CAST(n_nationkey AS INT)) AS win_start,
           TIMESTAMP '2024-01-01 00:00:00'
             + to_days(CAST(n_nationkey AS INT)) + INTERVAL 36 HOUR AS win_end
    FROM nation
)
SELECT w.win_id,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(count(DISTINCT s.user_id) AS BIGINT) AS n_users
FROM w JOIN s
  ON s.session_start <= w.win_end AND w.win_start <= s.session_end
GROUP BY 1
"""


@register("sessions_overlap_windows", oracle=_OVERLAP_ORACLE)
def sessions_overlap_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which analysis windows does each user session overlap? Session
    intervals (30-min-gap rollup) overlap-joined to 25 overlapping
    36-hour windows via operators/temporal.py::overlap_join — day-bin
    bucketization turns the range predicate into a hash equi-join on
    the bin key, with first-shared-bin arithmetic deduplication. Both
    sides here could be 100 TB facts: nothing is broadcast, nothing is
    nested-loop, the explode fan-out is ≤ 3 bins per interval."""
    from strava_data_pipeline_spark.operators.sessionize import sessionize
    from strava_data_pipeline_spark.operators.temporal import overlap_join

    s = (
        sessionize(_events(spark, sf_dir), gap_minutes=30)
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )
    windows = (
        load_table(spark, sf_dir, "nation")
        .select(
            F.col("n_nationkey").alias("win_id"),
            F.expr(
                "timestamp'2024-01-01 00:00:00'"
                " + make_interval(0, 0, 0, CAST(n_nationkey AS INT), 0, 0, 0)"
            ).alias("win_start"),
        )
        .withColumn("win_end", F.col("win_start") + F.expr("INTERVAL 36 HOURS"))
    )
    pairs = overlap_join(
        s,
        windows,
        l_start="session_start",
        l_end="session_end",
        r_start="win_start",
        r_end="win_end",
    )
    return pairs.groupBy("win_id").agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )


# --------------------------------------------------------------------------
# 189. sessions_overlap_bucketed — the skew-robust twin (r8)
# --------------------------------------------------------------------------
@register("sessions_overlap_bucketed", oracle=_OVERLAP_ORACLE)
def sessions_overlap_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sessions_overlap_windows through the skew-robust session build —
    SAME oracle, identical hash. The plain query's scale hazard was
    never the overlap join (operators/temporal.py bucketizes that into
    a hash equi-join on day bins): it was ``sessionize``'s per-user
    window, where ONE task sorts a hot user's entire history — the r7
    Zipf rehearsal measured a 3.81x tax when one user holds 25% of a
    10M-row corpus, and AQE cannot split a window partition
    (SCALING_SKEW_R7.json). This twin swaps in
    operators/sessionize.py::sessionize_bucketed (intra-bucket window
    over (user, day) + one-row-per-bucket boundary repair — the
    sequential dependency rides the bucket summary, never the facts),
    so the largest sort any task performs is one user-DAY regardless
    of key concentration. Downstream is unchanged and already
    skew-safe: the (user, session) groupBy partial-aggregates
    map-side, and the interval join keys on day bins. Registered like
    user_activity_join_salted / events_sessionize_bucketed: the
    hot-key fallback held to the exact hash contract of the plain
    path, flipped on when heavy_hitters/degree_histogram stats show a
    user a single task should not sort."""
    from strava_data_pipeline_spark.operators.sessionize import (
        sessionize_bucketed,
    )
    from strava_data_pipeline_spark.operators.temporal import overlap_join

    s = (
        sessionize_bucketed(_events(spark, sf_dir), gap_minutes=30)
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )
    windows = (
        load_table(spark, sf_dir, "nation")
        .select(
            F.col("n_nationkey").alias("win_id"),
            F.expr(
                "timestamp'2024-01-01 00:00:00'"
                " + make_interval(0, 0, 0, CAST(n_nationkey AS INT), 0, 0, 0)"
            ).alias("win_start"),
        )
        .withColumn("win_end", F.col("win_start") + F.expr("INTERVAL 36 HOURS"))
    )
    pairs = overlap_join(
        s,
        windows,
        l_start="session_start",
        l_end="session_end",
        r_start="win_start",
        r_end="win_end",
    )
    return pairs.groupBy("win_id").agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )


# --------------------------------------------------------------------------
# 111. pagerank_parts — fixed-iteration PageRank over the co-purchase graph
# --------------------------------------------------------------------------
# Integer micro-unit ranks (the kmeans_lloyd quantization discipline)
# make all three iterations bit-exact on both engines, so the oracle is
# the same recurrence unrolled as chained CTEs — an independent
# implementation, not a transcription: DuckDB evaluates the whole
# unrolled plan at once while Spark materializes round by round.
def _pagerank_oracle(iterations: int = 3) -> str:
    prev = "r0"
    steps = []
    for i in range(1, iterations + 1):
        steps.append(
            f"""s{i} AS (
    SELECT e.dst AS node,
           CAST(sum({prev}.r // d.deg) AS BIGINT) AS c
    FROM e JOIN {prev} ON e.src = {prev}.node JOIN deg d ON e.src = d.src
    GROUP BY 1
), r{i} AS (
    SELECT n.node,
           CAST(150000 + (850 * coalesce(s{i}.c, 0)) // 1000 AS BIGINT) AS r
    FROM n LEFT JOIN s{i} ON n.node = s{i}.node
)"""
        )
        prev = f"r{i}"
    return f"""
WITH li AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), e AS (
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM li a JOIN li b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
), deg AS (
    SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1
), n AS (
    SELECT src AS node FROM deg
), r0 AS (
    SELECT node, CAST(1000000 AS BIGINT) AS r FROM n
), {', '.join(steps)}
SELECT node AS p_partkey, r AS rank_micro
FROM {prev}
ORDER BY rank_micro DESC, p_partkey
LIMIT 50
"""


@register("pagerank_parts", oracle=_pagerank_oracle())
def pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 parts by PageRank over the undirected co-purchase graph
    (parts sharing an order, the parts_bought_together edge set). Three
    power iterations via operators/graph.py::pagerank — per round one
    src-keyed join + one dst-keyed groupBy, nothing driver-side, exact
    BIGINT arithmetic end to end. Edge build is the basket-array form
    (one orderkey-keyed map-side-combined collect_set + a codegen
    ordered-pair explode emitting both directions inline) — it replaces
    the orderkey self-join, which shuffled the item list twice and
    deduped twice the pair volume; fan-out stays bounded by basket
    size. The edge set is not persisted: AQE exchange reuse covers its
    build across the three iterations of one query (the
    operators/graph.py NOTE's measurement; persisting it costs +15% at
    sf0.1)."""
    from strava_data_pipeline_spark.operators.graph import pagerank

    baskets = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
    )
    edges = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> flatten("
                    " transform(slice(ps, i + 2, size(ps)), y ->"
                    " array(named_struct('src', x, 'dst', y),"
                    "       named_struct('src', y, 'dst', x))))))"
                )
            ).alias("e")
        )
        .select(F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
        .distinct()
    )
    ranks = pagerank(edges, iterations=3)
    return (
        ranks.select(F.col("node").alias("p_partkey"), F.col("rank").alias("rank_micro"))
        .orderBy(F.col("rank_micro").desc(), "p_partkey")
        .limit(50)
    )


# --------------------------------------------------------------------------
# 115. events_rolling_7d — per-user rolling 7-day window aggregates
# --------------------------------------------------------------------------
# The hypertable "moving aggregate over a time RANGE" — distinct from
# events_running_total's unbounded ROWS cumsum: the frame is bounded by
# event-time distance, not row count, so sparse and dense users get the
# same 7-day semantics. Both engines order by exact BIGINT epoch-µs
# (floor-truncated from ns identically) and sum exact cent units, so
# frame membership and sums are bit-identical.
_ROLLING_ORACLE = """
SELECT event_id, user_id, ts,
       CAST(count(*) OVER w AS BIGINT) AS n_7d,
       CAST(CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w
            AS BIGINT) AS DOUBLE) / 100.0 AS sum_value_7d
FROM events
WINDOW w AS (
    PARTITION BY user_id ORDER BY epoch_us(ts)
    RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW
)
"""

_ROLLING_7D_US = 604_800_000_000


def _rolling_delta_stream(e: DataFrame) -> DataFrame:
    """The add/remove/read delta stream both rolling-7d variants share:
    input (event_id, user_id, ts, _us, _cents) → 3n rows of
    (user_id, _s, _dv, _dc, event_id, ts), where ``_s = t*4 + pri``
    packs instant and role into one BIGINT sort key (remove=0 < add=1
    < read=2 resolves same-instant deltas before any read, keeping
    RANGE peers inclusive)."""
    nulls = [
        F.lit(None).cast("bigint").alias("event_id"),
        F.lit(None).cast("timestamp").alias("ts"),
    ]
    adds = e.select(
        "user_id",
        (F.col("_us") * 4 + 1).alias("_s"),
        F.col("_cents").alias("_dv"),
        F.lit(1).cast("bigint").alias("_dc"),
        *nulls,
    )
    rems = e.select(
        "user_id",
        ((F.col("_us") + F.lit(_ROLLING_7D_US + 1)) * 4).alias("_s"),
        (-F.col("_cents")).alias("_dv"),
        F.lit(-1).cast("bigint").alias("_dc"),
        *nulls,
    )
    reads = e.select(
        "user_id",
        (F.col("_us") * 4 + 2).alias("_s"),
        F.lit(0).cast("bigint").alias("_dv"),
        F.lit(0).cast("bigint").alias("_dc"),
        "event_id",
        "ts",
    )
    return adds.unionByName(rems).unionByName(reads)


def _rolling_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "ts",
        F.unix_micros("ts").alias("_us"),
        F.floor(F.col("value") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("_cents"),
    )


def _rolling_emit(cum: DataFrame) -> DataFrame:
    """Filter the read rows and shape the output (shared by both
    variants — _cum_c/_cum_v are the running delta sums at each row)."""
    return cum.where(F.pmod(F.col("_s"), F.lit(4)) == 2).select(
        "event_id",
        "user_id",
        "ts",
        F.col("_cum_c").cast("bigint").alias("n_7d"),
        (F.col("_cum_v").cast("bigint").cast("double") / 100.0).alias(
            "sum_value_7d"
        ),
    )


@register("events_rolling_7d", oracle=_ROLLING_ORACLE)
def events_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 7-day rolling count and value sum — the time-RANGE
    moving aggregate, computed as a DELTA-STREAM PREFIX SUM instead of
    a Spark RANGE window frame (r8 rewrite).

    Why not ``Window.rangeBetween``: Spark's SlidingWindowFunctionFrame
    has no inverse-aggregate path — when the frame slides it
    re-initializes the aggregate and REPLAYS the whole buffered frame,
    so a RANGE window costs O(rows x frame_size) per partition. With a
    time-width frame that size is data-dependent: the r8 Zipf
    rehearsal's hot user (25% of a 10M-row corpus, ~48k rows per 7-day
    frame) turns the window into ~10^11 single-threaded aggregate
    updates — hours on one core, the quadratic this repo forbids.
    (ROWS frames with small constant k, e.g. events_sliding_window's
    5-row frame, are fine: the replay is O(k) per row.)

    The rewrite: every event contributes an ADD delta at its own
    instant and a REMOVE delta at the first instant it leaves any
    frame (us + 7d + 1µs); each row READS the per-user running delta
    sum at its own instant. All three stream roles pack into ONE
    BIGINT sort key ``s = t*4 + pri`` (remove=0 < add=1 < read=2, so
    same-instant removes/adds resolve before any read — RANGE peers
    stay inclusive exactly like the SQL frame), and the running sum is
    a plain unbounded-preceding ROWS cumsum, which Spark maintains
    incrementally in O(1) per row. Cost: one user_id exchange, one
    sort of 3n rows — O(n log n) for ANY frame density, hot users
    included. Ties: only read rows are emitted and deltas of equal s
    commute, so peer order never changes output. Exact integer cents
    end to end; the emitted double is cents/100.0 on both engines."""
    u = _rolling_delta_stream(_rolling_events(spark, sf_dir))
    w = (
        Window.partitionBy("user_id")
        .orderBy("_s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _rolling_emit(
        u.select(
            "user_id",
            "event_id",
            "ts",
            F.sum("_dc").over(w).alias("_cum_c"),
            F.sum("_dv").over(w).alias("_cum_v"),
            "_s",
        )
    )


# --------------------------------------------------------------------------
# 193. events_rolling_7d_bucketed — the skew-robust twin (r8)
# --------------------------------------------------------------------------
@register("events_rolling_7d_bucketed", oracle=_ROLLING_ORACLE)
def events_rolling_7d_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_rolling_7d through the two-phase bucketed cumsum — SAME
    oracle, identical hash. The delta-stream rewrite made the rolling
    aggregate a pure per-user prefix sum; its residual skew hazard is
    that the cumsum window still hands ONE task the hot user's whole
    delta stream (measured 4.96x tax at a 25%-hot user,
    SCALING_SKEW_R8.json). operators/bucketed_prefix.bucketed_cumsum
    splits that into day buckets of the packed sort key: the intra
    window sorts one user-DAY of deltas, bucket totals ride a
    one-row-per-bucket per-user window, and the offset joins back on
    the intra exchange's own key. Same hot-key-knob contract as
    sessionize_bucketed / sessions_overlap_bucketed."""
    from strava_data_pipeline_spark.operators.bucketed_prefix import (
        bucketed_cumsum,
    )

    u = _rolling_delta_stream(_rolling_events(spark, sf_dir)).withColumn(
        "_bkt", F.floor(F.col("_s") / F.lit(4 * 86_400_000_000))
    )
    cum = bucketed_cumsum(
        u,
        key_col="user_id",
        bucket_col="_bkt",
        order_cols=["_s"],
        sums={"_cum_c": "_dc", "_cum_v": "_dv"},
    )
    return _rolling_emit(cum)
