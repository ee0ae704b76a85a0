"""Time-series / anomaly queries on the events stream (SURVEY.md §2,
r6 sixth pack, rows 161-164): the monitoring layer over an ingestion
pipeline — smoothing (EWMA), robust outlier thresholds (median/MAD),
behavioral structure (Markov transitions), and drift localization
(integer-exact CUSUM changepoints).

Reference parity: the reference (Go activity service) stores the raw
activity stream (internal/db/activities.go) and leaves analysis to the
reader; these are the standard first queries an operator runs ON that
stream. All arithmetic crosses the DuckDB oracle boundary as exact
BIGINTs: event values are cents-exact by construction, so
round(value*100) is lossless, and every derived statistic (EWMA
numerators, medians, CUSUM scores) stays in integer space — the one
float per query is a final correctly-rounded division of identical
integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from strava_data_pipeline_spark.plans.registry import register
from strava_data_pipeline_spark.sources.catalog import load_table

# --------------------------------------------------------------------------
# 161. events_ewma — per-user EWMA-8 smoothing as an exact rational
# --------------------------------------------------------------------------
# alpha = 1/2 over a bounded 8-event horizon: weight of the j-th most
# recent value is 2^(7-j), so numerator and denominator are exact
# BIGINTs and partial histories (first 7 events of a user) weight only
# the rows that exist — no bias-correction float in sight.
_EWMA_LAGS = 8

_EWMA_ORACLE = f"""
WITH v AS (
    SELECT event_id, user_id, ts,
           CAST(round(value * 100) AS BIGINT) AS vc
    FROM events
), lagged AS (
    SELECT event_id, user_id,
           {", ".join(
               f"lag(vc, {j}) OVER (PARTITION BY user_id ORDER BY ts, event_id)"
               f" AS l{j}" if j else "vc AS l0"
               for j in range(_EWMA_LAGS)
           )}
    FROM v
)
SELECT event_id, user_id,
       CAST({" + ".join(f"coalesce(l{j}, 0) * {1 << (_EWMA_LAGS - 1 - j)}"
                        for j in range(_EWMA_LAGS))} AS BIGINT) AS ewma_num,
       CAST({" + ".join(
           f"(CASE WHEN l{j} IS NOT NULL THEN {1 << (_EWMA_LAGS - 1 - j)}"
           " ELSE 0 END)" for j in range(_EWMA_LAGS))} AS BIGINT) AS ewma_den,
       round(({" + ".join(f"coalesce(l{j}, 0) * {1 << (_EWMA_LAGS - 1 - j)}"
                          for j in range(_EWMA_LAGS))}) * 1.0 /
             ({" + ".join(
                 f"(CASE WHEN l{j} IS NOT NULL THEN {1 << (_EWMA_LAGS - 1 - j)}"
                 " ELSE 0 END)" for j in range(_EWMA_LAGS))}), 6) AS ewma_cents
FROM lagged
"""


@register("events_ewma", oracle=_EWMA_ORACLE)
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average (alpha=1/2,
    8-event horizon) of event values — the smoothing pass a monitoring
    pipeline runs before thresholding, with partial-history handling
    (a user's first events average over what exists, not over zeros).

    Scale design: ONE user_id-partitioned window carries all 8 lag
    expressions (one exchange, one sort; the 8 lags share the frame),
    and the EWMA is an exact rational — value cents are lossless
    BIGINTs, weights are powers of two, numerator/denominator ride as
    integers and the only float is one correctly-rounded division.
    Bounded-horizon EWMA is deliberate: the infinite-horizon recurrence
    needs a sequential scan per key (the one shape a distributed window
    can't parallelize), while the 8-term form is a stateless
    expression over a bounded frame — and 2^-8 truncation error is
    below the cents quantum anyway."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    vc = F.round(F.col("value") * 100).cast("bigint")
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", vc.alias("vc")
    )
    lags = [
        (F.col("vc") if j == 0 else F.lag("vc", j).over(w)).alias(f"l{j}")
        for j in range(_EWMA_LAGS)
    ]
    lagged = e.select("event_id", "user_id", *lags)
    num = sum(
        F.coalesce(F.col(f"l{j}"), F.lit(0)) * F.lit(1 << (_EWMA_LAGS - 1 - j))
        for j in range(_EWMA_LAGS)
    )
    den = sum(
        F.when(F.col(f"l{j}").isNotNull(), F.lit(1 << (_EWMA_LAGS - 1 - j)))
        .otherwise(F.lit(0))
        for j in range(_EWMA_LAGS)
    )
    return lagged.select(
        "event_id",
        "user_id",
        num.cast("bigint").alias("ewma_num"),
        den.cast("bigint").alias("ewma_den"),
        F.round(num * F.lit(1.0) / den, 6).alias("ewma_cents"),
    )


# --------------------------------------------------------------------------
# 162. mad_outliers — robust per-type outlier thresholds (median + MAD)
# --------------------------------------------------------------------------
# Lower median and lower-median MAD, both exact integers picked from a
# cumulative count over the (type, value) DOMAIN frame — the same
# no-global-sort equi-depth machinery as range_partition_plan, applied
# per type. |v - med| > 3*MAD is the standard robust outlier gate that
# doesn't move when the outliers themselves do (unlike mean/stddev).
_MAD_ORACLE = """
WITH d AS (
    SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v,
           CAST(count(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
), cum AS (
    SELECT event_type, v, c,
           sum(c) OVER (PARTITION BY event_type ORDER BY v) AS cum,
           sum(c) OVER (PARTITION BY event_type) AS n
    FROM d
), med AS (
    SELECT event_type, CAST(min(v) AS BIGINT) AS med,
           CAST(min(n) AS BIGINT) AS n
    FROM cum WHERE 2 * cum >= n GROUP BY 1
), ad AS (
    SELECT d.event_type, abs(d.v - m.med) AS a, CAST(sum(d.c) AS BIGINT) AS c
    FROM d JOIN med m USING (event_type) GROUP BY 1, 2
), adcum AS (
    SELECT event_type, a, c,
           sum(c) OVER (PARTITION BY event_type ORDER BY a) AS cum,
           sum(c) OVER (PARTITION BY event_type) AS n
    FROM ad
), mad AS (
    SELECT event_type, CAST(min(a) AS BIGINT) AS mad
    FROM adcum WHERE 2 * cum >= n GROUP BY 1
)
SELECT m.event_type, m.n, m.med AS med_cents, x.mad AS mad_cents,
       CAST(coalesce((
           SELECT sum(d2.c) FROM d d2
           WHERE d2.event_type = m.event_type
             AND abs(d2.v - m.med) > 3 * x.mad
       ), 0) AS BIGINT) AS n_outliers
FROM med m JOIN mad x USING (event_type)
"""


@register("mad_outliers", oracle=_MAD_ORACLE)
def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier audit: lower median, lower-median MAD
    (median absolute deviation), and the count of events beyond the
    3-MAD gate — the threshold family that stays put when the tail
    misbehaves, unlike mean/stddev (events_zscore's gate moves with
    the very outliers it hunts).

    Scale design: the fact table collapses ONCE to the (type, value)
    domain frame — value is cents-exact so the frame is domain-bounded
    at any SF — and every statistic after that is domain-sized:
    medians come from cumulative-count windows PARTITIONED by type
    (never global), the MAD pass re-aggregates the same frame by
    |v-med|, and the outlier count is a conditional sum over it. No
    exact-percentile aggregate anywhere — Spark's percentile() buffers
    every value per group, which is exactly what dies on a 100 TB
    group; the domain-frame form shuffles value COUNTS, not values."""
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.round(F.col("value") * 100).cast("bigint").alias("v")
        )
        .agg(F.count("*").cast("bigint").alias("c"))
        .persist()
    )
    wv = Window.partitionBy("event_type").orderBy("v")
    wt = Window.partitionBy("event_type")
    cum = d.select(
        "event_type",
        "v",
        "c",
        F.sum("c").over(wv).alias("cum"),
        F.sum("c").over(wt).alias("n"),
    )
    med = (
        cum.where(2 * F.col("cum") >= F.col("n"))
        .groupBy("event_type")
        .agg(
            F.min("v").cast("bigint").alias("med"),
            F.min("n").cast("bigint").alias("n"),
        )
    )
    ad = (
        d.join(med, "event_type")
        .groupBy("event_type", F.abs(F.col("v") - F.col("med")).alias("a"))
        .agg(F.sum("c").cast("bigint").alias("c"))
    )
    wa = Window.partitionBy("event_type").orderBy("a")
    adcum = ad.select(
        "event_type",
        "a",
        "c",
        F.sum("c").over(wa).alias("cum"),
        F.sum("c").over(wt).alias("n"),
    )
    mad = (
        adcum.where(2 * F.col("cum") >= F.col("n"))
        .groupBy("event_type")
        .agg(F.min("a").cast("bigint").alias("mad"))
    )
    thresh = med.join(mad, "event_type")
    outl = (
        d.join(thresh, "event_type")
        .where(F.abs(F.col("v") - F.col("med")) > 3 * F.col("mad"))
        .groupBy("event_type")
        .agg(F.sum("c").cast("bigint").alias("n_outliers"))
    )
    return (
        thresh.join(outl, "event_type", "left")
        .select(
            "event_type",
            "n",
            F.col("med").alias("med_cents"),
            F.col("mad").alias("mad_cents"),
            F.coalesce("n_outliers", F.lit(0)).cast("bigint").alias("n_outliers"),
        )
    )


# --------------------------------------------------------------------------
# 163. event_transitions — first-order Markov transition matrix
# --------------------------------------------------------------------------
_TRANS_ORACLE = """
WITH seq AS (
    SELECT user_id, event_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS prev_type
    FROM events
), pairs AS (
    SELECT prev_type AS from_type, event_type AS to_type,
           CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS total_from,
       round(n * 1.0 / sum(n) OVER (PARTITION BY from_type), 6) AS p
FROM pairs
"""


@register("event_transitions", oracle=_TRANS_ORACLE)
def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of per-user event-type
    sequences: for every (from, to) pair the transition count and
    row-normalized probability — session-flow structure (what follows
    signup? what precedes error?) in |types|^2 rows.

    Scale design: one user_id-partitioned lag window (the sequence
    never leaves its partition), one map-side-combinable pair count to
    a |types|^2 frame, and the row normalization is a window over THAT
    frame (domain-sized, not data-sized). Probability is one
    correctly-rounded division of two BIGINTs both engines computed
    identically."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = load_table(spark, sf_dir, "events").select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    pairs = (
        seq.where(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    wf = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.sum("n").over(wf).cast("bigint").alias("total_from"),
        F.round(F.col("n") * F.lit(1.0) / F.sum("n").over(wf), 6).alias("p"),
    )


# --------------------------------------------------------------------------
# 164. cusum_changepoint — integer-exact CUSUM drift localization
# --------------------------------------------------------------------------
# CUSUM against the user's own mean, kept integer by multiplying
# through by the count: score_k = n·prefix_k − k·S (all BIGINT; for
# cents values this holds to n ≈ 10^6 events/user before overflow —
# headroom documented in the docstring). The peak |score| row is where
# the user's value level shifted, the standard offline changepoint
# estimate.
_CUSUM_ORACLE = """
WITH v AS (
    SELECT event_id, user_id, ts,
           CAST(round(value * 100) AS BIGINT) AS vc
    FROM events
), pre AS (
    SELECT event_id, user_id,
           sum(vc) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prefix,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS k,
           sum(vc) OVER (PARTITION BY user_id) AS s,
           count(*) OVER (PARTITION BY user_id) AS n
    FROM v
), scored AS (
    SELECT user_id, event_id, CAST(n AS BIGINT) AS n,
           CAST(k AS BIGINT) AS k,
           abs(n * prefix - k * s) AS score
    FROM pre
)
SELECT user_id, n,
       event_id AS peak_event_id,
       CAST(k AS BIGINT) AS peak_k,
       CAST(score AS BIGINT) AS peak_score
FROM (
    SELECT *,
           row_number() OVER (PARTITION BY user_id
                ORDER BY score DESC, event_id ASC) AS rn
    FROM scored
) WHERE rn = 1
"""


@register("cusum_changepoint", oracle=_CUSUM_ORACLE)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline CUSUM changepoint per user: the event where the running
    deviation from the user's own mean peaks — the standard
    single-changepoint estimate for "when did this user's value level
    shift". Drift localization is the follow-up question after
    mad_outliers says something is off.

    Scale design: all three window passes (prefix sum, per-user
    totals, peak rank) share ONE user_id hash partitioning — a single
    exchange end to end. The score stays exact by multiplying the mean
    through: score_k = n·prefix_k − k·S is pure BIGINT (no float mean,
    no accumulation order), with overflow headroom to ~10^6
    cents-valued events per user (n·prefix ≤ n²·max_v·100 < 2^63);
    past that, pre-scale the cents (the score is scale-invariant).
    Ties break to the earliest event_id so the peak row is
    deterministic cross-engine."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wu = Window.partitionBy("user_id")
    vc = F.round(F.col("value") * 100).cast("bigint")
    pre = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        vc.alias("vc"),
    ).select(
        "event_id",
        "user_id",
        F.sum("vc").over(w).alias("prefix"),
        F.row_number().over(w).cast("bigint").alias("k"),
        F.sum("vc").over(wu).alias("s"),
        F.count("*").over(wu).cast("bigint").alias("n"),
    )
    scored = pre.select(
        "user_id",
        "event_id",
        "n",
        "k",
        F.abs(F.col("n") * F.col("prefix") - F.col("k") * F.col("s")).alias(
            "score"
        ),
    )
    wr = Window.partitionBy("user_id").orderBy(
        F.col("score").desc(), F.col("event_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "n",
            F.col("event_id").alias("peak_event_id"),
            F.col("k").alias("peak_k"),
            F.col("score").cast("bigint").alias("peak_score"),
        )
    )


# --------------------------------------------------------------------------
# 196. cusum_changepoint_bucketed — the skew-robust twin (r8)
# --------------------------------------------------------------------------
@register("cusum_changepoint_bucketed", oracle=_CUSUM_ORACLE)
def cusum_changepoint_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cusum_changepoint through the two-phase primitives — SAME
    oracle, identical hash. The plain query's three per-user windows
    (prefix sum, row_number, whole-partition totals) plus the peak
    rank window all funnel a hot user through one task (measured
    4.09x tax, SCALING_SKEW_R8.json). Here: prefix and k come from
    operators/bucketed_prefix.bucketed_cumsum over (user, day) buckets
    (row_number == cumsum of ones under the total (ts, event_id)
    order); the per-user totals are a map-side-combinable groupBy
    joined back on the user key instead of whole-partition windows;
    and the peak row is a lexicographic struct-max AGGREGATE
    (max score, then min event_id via negation) instead of a rank
    window — partial-aggregated map-side, so no task ever sees more
    than its share of any user's scored rows. Same hot-key-knob
    contract as the other bucketed twins."""
    from strava_data_pipeline_spark.operators.bucketed_prefix import (
        bucketed_cumsum,
    )

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("vc"),
        F.lit(1).cast("bigint").alias("_one"),
        F.floor(F.unix_timestamp("ts").cast("bigint") / F.lit(86_400)).alias(
            "_bkt"
        ),
    )
    pre = bucketed_cumsum(
        e,
        key_col="user_id",
        bucket_col="_bkt",
        order_cols=["ts", "event_id"],
        sums={"prefix": "vc", "k": "_one"},
    )
    totals = e.groupBy("user_id").agg(
        F.sum("vc").alias("s_tot"),
        F.count("*").cast("bigint").alias("n"),
    )
    scored = pre.join(totals, "user_id").select(
        "user_id",
        "event_id",
        "n",
        "k",
        F.abs(
            F.col("n") * F.col("prefix") - F.col("k") * F.col("s_tot")
        ).alias("score"),
    )
    peak = scored.groupBy("user_id").agg(
        F.max(
            F.struct(
                F.col("score"),
                (-F.col("event_id")).alias("neg_id"),
                F.col("event_id"),
                F.col("k"),
                F.col("n"),
            )
        ).alias("p")
    )
    return peak.select(
        "user_id",
        F.col("p.n").alias("n"),
        F.col("p.event_id").alias("peak_event_id"),
        F.col("p.k").alias("peak_k"),
        F.col("p.score").cast("bigint").alias("peak_score"),
    )


# --------------------------------------------------------------------------
# 179. groupwise_quantiles — exact per-type quartiles from the domain frame
# --------------------------------------------------------------------------
# Lower-quantile semantics: q_k = first v with 4·cum >= k·n (k=1,2,3) —
# pure BIGINT comparisons, no interpolation, no float rank. All three
# quartiles come out of ONE cumulative pass over the same (type, value)
# domain frame mad_outliers uses.
_GQ_ORACLE = """
WITH d AS (
    SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v,
           CAST(count(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
), cum AS (
    SELECT event_type, v, c,
           sum(c) OVER (PARTITION BY event_type ORDER BY v) AS cum,
           sum(c) OVER (PARTITION BY event_type) AS n
    FROM d
)
SELECT event_type,
       CAST(min(n) AS BIGINT) AS n,
       CAST(min(CASE WHEN 4 * cum >= 1 * n THEN v END) AS BIGINT) AS p25_cents,
       CAST(min(CASE WHEN 4 * cum >= 2 * n THEN v END) AS BIGINT) AS p50_cents,
       CAST(min(CASE WHEN 4 * cum >= 3 * n THEN v END) AS BIGINT) AS p75_cents
FROM cum GROUP BY 1
"""


@register("groupwise_quantiles", oracle=_GQ_ORACLE)
def groupwise_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type quartiles (lower-quantile semantics — the first
    value whose cumulative count reaches k·n/4, pure BIGINT, no
    interpolation): the distribution summary that pairs with
    mad_outliers' robust gates and replaces Spark's exact
    percentile() aggregate, which buffers every value per group — the
    shape that dies on a 100 TB group.

    Scale design: same machinery as mad_outliers' median — the fact
    collapses ONCE to the (type, value) domain frame (bounded by the
    cents domain at any SF), one type-partitioned cumulative window,
    and all three quartiles are conditional MINs over that single
    pass. Shuffles value COUNTS, never values."""
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.round(F.col("value") * 100).cast("bigint").alias("v")
        )
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    wv = Window.partitionBy("event_type").orderBy("v")
    wt = Window.partitionBy("event_type")
    cum = d.select(
        "event_type",
        "v",
        F.sum("c").over(wv).alias("cum"),
        F.sum("c").over(wt).alias("n"),
    )
    aggs = [F.min("n").cast("bigint").alias("n")]
    for k, name in ((1, "p25_cents"), (2, "p50_cents"), (3, "p75_cents")):
        aggs.append(
            F.min(F.when(4 * F.col("cum") >= k * F.col("n"), F.col("v")))
            .cast("bigint")
            .alias(name)
        )
    return cum.groupBy("event_type").agg(*aggs)
