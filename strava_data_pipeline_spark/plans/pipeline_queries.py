"""Reference-derived pipeline queries (SURVEY.md §2a).

The ``events`` table plays the role of the reference's ``activities``
fact (event_id=activity id, user_id=athlete_id, ts=start_date,
event_type=type, value=distance); ``customer`` plays ``users``. Each
query is the Spark-first re-expression of a capability in
/root/reference (cited per function), paired with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from strava_data_pipeline_spark.operators.pagination import page_offset
from strava_data_pipeline_spark.operators.sessionize import sessionize
from strava_data_pipeline_spark.operators.upsert import merge_cdc, merge_latest_wins
from strava_data_pipeline_spark.plans.registry import register
from strava_data_pipeline_spark.sources.catalog import load_table, max_micros

EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value"]


# --------------------------------------------------------------------------
# 1. ingest_upsert — ON CONFLICT (id) DO UPDATE (activities.go:99)
# --------------------------------------------------------------------------
_UPSERT_ORACLE = """
WITH updates AS (
    SELECT event_id, ts + INTERVAL 1 HOUR AS ts, user_id, event_type,
           value + 1000.0 AS value
    FROM events WHERE event_id % 10 = 0
), tagged AS (
    SELECT event_id, ts, user_id, event_type, value, 0 AS _src FROM events
    UNION ALL
    SELECT event_id, ts, user_id, event_type, value, 1 AS _src FROM updates
), ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY event_id ORDER BY ts DESC, _src DESC) AS _rn
    FROM tagged
)
SELECT event_id, ts, user_id, event_type, value FROM ranked WHERE _rn = 1
"""


@register("ingest_upsert", oracle=_UPSERT_ORACLE)
def ingest_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-ingest a simulated refreshed batch (every 10th activity, newer
    ts, changed value) and merge latest-wins — the set-based equivalent of
    the reference's row-at-a-time Postgres upsert."""
    events = load_table(spark, sf_dir, "events").select(*EVENT_COLS)
    updates = (
        events.where(F.col("event_id") % 10 == 0)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
        .withColumn("value", F.col("value") + F.lit(1000.0))
    )
    return merge_latest_wins(events, updates, keys=["event_id"], order_by=["ts"])


# --------------------------------------------------------------------------
# 2. activity_by_id — GetActivityByID (activities.go:187)
# --------------------------------------------------------------------------
_BY_ID_ORACLE = "SELECT event_id, ts, user_id, event_type, value FROM events WHERE event_id = 42"


@register("activity_by_id", oracle=_BY_ID_ORACLE)
def activity_by_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup; the id predicate reaches the parquet scan
    (PushedFilters) so only matching row groups are read."""
    return (
        load_table(spark, sf_dir, "events")
        .select(*EVENT_COLS)
        .where(F.col("event_id") == 42)
    )


# --------------------------------------------------------------------------
# 3. recent_activities — GetLastActivities (activities.go:202)
# --------------------------------------------------------------------------
_RECENT_ORACLE = """
SELECT event_id, ts, user_id, event_type, value
FROM events ORDER BY ts DESC, event_id DESC LIMIT 20
"""


@register("recent_activities", oracle=_RECENT_ORACLE)
def recent_activities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-20 by start time. orderBy+limit plans as
    TakeOrderedAndProject: per-partition heaps, no global sort."""
    return (
        load_table(spark, sf_dir, "events")
        .select(*EVENT_COLS)
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .limit(20)
    )


# --------------------------------------------------------------------------
# 4. activities_page — list limit/offset (api.go:206)
# --------------------------------------------------------------------------
_PAGE_ORACLE = """
WITH numbered AS (
    SELECT event_id, ts, user_id, event_type, value,
           row_number() OVER (ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
)
SELECT * FROM numbered WHERE rn > 40 AND rn <= 60
"""


@register("activities_page", oracle=_PAGE_ORACLE)
def activities_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page 3 (limit 20, offset 40) of the activity list — reference API
    parity. See operators/pagination.py for the keyset scale path."""
    events = load_table(spark, sf_dir, "events").select(*EVENT_COLS)
    return page_offset(events, [("ts", True), ("event_id", True)], limit=20, offset=40)


# --------------------------------------------------------------------------
# 5. sync_window — FetchActivities(after) (strava.go:48, api.go:331)
# --------------------------------------------------------------------------
_SYNC_WINDOW_ORACLE = """
SELECT event_id, ts, user_id, event_type, value
FROM events
WHERE ts >= (SELECT max(ts) - INTERVAL 7 DAY FROM events)
"""


@register("sync_window", oracle=_SYNC_WINDOW_ORACLE)
def sync_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental sync window: activities in the trailing 7 days of the
    table's high-water mark. The single filter PipelineService.sync_window
    plans for a version it has no driver copy of: max(ts) comes from the
    handle (catalog.max_micros, one eager job per table version) and
    folds to a literal bound the scan pushes down."""
    handle = load_table(spark, sf_dir, "events")
    events = handle.select(*EVENT_COLS)
    hwm = max_micros(handle, "ts")
    if hwm is None:
        return events.where(F.lit(False))
    return events.where(
        F.col("ts") >= F.timestamp_micros(F.lit(hwm)) - F.expr("INTERVAL 7 DAY")
    )


# --------------------------------------------------------------------------
# 6. sync_daily_counts — StartSyncJob ticker stats (strava.go:261)
# --------------------------------------------------------------------------
_DAILY_ORACLE = """
SELECT CAST(ts AS DATE) AS sync_day, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2
"""


@register("sync_daily_counts", oracle=_DAILY_ORACLE)
def sync_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day/type ingestion stats — the monitoring query behind the
    reference's daily sync job. Partial aggregation map-side, one shuffle."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.to_date("ts").alias("sync_day"), F.col("event_type")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# 7. api_key_validate — ValidateAPIKey (user_api_keys.go:36)
# --------------------------------------------------------------------------
# The testdata has no api_keys table; both engines derive the same
# deterministic key dim from customer, then apply the reference's
# validity rule: is_active AND (no expiry OR expiry in the future).
_KEY_DIM_SPARK = """
SELECT c_custkey AS user_id,
       md5(c_name) AS api_key,
       c_acctbal > 0 AS is_active,
       timestamp '2024-01-01 00:00:00' + make_interval(0, 0, 0, CAST(c_custkey % 400 AS INT), 0, 0, 0) AS expires_at
FROM customer
"""
_KEY_DIM_DUCK = """
SELECT c_custkey AS user_id,
       md5(c_name) AS api_key,
       c_acctbal > 0 AS is_active,
       TIMESTAMP '2024-01-01 00:00:00' + to_days(CAST(c_custkey % 400 AS INT)) AS expires_at
FROM customer
"""
_VALIDATE_ORACLE = f"""
WITH api_keys AS ({_KEY_DIM_DUCK})
SELECT user_id, api_key, expires_at
FROM api_keys
WHERE is_active AND expires_at > TIMESTAMP '2024-06-01 00:00:00'
"""


@register("api_key_validate", oracle=_VALIDATE_ORACLE)
def api_key_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key validation as a vectorized filter over the key dim (the
    reference checks one key per request; at scale validation is a
    broadcast semi-join against exactly this filtered dim)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    keys = spark.sql(_KEY_DIM_SPARK)
    return keys.where(
        F.col("is_active") & (F.col("expires_at") > F.lit("2024-06-01 00:00:00").cast("timestamp"))
    ).select("user_id", "api_key", "expires_at")


# --------------------------------------------------------------------------
# 7b. jwt_validate — GenerateJWT/ValidateJWT session claims
#     (auth.go:110, :130, :152 middleware)
# --------------------------------------------------------------------------
# The reference validates one bearer token per request: HS256 signature
# recomputed with the server secret must match, and the expiry claim
# must be in the future (auth.go:130 ValidateJWT; expiry set at
# GenerateJWT, auth.go:110). Set-based re-expression over a derived
# session dim: payload = claims string, signature = sha256(payload +
# secret) — sessions for user_id % 7 == 0 are planted with a forged
# signature, and short-expiry sessions are planted by the day modulus,
# so both rejection paths (bad signature, expired) appear in the output.
_JWT_SECRET = "spark-graft-hs256-secret"
_JWT_NOW = "2024-06-01 00:00:00"
_JWT_ORACLE = f"""
WITH sessions AS (
    SELECT c_custkey AS user_id,
           CAST(c_custkey % 400 AS INT) AS exp_days,
           TIMESTAMP '2024-01-01 00:00:00' + to_days(CAST(c_custkey % 400 AS INT))
               AS expires_at,
           'uid=' || CAST(c_custkey AS VARCHAR) || ';exp='
               || CAST(c_custkey % 400 AS VARCHAR) AS payload,
           CASE WHEN c_custkey % 7 = 0
                THEN sha256('uid=' || CAST(c_custkey AS VARCHAR) || ';exp='
                            || CAST(c_custkey % 400 AS VARCHAR) || 'forged')
                ELSE sha256('uid=' || CAST(c_custkey AS VARCHAR) || ';exp='
                            || CAST(c_custkey % 400 AS VARCHAR) || '{_JWT_SECRET}')
           END AS signature
    FROM customer
)
SELECT user_id, expires_at,
       signature = sha256(payload || '{_JWT_SECRET}') AS sig_ok,
       expires_at > TIMESTAMP '{_JWT_NOW}' AS not_expired,
       (signature = sha256(payload || '{_JWT_SECRET}'))
           AND expires_at > TIMESTAMP '{_JWT_NOW}' AS valid
FROM sessions
"""


@register("jwt_validate", oracle=_JWT_ORACLE)
def jwt_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JWT claims validation for the whole session population in one
    vectorized pass (reference auth.go:110 GenerateJWT / :130
    ValidateJWT / :152 middleware — per-request imperative): recompute
    the signature over the claims payload with the server secret,
    compare, and evaluate the expiry claim. Pure codegen expressions —
    sha2 + comparisons, no UDFs, no shuffle at all (the plan is scan →
    project), so at 100 TB it is bounded by scan bandwidth."""
    customer = load_table(spark, sf_dir, "customer")
    uid = F.col("c_custkey")
    payload = F.concat(
        F.lit("uid="),
        uid.cast("string"),
        F.lit(";exp="),
        (uid % 400).cast("string"),
    )
    good_sig = F.sha2(F.concat(payload, F.lit(_JWT_SECRET)), 256)
    sessions = customer.select(
        uid.alias("user_id"),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.make_interval(days=(uid % 400).cast("int"))
        ).alias("expires_at"),
        payload.alias("payload"),
        F.when(
            uid % 7 == 0, F.sha2(F.concat(payload, F.lit("forged")), 256)
        )
        .otherwise(good_sig)
        .alias("signature"),
    )
    sig_ok = F.col("signature") == F.sha2(
        F.concat(F.col("payload"), F.lit(_JWT_SECRET)), 256
    )
    not_expired = F.col("expires_at") > F.lit(_JWT_NOW).cast("timestamp")
    return sessions.select(
        "user_id",
        "expires_at",
        sig_ok.alias("sig_ok"),
        not_expired.alias("not_expired"),
        (sig_ok & not_expired).alias("valid"),
    )


# --------------------------------------------------------------------------
# 8. keys_per_user — ReadApiKeyByUserID / dashboard (user_api_keys.go:174)
# --------------------------------------------------------------------------
_KEYS_PER_USER_ORACLE = f"""
WITH api_keys AS ({_KEY_DIM_DUCK})
SELECT c.c_custkey AS user_id, c.c_name AS user_name,
       CAST(count(k.api_key) AS BIGINT) AS n_keys,
       CAST(sum(CASE WHEN k.is_active THEN 1 ELSE 0 END) AS BIGINT) AS n_active
FROM customer c LEFT JOIN api_keys k ON k.user_id = c.c_custkey
GROUP BY 1, 2
"""


@register("keys_per_user", oracle=_KEYS_PER_USER_ORACLE)
def keys_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user key inventory: key dim left-joined onto users, then a
    grouped count. No forced broadcast — the key dim scales with the
    user count, so the auto-threshold/AQE picks the strategy."""
    customer = load_table(spark, sf_dir, "customer")
    customer.createOrReplaceTempView("customer")
    keys = spark.sql(_KEY_DIM_SPARK)
    return (
        customer.join(
            keys, keys["user_id"] == customer["c_custkey"], "left"
        )
        .groupBy(
            F.col("c_custkey").alias("user_id"), F.col("c_name").alias("user_name")
        )
        .agg(
            F.count("api_key").cast("bigint").alias("n_keys"),
            F.sum(F.when(F.col("is_active"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_active"),
        )
    )


# --------------------------------------------------------------------------
# 9. user_activity_join — dashboard user + activities (api.go:107)
# --------------------------------------------------------------------------
_USER_ACT_ORACLE = """
SELECT c.c_custkey AS user_id, c.c_name AS user_name,
       CAST(count(e.event_id) AS BIGINT) AS n_activities,
       round(sum(e.value), 2) AS total_value
FROM customer c JOIN events e ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


@register("user_activity_join", oracle=_USER_ACT_ORACLE)
def user_activity_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users ⋈ activities with per-user rollup. The user dim broadcasts
    under the auto-threshold locally (so the fact never shuffles for
    the join); no forced hint — at 100 TB a billion-user dim must be
    allowed to degrade to a shuffled join."""
    customer = load_table(spark, sf_dir, "customer")
    events = load_table(spark, sf_dir, "events")
    return (
        events.join(customer, events["user_id"] == customer["c_custkey"])
        .groupBy(
            F.col("c_custkey").alias("user_id"), F.col("c_name").alias("user_name")
        )
        .agg(
            F.count("event_id").cast("bigint").alias("n_activities"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# 10. athlete_weekly_summary — downstream analytics of synced activities
# --------------------------------------------------------------------------
_WEEKLY_ORACLE = """
SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week_start,
       CAST(count(*) AS BIGINT) AS n_activities,
       round(sum(value), 2) AS total_value,
       floor(round(sum(value), 2) / count(*) * 10000 + 0.5) / 10000 AS avg_value
FROM events GROUP BY 1, 2
"""
# avg derives from the ROUNDED sum so both engines divide an identical
# double, and the final 4dp rounding is floor-based: Spark's round()
# half-ups the double's SHORTEST DECIMAL REPR while DuckDB rounds the
# true binary value, so round() flips on .xxxx5-shortest-repr quotients
# (observed: 673.18/16 = 42.07375). floor() is a pure double op both
# engines compute bit-identically.


@register("athlete_weekly_summary", oracle=_WEEKLY_ORACLE)
def athlete_weekly_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly training rollup per athlete (count/total/avg)."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "user_id", F.to_date(F.date_trunc("week", F.col("ts"))).alias("week_start")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_activities"),
            F.round(F.sum("value"), 2).alias("total_value"),
            (
                F.floor(
                    F.round(F.sum("value"), 2) / F.count("*") * F.lit(10000.0)
                    + F.lit(0.5)
                )
                / F.lit(10000.0)
            ).alias("avg_value"),
        )
    )


# --------------------------------------------------------------------------
# 11. athlete_type_stats — per-type rollup
# --------------------------------------------------------------------------
_TYPE_STATS_ORACLE = """
SELECT user_id, event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 2) AS total_value,
       round(max(value), 2) AS max_value,
       round(min(value), 2) AS min_value
FROM events GROUP BY 1, 2
"""


@register("athlete_type_stats", oracle=_TYPE_STATS_ORACLE)
def athlete_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-athlete, per-activity-type stats."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.round(F.max("value"), 2).alias("max_value"),
            F.round(F.min("value"), 2).alias("min_value"),
        )
    )


# --------------------------------------------------------------------------
# 12. json_flatten — activityToMap JSON→map (strava.go:86)
# --------------------------------------------------------------------------
_JSON_ORACLE = """
SELECT event_id, event_type,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
FROM events
"""


@register("json_flatten", oracle=_JSON_ORACLE)
def json_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read flatten of the JSON props payload — the set-based
    version of the reference's per-row json.Unmarshal to a map."""
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("bigint").alias("prop_k"),
    )


# --------------------------------------------------------------------------
# 19. events_sessionize — gap sessionization (SURVEY §2b)
# --------------------------------------------------------------------------
_SESSION_ORACLE = """
WITH flagged AS (
    SELECT user_id, ts, event_id,
           CASE WHEN floor(epoch(ts)) - lag(floor(epoch(ts))) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
    SELECT user_id, ts,
           CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
    FROM flagged
)
SELECT user_id, session_seq,
       CAST(count(*) AS BIGINT) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM sess GROUP BY 1, 2
"""


@register("events_sessionize", oracle=_SESSION_ORACLE)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessions per user, rolled up."""
    events = load_table(spark, sf_dir, "events")
    s = sessionize(events, gap_minutes=30)
    return s.groupBy("user_id", "session_seq").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@register("events_sessionize_bucketed", oracle=_SESSION_ORACLE)
def events_sessionize_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_sessionize through the skew-robust two-phase operator
    (operators/sessionize.py::sessionize_bucketed): identical session
    ids — SAME oracle — but no per-user window ever sorts a whole
    user; the intra pass windows over (user, day-bucket) and the
    sequential dependency rides a one-row-per-bucket summary frame.
    Registered like user_activity_join_salted: the skew fallback is
    held to the exact hash contract of the plain path, not just unit
    tests. Motivated by the r7 Zipf rehearsal's measured 3.8x
    hot-user window tax (SCALING_SKEW_R7.json)."""
    from strava_data_pipeline_spark.operators.sessionize import (
        sessionize_bucketed,
    )

    events = load_table(spark, sf_dir, "events")
    s = sessionize_bucketed(events, gap_minutes=30)
    return s.groupBy("user_id", "session_seq").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


# --------------------------------------------------------------------------
# 20. events_running_total — cumulative window per user (SURVEY §2b)
# --------------------------------------------------------------------------
_RUNNING_ORACLE = """
SELECT event_id, user_id, ts,
       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS UNBOUNDED PRECEDING), 2) AS running_value
FROM events
"""


@register("events_running_total", oracle=_RUNNING_ORACLE)
def events_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative value per user over time (training-load curve)."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.sum("value").over(w), 2).alias("running_value"),
    )


# --------------------------------------------------------------------------
# 42. cdc_merge — change feed with upserts AND deletes (activities.go:247)
# --------------------------------------------------------------------------
_CDC_ORACLE = """
WITH changes AS (
    SELECT event_id, ts + INTERVAL 1 HOUR AS ts, user_id, event_type,
           value + 500.0 AS value, 'U' AS op
    FROM events WHERE event_id % 10 = 1
    UNION ALL
    SELECT event_id, ts + INTERVAL 1 HOUR AS ts, user_id, event_type,
           value, 'D' AS op
    FROM events WHERE event_id % 10 = 2
), tagged AS (
    SELECT event_id, ts, user_id, event_type, value, 'U' AS op, 0 AS _src
    FROM events
    UNION ALL
    SELECT event_id, ts, user_id, event_type, value, op, 1 FROM changes
), ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY event_id ORDER BY ts DESC, _src DESC) AS _rn
    FROM tagged
)
SELECT event_id, ts, user_id, event_type, value
FROM ranked WHERE _rn = 1 AND op != 'D'
"""


@register("cdc_merge", oracle=_CDC_ORACLE)
def cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched change-data-capture merge: the reference's
    UpdateActivity + DeleteActivity as one set-based pass. A synthetic
    feed updates every id ending in 1 and tombstones every id ending
    in 2; the merge is the same single key-shuffle as ingest_upsert,
    with delete-wins-if-newest semantics."""
    events = load_table(spark, sf_dir, "events").select(*EVENT_COLS)
    updates = (
        events.where(F.col("event_id") % 10 == 1)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
        .withColumn("value", F.col("value") + 500.0)
        .withColumn("op", F.lit("U"))
    )
    deletes = (
        events.where(F.col("event_id") % 10 == 2)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
        .withColumn("op", F.lit("D"))
    )
    return merge_cdc(
        events,
        updates.unionByName(deletes),
        keys=["event_id"],
        order_by=["ts"],
    )


# --------------------------------------------------------------------------
# 46. user_upsert — CreateUser/UpdateUser as a set-based merge (user.go:34,110)
# --------------------------------------------------------------------------
# The testdata has no users table; both engines derive the same users dim
# from customer (id, username, athlete_id, updated_at — the reference's
# users schema minus OAuth token columns, which are request-time state).
_USERS_DIM_SPARK = """
SELECT c_custkey AS id,
       lower(c_name) AS username,
       c_custkey + 100000 AS athlete_id,
       timestamp '2024-01-01 00:00:00' + make_interval(0, 0, 0, CAST(c_custkey % 365 AS INT), 0, 0, 0) AS updated_at
FROM customer
"""
_USERS_DIM_DUCK = """
SELECT c_custkey AS id,
       lower(c_name) AS username,
       c_custkey + 100000 AS athlete_id,
       TIMESTAMP '2024-01-01 00:00:00' + to_days(CAST(c_custkey % 365 AS INT)) AS updated_at
FROM customer
"""

_USER_UPSERT_ORACLE = f"""
WITH users AS ({_USERS_DIM_DUCK}),
updates AS (
    SELECT id, username || '_renamed' AS username, athlete_id,
           updated_at + INTERVAL 90 DAY AS updated_at
    FROM users WHERE id % 7 = 0
    UNION ALL
    SELECT id + 1000000, 'new_user_' || CAST(id AS VARCHAR), id + 2000000,
           TIMESTAMP '2024-12-01 00:00:00'
    FROM users WHERE id % 100 = 0
), tagged AS (
    SELECT id, username, athlete_id, updated_at, 0 AS _src FROM users
    UNION ALL
    SELECT id, username, athlete_id, updated_at, 1 FROM updates
), ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY id ORDER BY updated_at DESC, _src DESC) AS _rn
    FROM tagged
)
SELECT id, username, athlete_id, updated_at FROM ranked WHERE _rn = 1
"""


@register("user_upsert", oracle=_USER_UPSERT_ORACLE)
def user_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users-dim maintenance: the reference's CreateUser (user.go:34)
    and UpdateUser (user.go:110) as ONE set-based latest-wins merge —
    a rename batch (id % 7) plus a new-signup batch (id % 100, shifted
    key space) against the derived users dim. Same single key-shuffle
    plan as ingest_upsert."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    users = spark.sql(_USERS_DIM_SPARK)
    renames = (
        users.where(F.col("id") % 7 == 0)
        .withColumn("username", F.concat(F.col("username"), F.lit("_renamed")))
        .withColumn("updated_at", F.col("updated_at") + F.expr("INTERVAL 90 DAY"))
    )
    signups = users.where(F.col("id") % 100 == 0).select(
        (F.col("id") + 1000000).alias("id"),
        F.concat(F.lit("new_user_"), F.col("id").cast("string")).alias("username"),
        (F.col("id") + 2000000).alias("athlete_id"),
        F.lit("2024-12-01 00:00:00").cast("timestamp").alias("updated_at"),
    )
    return merge_latest_wins(
        users, renames.unionByName(signups), keys=["id"], order_by=["updated_at"]
    )


# --------------------------------------------------------------------------
# 47. user_lookup — GetUserByUsername / GetUserByAthleteID (user.go:74,92)
# --------------------------------------------------------------------------
_USER_LOOKUP_ORACLE = f"""
WITH users AS ({_USERS_DIM_DUCK})
SELECT id, username, athlete_id, updated_at
FROM users
WHERE username = 'customer#000000042' OR athlete_id = 100077
"""


@register("user_lookup", oracle=_USER_LOOKUP_ORACLE)
def user_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookups on the users dim by username and by athlete id
    (reference user.go:74, :92). The OR of two selective predicates
    stays a single scan; on a stored users table both columns would be
    bucketed/z-ordered so either predicate prunes."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    users = spark.sql(_USERS_DIM_SPARK)
    return users.where(
        (F.col("username") == "customer#000000042")
        | (F.col("athlete_id") == 100077)
    )


# --------------------------------------------------------------------------
# 52. user_token_state — GetUserByID user+token map join (strava.go:196)
# --------------------------------------------------------------------------
# saveAthlete (strava.go:156) upserts OAuth token columns onto the user
# row; GetUserByID (strava.go:196) reads them back joined with profile
# fields, and the client refreshes when token_expires_at has passed.
# Set-based re-expression: users dim ⋈ derived token dim + the expiry
# flag computed for the whole population at once.
_TOKEN_STATE_ORACLE = f"""
WITH users AS ({_USERS_DIM_DUCK}),
tokens AS (
    SELECT id AS user_id,
           md5(username || ':access') AS access_token,
           TIMESTAMP '2024-01-01 00:00:00' + to_days(CAST(id % 180 AS INT)) AS token_expires_at
    FROM users
)
SELECT u.id, u.username, u.athlete_id, t.access_token, t.token_expires_at,
       t.token_expires_at <= TIMESTAMP '2024-04-01 00:00:00' AS needs_refresh
FROM users u JOIN tokens t ON t.user_id = u.id
"""


@register("user_token_state", oracle=_TOKEN_STATE_ORACLE)
def user_token_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User ⋈ OAuth-token state with a vectorized needs-refresh flag
    (reference strava.go:156 saveAthlete, :196 GetUserByID; the
    per-request expiry check becomes one broadcast-joined column). The
    token dim is keyed by user id, so at scale this is a co-partitioned
    (or broadcast) equi-join, never a shuffle of the fact side."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    users = spark.sql(_USERS_DIM_SPARK)
    tokens = users.select(
        F.col("id").alias("user_id"),
        F.md5(F.concat(F.col("username"), F.lit(":access"))).alias("access_token"),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.make_interval(days=(F.col("id") % 180).cast("int"))
        ).alias("token_expires_at"),
    )
    return users.join(tokens, users["id"] == tokens["user_id"]).select(
        "id",
        "username",
        "athlete_id",
        "access_token",
        "token_expires_at",
        (
            F.col("token_expires_at")
            <= F.lit("2024-04-01 00:00:00").cast("timestamp")
        ).alias("needs_refresh"),
    )


# --------------------------------------------------------------------------
# 52b. token_refresh — OAuth refresh-token rotation as a CDC merge
#      (strava.go:103 RefreshToken / :133 HandleAuthCallback)
# --------------------------------------------------------------------------
# The reference refreshes one client's token imperatively: expired
# access token → authenticator.Authorize(refresh_token) → new
# access/refresh pair + new expiry saved back onto the user row
# (/root/reference/internal/strava/strava.go:103-123; saveAthlete
# strava.go:156 persists). Set-based re-expression: select every user
# whose token_expires_at has passed, derive the refresh response
# (rotated access + refresh tokens, expiry = refresh time + 6h — the
# Strava token lifetime), and latest-wins-merge the batch onto the token
# dim. One shuffle on user_id; the untouched majority rides through.
_TOKEN_REFRESH_ORACLE = f"""
WITH users AS ({_USERS_DIM_DUCK}),
base AS (
    SELECT id AS user_id,
           md5(username || ':access') AS access_token,
           md5(username || ':refresh') AS refresh_token,
           TIMESTAMP '2024-01-01 00:00:00' + to_days(CAST(id % 180 AS INT))
               AS token_expires_at,
           FALSE AS refreshed
    FROM users
), batch AS (
    SELECT user_id,
           md5(access_token || ':refreshed') AS access_token,
           md5(refresh_token || ':rotated') AS refresh_token,
           TIMESTAMP '2024-04-01 06:00:00' AS token_expires_at,
           TRUE AS refreshed
    FROM base
    WHERE token_expires_at <= TIMESTAMP '2024-04-01 00:00:00'
), tagged AS (
    SELECT *, 0 AS _src FROM base
    UNION ALL
    SELECT *, 1 FROM batch
), ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY token_expires_at DESC, _src DESC) AS _rn
    FROM tagged
)
SELECT user_id, access_token, refresh_token, token_expires_at, refreshed
FROM ranked WHERE _rn = 1
"""


@register("token_refresh", oracle=_TOKEN_REFRESH_ORACLE)
def token_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OAuth token refresh for the whole expired population in one merge
    (reference strava.go:103 RefreshToken, per-client imperative; here
    the refresh 'response' is derived deterministically and merged
    latest-wins onto the token dim via operators/upsert.py). Expired =
    token_expires_at <= the refresh instant; refreshed rows carry
    rotated access+refresh tokens and expiry = instant + 6h (Strava's
    token lifetime). At scale: one user_id shuffle, zero for a bucketed
    token dim."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    users = spark.sql(_USERS_DIM_SPARK)
    now = F.lit("2024-04-01 00:00:00").cast("timestamp")
    base = users.select(
        F.col("id").alias("user_id"),
        F.md5(F.concat(F.col("username"), F.lit(":access"))).alias("access_token"),
        F.md5(F.concat(F.col("username"), F.lit(":refresh"))).alias("refresh_token"),
        (
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + F.make_interval(days=(F.col("id") % 180).cast("int"))
        ).alias("token_expires_at"),
        F.lit(False).alias("refreshed"),
    )
    batch = base.where(F.col("token_expires_at") <= now).select(
        "user_id",
        F.md5(F.concat(F.col("access_token"), F.lit(":refreshed"))).alias(
            "access_token"
        ),
        F.md5(F.concat(F.col("refresh_token"), F.lit(":rotated"))).alias(
            "refresh_token"
        ),
        F.lit("2024-04-01 06:00:00").cast("timestamp").alias("token_expires_at"),
        F.lit(True).alias("refreshed"),
    )
    return merge_latest_wins(
        base, batch, keys=["user_id"], order_by=["token_expires_at"]
    )


# --------------------------------------------------------------------------
# 48. key_lifecycle — API-key create/deactivate/delete as CDC
#     (user_api_keys.go:64 CreateAPIKey, :111 UpdateAPIKey, :135 DeleteAPIKey)
# --------------------------------------------------------------------------
_KEY_LIFECYCLE_ORACLE = f"""
WITH base AS (
    SELECT user_id, api_key, is_active, expires_at,
           TIMESTAMP '2024-01-01 00:00:00' AS updated_at
    FROM ({_KEY_DIM_DUCK})
), changes AS (
    SELECT user_id, md5(api_key || ':v2') AS api_key, TRUE AS is_active,
           TIMESTAMP '2025-06-01 00:00:00' AS expires_at,
           TIMESTAMP '2024-07-01 00:00:00' AS updated_at, 'U' AS op
    FROM base WHERE user_id % 10 = 3
    UNION ALL
    SELECT user_id, api_key, FALSE, expires_at,
           TIMESTAMP '2024-07-01 00:00:00', 'U'
    FROM base WHERE user_id % 10 = 4
    UNION ALL
    SELECT user_id, api_key, is_active, expires_at,
           TIMESTAMP '2024-07-01 00:00:00', 'D'
    FROM base WHERE user_id % 10 = 5
    UNION ALL
    SELECT user_id + 100000, api_key, is_active, expires_at,
           TIMESTAMP '2024-07-01 00:00:00', 'U'
    FROM base WHERE user_id % 10 = 6
), tagged AS (
    SELECT user_id, api_key, is_active, expires_at, updated_at,
           'U' AS op, 0 AS _src
    FROM base
    UNION ALL
    SELECT user_id, api_key, is_active, expires_at, updated_at, op, 1
    FROM changes
), ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY api_key ORDER BY updated_at DESC, _src DESC) AS _rn
    FROM tagged
)
SELECT user_id, api_key, is_active, expires_at, updated_at
FROM ranked WHERE _rn = 1 AND op != 'D'
"""


@register("key_lifecycle", oracle=_KEY_LIFECYCLE_ORACLE)
def key_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """API-key dim mutation as one CDC merge: a create batch (new key
    per user id ending 3), a deactivation batch (id ending 4 — the key
    row survives with is_active=false, so api_key_validate rejects it),
    a delete batch (id ending 5 — tombstoned out), and a re-association
    batch (id ending 6 — the key moves to another user, the
    AssociateAPIKeyWithUser update). One key-shuffle via merge_cdc,
    reference user_api_keys.go:64/:111/:135/:161."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    base = spark.sql(_KEY_DIM_SPARK).withColumn(
        "updated_at", F.lit("2024-01-01 00:00:00").cast("timestamp")
    )
    ts7 = F.lit("2024-07-01 00:00:00").cast("timestamp")
    creates = base.where(F.col("user_id") % 10 == 3).select(
        "user_id",
        F.md5(F.concat(F.col("api_key"), F.lit(":v2"))).alias("api_key"),
        F.lit(True).alias("is_active"),
        F.lit("2025-06-01 00:00:00").cast("timestamp").alias("expires_at"),
        ts7.alias("updated_at"),
        F.lit("U").alias("op"),
    )
    deactivates = base.where(F.col("user_id") % 10 == 4).select(
        "user_id",
        "api_key",
        F.lit(False).alias("is_active"),
        "expires_at",
        ts7.alias("updated_at"),
        F.lit("U").alias("op"),
    )
    deletes = base.where(F.col("user_id") % 10 == 5).select(
        "user_id",
        "api_key",
        "is_active",
        "expires_at",
        ts7.alias("updated_at"),
        F.lit("D").alias("op"),
    )
    associates = base.where(F.col("user_id") % 10 == 6).select(
        (F.col("user_id") + 100000).alias("user_id"),
        "api_key",
        "is_active",
        "expires_at",
        ts7.alias("updated_at"),
        F.lit("U").alias("op"),
    )
    return merge_cdc(
        base,
        creates.unionByName(deactivates)
        .unionByName(deletes)
        .unionByName(associates),
        keys=["api_key"],
        order_by=["updated_at"],
    )


# --------------------------------------------------------------------------
# 54. key_lookup — ReadAPIKeyByID point read (user_api_keys.go:94)
# --------------------------------------------------------------------------
_KEY_LOOKUP_ORACLE = f"""
WITH api_keys AS ({_KEY_DIM_DUCK})
SELECT user_id, api_key, is_active, expires_at
FROM api_keys
WHERE api_key = md5('Customer#000000042')
"""


@register("key_lookup", oracle=_KEY_LOOKUP_ORACLE)
def key_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-key point read on the key dim (reference
    user_api_keys.go:94 ReadAPIKeyByID). On a stored key table the
    equality predicate reaches the scan; here the dim is derived, so
    the filter folds into the projection pipeline."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    keys = spark.sql(_KEY_DIM_SPARK)
    return keys.where(F.col("api_key") == F.md5(F.lit("Customer#000000042")))


# --------------------------------------------------------------------------
# 43. events_profile — per-column ingestion quality profile
# --------------------------------------------------------------------------
_PROFILE_ORACLE = """
SELECT 'event_id' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct FROM events
UNION ALL
SELECT 'ts', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT ts) AS BIGINT) FROM events
UNION ALL
SELECT 'user_id', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT user_id) AS BIGINT) FROM events
UNION ALL
SELECT 'event_type', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT event_type) AS BIGINT) FROM events
UNION ALL
SELECT 'value', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(count(DISTINCT value) AS BIGINT) FROM events
"""


@register("events_profile", oracle=_PROFILE_ORACLE)
def events_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-column landing profile (rows / nulls / distinct) —
    the post-sync sanity check. Exact distincts here; the 100 TB path
    is exact=False (HLL sketch, no Expand)."""
    from strava_data_pipeline_spark.operators.profiling import profile

    return profile(
        load_table(spark, sf_dir, "events").select(*EVENT_COLS), EVENT_COLS
    )


# --------------------------------------------------------------------------
# 51. events_profile_approx — the HLL path events_profile documents
# --------------------------------------------------------------------------
# Exact-checkable oracle for a sketch query: the HLL ESTIMATE itself is
# implementation-defined (Spark's HLL++ vs DuckDB's), so the hashable
# artifact is the exact anchor columns plus an in-tolerance flag the
# Spark side must earn — |hll - exact| <= max(10% of exact, 2), the
# same band the pytest gate uses.  A broken sketch flips hll_ok to
# false and the hash mismatches; the oracle side asserts TRUE.
_PROFILE_APPROX_ORACLE = f"""
SELECT column_name, n_rows, n_nulls, n_distinct, TRUE AS hll_ok
FROM ({_PROFILE_ORACLE}) exact_profile
"""


@register("events_profile_approx", oracle=_PROFILE_APPROX_ORACLE)
def events_profile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column profile with HyperLogLog distincts
    (``approx_count_distinct``) — the 100 TB path: single pass, no
    Expand, sketches merge map-side.  The registry artifact joins the
    sketch against the exact profile and emits the exact counts plus
    an ``hll_ok`` accuracy flag, making the sketch cross-engine
    checkable (the estimate value itself is implementation-defined and
    cannot hash-match another engine).  Users wanting the raw sketch
    path call ``operators.profiling.profile(df, cols, exact=False)``
    directly — that plan is the single-pass one; this query pays the
    extra exact pass only because it IS the verification harness."""
    from strava_data_pipeline_spark.operators.profiling import profile

    events = load_table(spark, sf_dir, "events").select(*EVENT_COLS)
    exact = profile(events, EVENT_COLS, exact=True)
    hll = profile(events, EVENT_COLS, exact=False).select(
        "column_name", F.col("n_distinct").alias("hll_nd")
    )
    return exact.join(F.broadcast(hll), "column_name").select(
        "column_name",
        "n_rows",
        "n_nulls",
        "n_distinct",
        (
            F.abs(F.col("hll_nd") - F.col("n_distinct"))
            <= F.greatest(F.col("n_distinct") * F.lit(0.10), F.lit(2.0))
        ).alias("hll_ok"),
    )


# --------------------------------------------------------------------------
# 78. user_activity_join_salted — the skew-mitigation path, oracle-checked
# --------------------------------------------------------------------------
@register("user_activity_join_salted", oracle=_USER_ACT_ORACLE)
def user_activity_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """user_activity_join routed through operators/skew.salted_join —
    the manual fallback for a hot athlete id that AQE's skew split
    can't flatten. Same oracle as the plain join: salting must be
    row-invisible (each left row carries exactly one deterministic
    salt; the dim side replicates 8×). Registered so the skew path is
    exercised by the correctness gate, not just unit tests."""
    from strava_data_pipeline_spark.operators.skew import salted_join

    events = load_table(spark, sf_dir, "events")
    users = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_name").alias("user_name")
    )
    return (
        salted_join(events, users, on=["user_id"], n_salts=8, how="inner")
        .groupBy("user_id", "user_name")
        .agg(
            F.count("event_id").cast("bigint").alias("n_activities"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# 79. session_stats — session-level engagement rollup
# --------------------------------------------------------------------------
_SESSION_STATS_ORACLE = """
WITH flagged AS (
    SELECT user_id, ts, event_id,
           CASE WHEN floor(epoch(ts)) - lag(floor(epoch(ts))) OVER w > 1800 THEN 1 ELSE 0 END AS new_s
    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
    SELECT user_id, ts,
           CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
    FROM flagged
), per_session AS (
    -- floor(epoch) mirrors Spark's cast(timestamp as long) whole-second
    -- truncation; raw epoch() keeps microsecond fractions here
    SELECT user_id, session_seq,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT)
               AS duration_sec
    FROM sess GROUP BY 1, 2
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(n_events) AS BIGINT) AS total_events,
       CAST(max(n_events) AS BIGINT) AS max_session_events,
       round(sum(duration_sec) * 1.0 / count(*), 2) AS avg_duration_sec,
       CAST(max(duration_sec) AS BIGINT) AS max_duration_sec
FROM per_session GROUP BY 1
"""


@register("session_stats", oracle=_SESSION_STATS_ORACLE)
def session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user engagement profile over 30-min-gap sessions: the
    two-level rollup (events → sessions → user) reuses the sessionize
    operator's single user_id partitioning for BOTH window passes and
    the final agg — one exchange end-to-end. Durations are whole-second
    bigints (epoch diff), so the only float is the final avg, derived
    from exact integers on both engines."""
    events = load_table(spark, sf_dir, "events")
    s = sessionize(events, gap_minutes=30)
    per_session = s.groupBy("user_id", "session_seq").agg(
        F.count("*").cast("bigint").alias("n_events"),
        (
            F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
        ).cast("bigint").alias("duration_sec"),
    )
    return per_session.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_sessions"),
        F.sum("n_events").cast("bigint").alias("total_events"),
        F.max("n_events").cast("bigint").alias("max_session_events"),
        F.round(F.sum("duration_sec") / F.count("*"), 2).alias("avg_duration_sec"),
        F.max("duration_sec").cast("bigint").alias("max_duration_sec"),
    )


# --------------------------------------------------------------------------
# 110. bucketed_join — co-located join through bucketed table layout
# --------------------------------------------------------------------------
# The layout-level shuffle elimination sources/layout.py::write_bucketed
# exists for: both sides land pre-hashed into the same bucket count on
# the join key, so the SortMergeJoin plans with ZERO exchanges before it
# (tests/test_plans.py pins this). At 100 TB this is the difference
# between re-shuffling the fact table on every run of a recurring join
# and shuffling it once at ingest time.
_BUCKETED_ORACLE = """
SELECT c.c_nationkey,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
       round(sum(e.value), 2) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
"""


@register("bucketed_join", oracle=_BUCKETED_ORACLE)
def bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation activity stats through a join of two BUCKETED managed
    tables (events by user_id, users by c_custkey, 8 buckets each).
    The write pays the shuffle once; the join then reads co-located
    buckets and plans SortMergeJoin with no Exchange on either side
    (the `merge` hint keeps the size-based planner from broadcasting
    the dim, which would hide the property being demonstrated). The
    only exchange in the whole plan is the final 25-group aggregate."""
    import hashlib

    from strava_data_pipeline_spark.sources.layout import write_bucketed

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:6]
    ev_name, cu_name = f"bj_events_{tag}", f"bj_users_{tag}"
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    write_bucketed(
        events.select("event_id", "user_id", "value"), ev_name, "user_id", 8
    )
    write_bucketed(
        customer.select("c_custkey", "c_nationkey"), cu_name, "c_custkey", 8
    )
    e = spark.table(ev_name)
    c = spark.table(cu_name)
    return (
        e.hint("merge")
        .join(c, e["user_id"] == c["c_custkey"])
        .groupBy("c_nationkey")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# 112. zorder_curve — the Morton key behind multi-dimensional clustering
# --------------------------------------------------------------------------
def _zorder_oracle() -> str:
    from strava_data_pipeline_spark.sources.layout import zvalue_duckdb

    z = zvalue_duckdb("user_id", "CAST(floor(value) AS BIGINT)", bits=16)
    return f"""
SELECT event_id, user_id,
       CAST(floor(value) AS BIGINT) AS v_int,
       {z} AS zval
FROM events
"""


@register("zorder_curve", oracle=_zorder_oracle())
def zorder_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Z-order (Morton) clustering key over (user_id, value):
    pure shift/and bit interleaving, zero shuffles, one codegen span —
    sources/layout.py::zorder_write range-partitions and sorts on this
    key so parquet min/max stats prune box predicates on BOTH columns
    (tests/test_layout.py measures the file-skip). The curve itself is
    engine-portable integer arithmetic, hash-checked against DuckDB."""
    from strava_data_pipeline_spark.sources.layout import zvalue

    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        "user_id",
        F.floor("value").cast("bigint").alias("v_int"),
        zvalue(F.col("user_id"), F.floor("value").cast("bigint"), bits=16).alias(
            "zval"
        ),
    )


# --------------------------------------------------------------------------
# 116. user_erasure — right-to-be-forgotten cascade audit
# --------------------------------------------------------------------------
# The reference deletes a user row (internal/db/user.go:125 DeleteUser)
# and leaves activity rows to a foreign-key cascade. At pipeline scale
# erasure is a cross-table job: an erasure list (here: the determinis-
# tic audit cohort custkey % 50 = 7) anti-joined against every table
# holding that subject's rows, with a per-table audit record proving
# completeness. The erasure list is dimension-sized -> broadcast to
# every fact scan; each table contributes ONE scan with a conditional
# count (no separate before/after passes), and the audit output is
# O(#tables). The same broadcast-anti-join shape applied as a writer
# (df.join(ids, ..., "left_anti") per partition) is the actual delete;
# this query is its dry-run accounting.
_ERASURE_ORACLE = """
WITH ids AS (SELECT c_custkey AS user_id FROM customer WHERE c_custkey % 50 = 7),
ev AS (
    SELECT 'events' AS table_name,
           CAST(count(*) AS BIGINT) AS rows_before,
           CAST(count(*) FILTER (WHERE i.user_id IS NOT NULL) AS BIGINT)
               AS rows_erased
    FROM events e LEFT JOIN ids i ON e.user_id = i.user_id
), cu AS (
    SELECT 'users' AS table_name,
           CAST(count(*) AS BIGINT) AS rows_before,
           CAST(count(*) FILTER (WHERE i.user_id IS NOT NULL) AS BIGINT)
               AS rows_erased
    FROM customer c LEFT JOIN ids i ON c.c_custkey = i.user_id
), o AS (
    SELECT 'orders' AS table_name,
           CAST(count(*) AS BIGINT) AS rows_before,
           CAST(count(*) FILTER (WHERE i.user_id IS NOT NULL) AS BIGINT)
               AS rows_erased
    FROM orders r LEFT JOIN ids i ON r.o_custkey = i.user_id
)
SELECT table_name, rows_before, rows_erased,
       rows_before - rows_erased AS rows_after
FROM (SELECT * FROM ev UNION ALL SELECT * FROM cu UNION ALL SELECT * FROM o)
"""


@register("user_erasure", oracle=_ERASURE_ORACLE)
def user_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erasure-cascade audit: broadcast the erasure-subject id list to
    events, the users dim, and orders; count kept vs erased rows in a
    single conditional-aggregate scan per table (left join to the
    broadcast list, no second pass). Emits the per-table audit record a
    deletion job must produce. Cites reference internal/db/user.go:125
    (DeleteUser) — the FK cascade, made explicit and measurable.

    The matching WRITE path is ``sources.versioned.erase_keys``: the
    same broadcast anti-join applied per versioned table, rewriting
    only the partitions that hold the subject's rows (manifest reuse
    for the rest, manifest drop for fully-erased partitions) — run it
    per table in this audit, then ``vacuum`` to make erasure physical."""
    ids = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 50 == 7)
        .select(F.col("c_custkey").alias("uid"), F.lit(1).alias("hit"))
    )

    def audit(df: DataFrame, key: str, name: str) -> DataFrame:
        return (
            df.join(F.broadcast(ids), df[key] == ids["uid"], "left")
            .agg(
                F.count("*").cast("bigint").alias("rows_before"),
                F.count("hit").cast("bigint").alias("rows_erased"),
            )
            .select(
                F.lit(name).alias("table_name"),
                "rows_before",
                "rows_erased",
                (F.col("rows_before") - F.col("rows_erased")).alias("rows_after"),
            )
        )

    ev = audit(load_table(spark, sf_dir, "events"), "user_id", "events")
    cu = audit(load_table(spark, sf_dir, "customer"), "c_custkey", "users")
    o = audit(load_table(spark, sf_dir, "orders"), "o_custkey", "orders")
    return ev.unionByName(cu).unionByName(o)


# --------------------------------------------------------------------------
# 124. snapshot_diff — CDF read between two committed versions, official
# --------------------------------------------------------------------------
# The streaming tier's CDF consumer (streaming/cdf.py) is pytest-only by
# nature; this is its batch twin made driver-checkable: two snapshots of
# the events table are derived by deterministic arithmetic (so DuckDB
# can derive the identical pair), committed through the REAL versioned
# store (sources/versioned.py — marker files, time-travel read), and
# diffed with sources.versioned.snapshot_diff. The oracle recomputes the
# full-outer row compare directly over the same derivations.
#   v1 (old): events minus every event_id divisible by 7
#   v2 (new): events minus every event_id divisible by 5,
#             with value+10.0 where event_id divisible by 3
# → inserts  = %7==0 ∧ %5!=0, deletes = %5==0 ∧ %7!=0,
#   updates  = %3==0 ∧ %5!=0 ∧ %7!=0. Struct sides are flattened to
# scalar old_*/new_* columns so the driver canonicalizer can hash rows.
_SNAPDIFF_ORACLE = """
WITH o AS (
    SELECT * FROM events WHERE event_id % 7 <> 0
), n AS (
    SELECT event_id, ts, user_id, event_type,
           CASE WHEN event_id % 3 = 0 THEN value + 10.0 ELSE value END AS value
    FROM events WHERE event_id % 5 <> 0
)
SELECT coalesce(n.event_id, o.event_id) AS event_id,
       CASE WHEN o.event_id IS NULL THEN 'insert'
            WHEN n.event_id IS NULL THEN 'delete'
            ELSE 'update' END AS change,
       o.ts AS old_ts, o.user_id AS old_user_id,
       o.event_type AS old_event_type, o.value AS old_value,
       n.ts AS new_ts, n.user_id AS new_user_id,
       n.event_type AS new_event_type, n.value AS new_value
FROM o FULL OUTER JOIN n ON o.event_id = n.event_id
WHERE o.event_id IS NULL OR n.event_id IS NULL
   OR o.ts IS DISTINCT FROM n.ts
   OR o.user_id IS DISTINCT FROM n.user_id
   OR o.event_type IS DISTINCT FROM n.event_type
   OR o.value IS DISTINCT FROM n.value
"""


@register("snapshot_diff", oracle=_SNAPDIFF_ORACLE)
def snapshot_diff_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level change feed between two committed snapshot versions —
    the batch CDF read Delta/Iceberg expose, over this repo's own
    versioned store. The query is END-TO-END: it derives two event
    snapshots, commits both through sources/versioned.py (data dir +
    atomic marker), reads them back via time travel, and classifies
    every key insert/delete/update with a full outer join on the key.
    O(table) here, O(changes)+O(table join) in general; at 100 TB both
    snapshots come from the same bucketed layout so the CDF join is
    exchange-free (sources/layout.py). The store root is deterministic
    per sf_dir and rebuilt per call, so re-runs are idempotent."""
    import hashlib
    import shutil

    from strava_data_pipeline_spark.sources.versioned import (
        commit_snapshot,
        snapshot_diff,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:6]
    root = f"spark-warehouse/_snapdiff_{tag}"
    shutil.rmtree(root, ignore_errors=True)

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    v_old = commit_snapshot(events.where(F.col("event_id") % 7 != 0), root)
    v_new = commit_snapshot(
        events.where(F.col("event_id") % 5 != 0).withColumn(
            "value",
            F.when(
                F.col("event_id") % 3 == 0, F.col("value") + F.lit(10.0)
            ).otherwise(F.col("value")),
        ),
        root,
    )
    diff = snapshot_diff(spark, root, v_old, v_new, key="event_id")
    return diff.select(
        "event_id",
        "change",
        F.col("old.ts").alias("old_ts"),
        F.col("old.user_id").alias("old_user_id"),
        F.col("old.event_type").alias("old_event_type"),
        F.col("old.value").alias("old_value"),
        F.col("new.ts").alias("new_ts"),
        F.col("new.user_id").alias("new_user_id"),
        F.col("new.event_type").alias("new_event_type"),
        F.col("new.value").alias("new_value"),
    )
