"""Driver-hashable streaming faces, second pack (r8, SURVEY.md §2
rows 197-200): each query runs a REAL Structured-Streaming component
from strava_data_pipeline_spark/streaming/ over a deterministic feed
derived from the events table, then hashes the COMMITTED artifacts
against a batch SQL oracle — the quarantine_audit pattern. A wrong
merge, a dropped/duplicated row, a mis-finalized window, or a
clobbered untouched partition is a hash mismatch on the landed
parquet, not just a pytest assertion.

Determinism disciplines (one per face, documented per query):
- latest-wins sync: corrections carry a STRICTLY later timestamp on
  the same calendar day, so the winner is batch-order independent.
- windowed counts: time-sliced mtime-ordered batches keep the
  watermark monotonic; sentinel flush batches finalize every real
  window (aggregation state only flushes in a batch that runs AFTER
  the watermark advanced — the attribution_audit two-run shape).
- stream dedup: planted re-deliveries stay within the lateness bound
  (same batch, or the next batch's within-watermark head), because a
  dup arriving past state eviction is ALLOWED to pass (the documented
  degrade the downstream upsert absorbs) and would be nondeterminism
  here.
- session windows: native F.session_window state finalizes like any
  watermark aggregation (flush batches again); the oracle is the
  batch gap-sessionize arithmetic with end = last event + gap, and
  the exact-gap boundary (merge, not break — verified by a planted
  test) matches the batch sessionize contract.

The ProcessingTimeTimeout sessionizer (streaming/stateful.py::
track_sessions) stays pytest-only BY DESIGN — wall-clock trigger
cadence has no deterministic oracle — but its EVENT-TIME twin
(track_sessions_event_time, same gap semantics, watermark-driven
closes) is fully hashable: `stateful_session_audit` (row 207) runs the
real custom operator end to end.
"""

from __future__ import annotations

import hashlib
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from strava_data_pipeline_spark.plans.registry import register
from strava_data_pipeline_spark.sources.catalog import load_table
from strava_data_pipeline_spark.streaming.tuning import stream_tuned

_FLUSH_TYPE = "__flush"


def _mkroot(sf_dir: str, name: str) -> str:
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:6]
    root = f"spark-warehouse/_{name}_{tag}"
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "landing"))
    return root


def _land(landing: str, df: DataFrame, mtime: int) -> None:
    """One parquet file per call, mtime pinned: the file source orders
    pending files by modification time, and equal mtimes would leave
    batch order to listing luck (load-bearing for watermarked feeds)."""
    before = set(os.listdir(landing))
    df.coalesce(1).write.mode("append").parquet(landing)
    for f in set(os.listdir(landing)) - before:
        if f.endswith(".parquet"):
            os.utime(os.path.join(landing, f), (mtime, mtime))


def _land_many(landing: str, staged: list[tuple[DataFrame, int]]) -> None:
    """Land every (df, mtime) slice CONCURRENTLY — same one-file-per-
    batch, pinned-mtime contract as :func:`_land`.

    Each slice write is a single-task job (``coalesce(1)`` collapses
    the slice's scan+filter into one task), so landing k slices
    serially pays k full job latencies while 31 cores idle. The slices
    are independent, so a small thread pool submits them together
    (optimization guide §2.6 — concurrent jobs back-fill the idle
    executors); each job writes to a private staging dir and the files
    MOVE into ``landing`` afterward, so the mtime pinning never races
    another writer's listdir diff. Batch ORDER is carried entirely by
    the pinned mtimes, not by write completion order."""
    from concurrent.futures import ThreadPoolExecutor

    def write_one(item: tuple[int, tuple[DataFrame, int]]) -> None:
        i, (df, mtime) = item
        tmp = os.path.join(landing, f"_stage_{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        moved = 0
        for f in os.listdir(tmp):
            if f.endswith(".parquet"):
                dst = os.path.join(landing, f)
                os.replace(os.path.join(tmp, f), dst)
                os.utime(dst, (mtime, mtime))
                moved += 1
        shutil.rmtree(tmp, ignore_errors=True)
        if moved != 1:
            raise RuntimeError(
                f"slice {i}: expected exactly one parquet file, got {moved}"
            )

    with ThreadPoolExecutor(max_workers=min(8, len(staged))) as pool:
        # list() re-raises the first worker exception
        list(pool.map(write_one, enumerate(staged)))


def _stream(spark: SparkSession, landing: str) -> DataFrame:
    from strava_data_pipeline_spark.streaming.sync import EVENT_SCHEMA

    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )


def _event_cols(df: DataFrame) -> DataFrame:
    from strava_data_pipeline_spark.streaming.sync import EVENT_SCHEMA

    return df.select(*[f.name for f in EVENT_SCHEMA.fields])


def _time_slices(ev: DataFrame, k: int = 4) -> list[DataFrame]:
    """k contiguous epoch-range slices — the order a real feed lands."""
    lo, hi = ev.agg(
        F.min(F.col("ts").cast("long")), F.max(F.col("ts").cast("long"))
    ).first()
    step = (hi - lo) // k + 1
    return [
        ev.where(
            (F.col("ts").cast("long") >= lo + i * step)
            & (F.col("ts").cast("long") < lo + (i + 1) * step)
        )
        for i in range(k)
    ], hi


def _flush_row(spark: SparkSession, epoch_s: int) -> DataFrame:
    from datetime import datetime, timezone

    from strava_data_pipeline_spark.functions.local_frames import (
        one_slice_frame,
    )
    from strava_data_pipeline_spark.streaming.sync import EVENT_SCHEMA

    t = datetime.fromtimestamp(epoch_s, tz=timezone.utc).replace(tzinfo=None)
    return one_slice_frame(
        spark, [(-1, t, -1, _FLUSH_TYPE, 0.0)], EVENT_SCHEMA
    )


# --------------------------------------------------------------------------
# 197. sync_audit — the reference's core semantic, proven on disk
# --------------------------------------------------------------------------
# Latest-wins incremental upsert into a day-partitioned target
# (streaming/sync.py = the Spark-native ON CONFLICT (id) DO UPDATE of
# /root/reference/internal/db/activities.go:99 + the 24h-lookback sync
# ticker of strava.go:261). Corrections re-deliver event_id % 13 == 0
# rows with value + 1000 at 23:59:59 of the SAME calendar day — a
# strictly later timestamp (rows already at/after that instant are
# excluded from the correction set), so the merge winner is
# batch-ORDER independent and the correction stays in its original day
# partition (the documented sync contract: a correction record keeps
# its event's calendar day).
_SYNC_AUDIT_ORACLE = """
WITH marked AS (
    SELECT *,
           CAST(CAST(ts AS DATE) AS TIMESTAMP) + INTERVAL 86399 SECOND
             AS day_end,
           event_id % 13 = 0 AS cand
    FROM events
)
SELECT event_id,
       CASE WHEN cand AND epoch_us(ts) < epoch_us(day_end)
            THEN day_end ELSE ts END AS ts,
       user_id, event_type,
       CASE WHEN cand AND epoch_us(ts) < epoch_us(day_end)
            THEN value + 1000.0 ELSE value END AS value,
       CAST(ts AS DATE) AS p_day
FROM marked
"""


@register("sync_audit", oracle=_SYNC_AUDIT_ORACLE)
@stream_tuned
def sync_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end audit of the incremental sync sink: land the event
    table as four id-split micro-batches plus a CORRECTION batch
    (same event_id, strictly later same-day timestamp, value + 1000),
    run the REAL foreachBatch latest-wins merge
    (streaming/sync.py::start_incremental_sync — reads only the
    batch's day dirs, merges them straight into a dynamic-partition
    overwrite with no checkpoint, one merge code path shared with
    batch ingestion), and hash the committed day-partitioned table.
    A double-applied merge, a lost correction, a tie broken the wrong
    way, or a dynamic overwrite that clobbers an untouched day is a
    hash mismatch. Batch order is deliberately NOT controlled beyond
    distinct mtimes: the planted corrections are strictly-later by
    construction, so any arrival order must converge to the same
    table — that order-independence IS part of the audited contract."""
    from strava_data_pipeline_spark.streaming.sync import (
        start_incremental_sync,
    )

    root = _mkroot(sf_dir, "syncaudit")
    landing = os.path.join(root, "landing")
    target = os.path.join(root, "target")
    ckpt = os.path.join(root, "ckpt")

    ev = load_table(spark, sf_dir, "events")
    day_end = F.to_timestamp(F.to_date("ts")) + F.expr(
        "INTERVAL 86399 SECONDS"
    )
    corrections = (
        ev.where(
            (F.col("event_id") % 13 == 0)
            & (F.unix_micros("ts") < F.unix_micros(day_end))
        )
        .withColumn("ts", day_end)
        .withColumn("value", F.col("value") + F.lit(1000.0))
    )
    _land_many(
        landing,
        [
            (_event_cols(ev.where(F.col("event_id") % 4 == k)), 1_000_000 + k)
            for k in range(4)
        ]
        + [(_event_cols(corrections), 1_000_004)],
    )

    start_incremental_sync(
        _stream(spark, landing), target, ckpt
    ).awaitTermination()

    t = spark.read.parquet(target)
    return t.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        "ts",
        F.col("user_id").cast("bigint").alias("user_id"),
        "event_type",
        F.col("value").cast("double").alias("value"),
        F.col("p_day").cast("date").alias("p_day"),
    )


# --------------------------------------------------------------------------
# 198. windowed_counts_audit — watermarked tumbling aggregation on disk
# --------------------------------------------------------------------------
_WINCOUNT_ORACLE = """
SELECT CAST(floor(epoch(ts)) AS BIGINT) // 600 * 600 AS window_start,
       CAST(floor(epoch(ts)) AS BIGINT) // 600 * 600 + 600 AS window_end,
       event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2, 3
"""


@register("windowed_counts_audit", oracle=_WINCOUNT_ORACLE)
@stream_tuned
def windowed_counts_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end audit of the watermarked tumbling-window aggregation
    (streaming/windowed.py::windowed_type_counts, 10-min windows,
    60-min lateness, append mode): land four TIME-SLICED micro-batches
    (epoch-aligned slices, mtimes ordered — a window's rows never
    arrive behind the watermark), finalize every real window with two
    sentinel flush batches (append-mode aggregation state flushes only
    in a batch that RUNS with the advanced watermark — flush 2's
    micro-batch, inside the same availableNow run since
    maxFilesPerTrigger=1 gives every file its own batch boundary), and
    hash the committed windows
    against the batch GROUP BY over the same 10-minute epoch buckets.
    A window emitted early (non-final counts), twice, or never is a
    hash mismatch. The sentinel's own (unfinalized) window filters out
    by its event_type."""
    from strava_data_pipeline_spark.streaming.windowed import (
        windowed_type_counts,
    )

    root = _mkroot(sf_dir, "wincount")
    landing = os.path.join(root, "landing")
    target = os.path.join(root, "target")
    ckpt = os.path.join(root, "ckpt")

    ev = load_table(spark, sf_dir, "events")
    slices, hi = _time_slices(ev)

    def run_once() -> None:
        (
            windowed_type_counts(_stream(spark, landing))
            .writeStream.format("parquet")
            .option("path", target)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    # Both flushes mtime-staged, ONE availableNow run: with
    # maxFilesPerTrigger=1 each file is its own micro-batch and the
    # watermark advances between batches, so flush 2's batch already
    # runs with flush 1's advanced watermark and finalizes every real
    # window — the second run the old shape paid for (checkpoint +
    # state-store reload) bought nothing the in-run batch boundary
    # doesn't provide. Same committed rows, same oracle hash.
    _land_many(
        landing,
        [(_event_cols(sl), 1_000_000 + k) for k, sl in enumerate(slices)]
        + [
            (_flush_row(spark, hi + 864_000), 1_000_010),
            (_flush_row(spark, hi + 1_728_000), 1_000_020),
        ],
    )
    run_once()

    # Window bounds go out as epoch-second BIGINTs on BOTH sides: DuckDB's
    # to_timestamp() yields TIMESTAMP WITH TIME ZONE, which the driver's
    # schema comparator (correctly) refuses to equate with Spark's naive
    # TIMESTAMP — the r8 red for this face. Integers have no tz to disagree
    # about.
    return spark.read.parquet(target).where(
        F.col("event_type") != _FLUSH_TYPE
    ).select(
        F.unix_seconds("window_start").alias("window_start"),
        F.unix_seconds("window_end").alias("window_end"),
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("total_value").cast("double").alias("total_value"),
    )


# --------------------------------------------------------------------------
# 199. dedup_stream_audit — in-flight re-delivery drop on disk
# --------------------------------------------------------------------------
_SDEDUP_ORACLE = """
SELECT event_id, ts, user_id, event_type, value FROM events
"""


@register("dedup_stream_audit", oracle=_SDEDUP_ORACLE)
@stream_tuned
def dedup_stream_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end audit of streaming deduplication
    (streaming/dedup.py::dedup_stream —
    ``dropDuplicatesWithinWatermark`` on event_id, 60-min lateness):
    land four time-sliced batches where (a) event_id % 7 == 0 rows are
    duplicated WITHIN their own batch file and (b) each slice's last
    30 minutes of rows are re-delivered at the head of the NEXT batch
    — both re-delivery shapes land inside the lateness bound, where
    the drop is guaranteed (a dup past state eviction is ALLOWED to
    pass by contract; the downstream latest-wins upsert absorbs it —
    planting one would audit nondeterminism). The committed sink must
    hash to exactly the original event table: a missed drop lands a
    duplicate row, an over-aggressive drop loses one. No flush batches:
    dropDuplicates emits first deliveries immediately (state only
    blocks future copies), so append mode commits every kept row in
    its own batch."""
    from strava_data_pipeline_spark.streaming.dedup import dedup_stream

    root = _mkroot(sf_dir, "sdedup")
    landing = os.path.join(root, "landing")
    target = os.path.join(root, "target")
    ckpt = os.path.join(root, "ckpt")

    ev = load_table(spark, sf_dir, "events")
    lo, _hi = ev.agg(
        F.min(F.col("ts").cast("long")), F.max(F.col("ts").cast("long"))
    ).first()
    step = (_hi - lo) // 4 + 1
    slices = [
        ev.where(
            (F.col("ts").cast("long") >= lo + i * step)
            & (F.col("ts").cast("long") < lo + (i + 1) * step)
        )
        for i in range(4)
    ]
    # all four per-slice maxima in ONE aggregation job (conditional
    # maxes over the shared scan) instead of one .first() job per slice
    bounds = list(
        ev.agg(
            *[
                F.max(
                    F.when(
                        (F.col("ts").cast("long") >= lo + i * step)
                        & (F.col("ts").cast("long") < lo + (i + 1) * step),
                        F.col("ts").cast("long"),
                    )
                )
                for i in range(4)
            ]
        ).first()
    )
    staged = []
    for k, sl in enumerate(slices):
        batch = _event_cols(sl)
        dups = _event_cols(sl.where(F.col("event_id") % 7 == 0))
        if k > 0 and bounds[k - 1] is not None:
            tail = slices[k - 1].where(
                F.col("ts").cast("long") > bounds[k - 1] - 1800
            )
            dups = dups.unionByName(_event_cols(tail))
        staged.append((batch.unionByName(dups), 1_000_000 + k))
    _land_many(landing, staged)

    (
        dedup_stream(_stream(spark, landing))
        .writeStream.format("parquet")
        .option("path", target)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

    return spark.read.parquet(target).select(
        F.col("event_id").cast("bigint").alias("event_id"),
        "ts",
        F.col("user_id").cast("bigint").alias("user_id"),
        "event_type",
        F.col("value").cast("double").alias("value"),
    )


# --------------------------------------------------------------------------
# 200. session_window_audit — native session windows on disk
# --------------------------------------------------------------------------
# Oracle = the batch gap-sessionize arithmetic AT NATIVE PRECISION:
# F.session_window compares FULL-MICROSECOND gaps (merge iff
# ts - prev <= gap in µs; the exact-gap merge pinned by pytest is the
# µs-equality case), unlike the repo's cast-as-long session convention
# — a pair whose floor-second gap is exactly 1800 but whose µs gap
# exceeds 1800.0s SPLITS natively. The mult=10 rehearsal feed contains
# two such pairs and caught the old floor-second oracle two sessions
# short; every other session face keeps the floor convention because
# its OPERATOR does. A session's window runs [min(ts), max(ts) + gap).
_SESSWIN_ORACLE = """
WITH flagged AS (
    SELECT user_id, ts, value, event_id,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                THEN 1 ELSE 0 END AS new_s
    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
    SELECT user_id, ts, value,
           CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
    FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS total_value
FROM sess GROUP BY user_id, session_seq
"""


@register("session_window_audit", oracle=_SESSWIN_ORACLE)
@stream_tuned
def session_window_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end audit of NATIVE streaming session windows
    (streaming/windowed.py::session_window_stats — F.session_window
    merges events closer than the 30-min gap inside the state store,
    closed sessions append once the watermark passes their end): four
    time-sliced batches + two sentinel flushes, committed sessions
    hashed against the batch gap-sessionize SQL with session_end =
    last event + gap. A session split on a batch boundary, merged
    across a real gap, emitted before its close, or emitted twice is
    a hash mismatch.

    Boundary semantics pinned by the oracle AND by a planted test
    (tests/test_streaming.py::test_session_window_exact_gap_boundary):
    F.session_window MERGES an event arriving EXACTLY gap after the
    previous one, where "exactly" is FULL-MICROSECOND equality — the
    native operator compares µs gaps, so a pair with floor-second gap
    1800 but µs gap 1800.0xx s splits natively; the oracle encodes the
    µs contract (epoch_us), unlike the floor-second convention of the
    faces whose OPERATORS truncate (sessionize, the custom stateful
    twin). The mult=10 rehearsal feed carries two such boundary pairs
    and distinguishes the conventions."""
    from strava_data_pipeline_spark.streaming.windowed import (
        session_window_stats,
    )

    root = _mkroot(sf_dir, "sesswin")
    landing = os.path.join(root, "landing")
    target = os.path.join(root, "target")
    ckpt = os.path.join(root, "ckpt")

    ev = load_table(spark, sf_dir, "events")
    slices, hi = _time_slices(ev)

    def run_once() -> None:
        (
            session_window_stats(_stream(spark, landing))
            .writeStream.format("parquet")
            .option("path", target)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    # single availableNow run, both flushes mtime-staged — see
    # windowed_counts_audit's note (maxFilesPerTrigger=1 gives flush 2
    # a batch with flush 1's advanced watermark in-run)
    _land_many(
        landing,
        [(_event_cols(sl), 1_000_000 + k) for k, sl in enumerate(slices)]
        + [
            (_flush_row(spark, hi + 864_000), 1_000_010),
            (_flush_row(spark, hi + 1_728_000), 1_000_020),
        ],
    )
    run_once()

    return spark.read.parquet(target).where(F.col("user_id") >= 0).select(
        F.col("user_id").cast("bigint").alias("user_id"),
        "session_start",
        "session_end",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("total_value").cast("double").alias("total_value"),
    )


# --------------------------------------------------------------------------
# 201. enrich_audit — stream-static enrichment on disk
# --------------------------------------------------------------------------
_ENRICH_ORACLE = """
SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value,
       c.c_name AS user_name
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
"""


@register("enrich_audit", oracle=_ENRICH_ORACLE)
# deliberately NOT @stream_tuned: a stateless stream has no state store
# to over-shard, and the per-batch broadcast join wants analytics width
def enrich_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end audit of stream-static enrichment
    (streaming/enrich.py::enrich_with_users — per-micro-batch
    broadcast left join to the customer dim, the streaming shape of
    the reference's query-time user join, api.go:107): four id-split
    micro-batches through the real sink, committed rows hashed against
    the batch LEFT JOIN. Left semantics are part of the contract — an
    event from an unknown athlete must flow through with a NULL name,
    not vanish (an inner-join slip upstream would change the row count
    AND the hash). Order-insensitive (a pure per-row join), so no
    mtime or flush choreography is needed."""
    from strava_data_pipeline_spark.streaming.enrich import (
        enrich_with_users,
    )

    root = _mkroot(sf_dir, "enrich")
    landing = os.path.join(root, "landing")
    target = os.path.join(root, "target")
    ckpt = os.path.join(root, "ckpt")

    ev = load_table(spark, sf_dir, "events")
    _land_many(
        landing,
        [
            (_event_cols(ev.where(F.col("event_id") % 4 == k)), 1_000_000 + k)
            for k in range(4)
        ],
    )

    users = load_table(spark, sf_dir, "customer")
    (
        enrich_with_users(_stream(spark, landing), users)
        .writeStream.format("parquet")
        .option("path", target)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

    return spark.read.parquet(target).select(
        F.col("event_id").cast("bigint").alias("event_id"),
        "ts",
        F.col("user_id").cast("bigint").alias("user_id"),
        "event_type",
        F.col("value").cast("double").alias("value"),
        "user_name",
    )


# --------------------------------------------------------------------------
# 202. ewma_audit — custom-stateful exact-rational EWMA on disk
# --------------------------------------------------------------------------
def _ewma_oracle() -> str:
    from strava_data_pipeline_spark.plans.timeseries_queries import (
        _EWMA_ORACLE,
    )

    return _EWMA_ORACLE


@register("ewma_audit", oracle=_ewma_oracle())
@stream_tuned(width=16)  # applyInPandasWithState compute wants parallelism
def ewma_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end audit of the custom stateful EWMA operator
    (streaming/ewma.py::ewma_stream, applyInPandasWithState — per-user
    trailing-7 BIGINT cent state, exact-rational (num, den) output):
    the SAME oracle as the batch events_ewma query, because the
    streaming contract is row-identity with the batch operator under
    an append-ordered feed. Four TIME-SLICED mtime-ordered batches
    supply that order (the incremental-sync landing contract); within
    a batch the update fn sorts each group by (ts, event_id) itself.
    No flush batches: the operator emits per arriving event and its
    state never times out. A chunk-order slip, a state shift bug, or a
    checkpoint-resume double-emission lands in the hash. The float
    column is round(num/den, 6) over identical exact BIGINTs — the
    same cross-engine contract the batch face already proves."""
    from strava_data_pipeline_spark.streaming.ewma import start_ewma_sink

    root = _mkroot(sf_dir, "ewma")
    landing = os.path.join(root, "landing")
    target = os.path.join(root, "target")
    ckpt = os.path.join(root, "ckpt")

    ev = load_table(spark, sf_dir, "events")
    slices, _hi = _time_slices(ev)
    _land_many(
        landing,
        [(_event_cols(sl), 1_000_000 + k) for k, sl in enumerate(slices)],
    )

    start_ewma_sink(
        _stream(spark, landing), target, ckpt
    ).awaitTermination()

    return spark.read.parquet(target).select(
        F.col("event_id").cast("bigint").alias("event_id"),
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("ewma_num").cast("bigint").alias("ewma_num"),
        F.col("ewma_den").cast("bigint").alias("ewma_den"),
        F.col("ewma_cents").cast("double").alias("ewma_cents"),
    )


# --------------------------------------------------------------------------
# 203. versioned_sink_audit — exactly-once snapshot history on disk
# --------------------------------------------------------------------------
_VSINK_ORACLE = """
WITH marked AS (
    SELECT *,
           CAST(CAST(ts AS DATE) AS TIMESTAMP) + INTERVAL 86399 SECOND
             AS day_end,
           event_id % 13 = 0 AS cand
    FROM events
)
SELECT event_id,
       CASE WHEN cand AND epoch_us(ts) < epoch_us(day_end)
            THEN day_end ELSE ts END AS ts,
       user_id, event_type,
       CASE WHEN cand AND epoch_us(ts) < epoch_us(day_end)
            THEN value + 1000.0 ELSE value END AS value,
       CAST(ts AS DATE) AS p_day,
       CAST(5 AS BIGINT) AS n_versions
FROM marked
"""


@register("versioned_sink_audit", oracle=_VSINK_ORACLE)
@stream_tuned
def versioned_sink_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end audit of the exactly-once versioned snapshot sink
    (streaming/versioned_sink.py — per-batch latest-wins merge
    published as a committed version via the partition-manifest
    protocol, replays short-circuited by batch markers): the sync_audit
    feed (four id-split batches + a strictly-later same-day correction
    batch) through the REAL partition-scoped sink, then a full REPLAY
    of the whole stream from a rebuilt checkpoint under the SAME
    app_id — every batch id re-fires and every one must be swallowed
    by its marker. The hash covers BOTH contracts at once: the latest
    committed snapshot's rows (read through the version manifest, the
    same read path time travel uses) must equal the batch latest-wins
    CASE expression, and the constant n_versions column must equal
    exactly 5 — one version per applied batch, ZERO added by the
    replay. A double-applied batch, a replay that re-merges (6+
    versions), or a manifest that drops an untouched day partition is
    a hash mismatch on committed artifacts."""
    from strava_data_pipeline_spark.sources import versioned as V
    from strava_data_pipeline_spark.streaming.versioned_sink import (
        start_versioned_sink,
    )

    root = _mkroot(sf_dir, "vsink")
    landing = os.path.join(root, "landing")
    store = os.path.join(root, "store")
    ckpt = os.path.join(root, "ckpt")

    ev = load_table(spark, sf_dir, "events")
    day_end = F.to_timestamp(F.to_date("ts")) + F.expr(
        "INTERVAL 86399 SECONDS"
    )
    corrections = (
        ev.where(
            (F.col("event_id") % 13 == 0)
            & (F.unix_micros("ts") < F.unix_micros(day_end))
        )
        .withColumn("ts", day_end)
        .withColumn("value", F.col("value") + F.lit(1000.0))
    )
    _land_many(
        landing,
        [
            (_event_cols(ev.where(F.col("event_id") % 4 == k)), 1_000_000 + k)
            for k in range(4)
        ]
        + [(_event_cols(corrections), 1_000_004)],
    )

    def run_once(checkpoint: str) -> None:
        start_versioned_sink(
            _stream(spark, landing),
            store,
            checkpoint,
            partition_col="p_day",
            app_id="vsink_audit",
        ).awaitTermination()

    run_once(ckpt)
    # the crash-after-commit-before-checkpoint replay, at full-stream
    # width: a rebuilt checkpoint re-fires batch ids 0..4 under the
    # same app_id — the markers must swallow every one
    run_once(ckpt + "_replay")

    ver = V.current_version(spark, store)
    snap = V.read_snapshot(spark, store)
    return snap.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        "ts",
        F.col("user_id").cast("bigint").alias("user_id"),
        "event_type",
        F.col("value").cast("double").alias("value"),
        F.col("p_day").cast("date").alias("p_day"),
        F.lit(int(ver)).cast("bigint").alias("n_versions"),
    )


# --------------------------------------------------------------------------
# 204. dedup_index_audit — the streaming dedup index, replayed in SQL
# --------------------------------------------------------------------------
def _dedup_index_oracle(n_batches: int = 4, threshold: float = 0.75) -> str:
    """Chained oracle that REPLAYS the sequential index semantics: per
    batch level k, the band table is built from (signatures of every
    doc KEPT so far) ∪ (batch k's signatures), hot buckets capped over
    that full table, and a batch doc drops on est >= threshold against
    an index doc (any id) or an earlier batch doc (lower id) — the
    exact verdict rules of operators/dedup.minhash_incremental_pairs,
    applied four times with the kept set threaded through. Dropped
    docs' signatures never enter later levels, which is the property
    a one-shot oracle cannot express."""
    from strava_data_pipeline_spark.functions.hashing import (
        MINHASH_PRIME,
        md5_u32_duckdb,
        perm_params,
    )
    from strava_data_pipeline_spark.operators import dedup as D
    from strava_data_pipeline_spark.plans.prelude import DUCK_SHINGLES, DUCK_TOKENS

    params = perm_params(D.N_PERMS)
    mh_cols = ",\n        ".join(
        f"min((x * {a} + {b}) % {MINHASH_PRIME}) AS mh_{j}"
        for j, (a, b) in enumerate(params)
    )
    eq = " + ".join(
        f"(CASE WHEN sa.mh_{j} = sb.mh_{j} THEN 1 ELSE 0 END)"
        for j in range(D.N_PERMS)
    )
    levels = []
    kept_union = []
    for k in range(n_batches):
        prior = (
            "SELECT doc_id, FALSE AS is_new FROM ("
            + " UNION ALL ".join(f"SELECT doc_id FROM k{i}" for i in range(k))
            + ")\n    UNION ALL\n    "
            if k
            else ""
        )
        bands = "\n    UNION ALL\n".join(
            "    SELECT m.doc_id, m.is_new, {b} AS band,"
            " md5(concat_ws(',', {cols})) AS bkey"
            " FROM sig s JOIN mem{k} m USING (doc_id)".format(
                b=b,
                k=k,
                cols=", ".join(
                    f"s.mh_{b * D.ROWS_PER_BAND + r}"
                    for r in range(D.ROWS_PER_BAND)
                ),
            )
            for b in range(D.N_BANDS)
        )
        levels.append(f"""mem{k} AS MATERIALIZED (
    {prior}SELECT doc_id, TRUE AS is_new FROM documents WHERE doc_id % {n_batches} = {k}
), b{k} AS MATERIALIZED (
{bands}
), c{k} AS MATERIALIZED (
    SELECT * FROM b{k}
    QUALIFY count(*) OVER (PARTITION BY band, bkey) <= {D.MAX_BUCKET}
), d{k} AS MATERIALIZED (
    SELECT DISTINCT p.new_doc FROM (
        SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS partner
        FROM c{k} a JOIN c{k} b
          ON a.band = b.band AND a.bkey = b.bkey
         AND a.is_new AND a.doc_id <> b.doc_id
         AND (NOT b.is_new OR b.doc_id < a.doc_id)
    ) p
    JOIN sig sa ON sa.doc_id = p.new_doc
    JOIN sig sb ON sb.doc_id = p.partner
    WHERE round(({eq}) / {float(D.N_PERMS)}, 4) >= {threshold}
), k{k} AS MATERIALIZED (
    SELECT doc_id FROM documents
    WHERE doc_id % {n_batches} = {k}
      AND doc_id NOT IN (SELECT new_doc FROM d{k})
)""")
    return f"""
WITH toks AS (
    SELECT doc_id, {DUCK_TOKENS} AS t FROM documents
), sh AS (
    SELECT doc_id, unnest({DUCK_SHINGLES}) AS shingle FROM toks
), hx AS (
    SELECT doc_id, {md5_u32_duckdb('shingle')} AS x FROM sh
), sig AS MATERIALIZED (
    SELECT doc_id,
        {mh_cols}
    FROM hx GROUP BY doc_id
), {', '.join(levels)}
SELECT doc_id FROM ({' UNION ALL '.join(f'SELECT doc_id FROM k{i}' for i in range(n_batches))})
"""


@register("dedup_index_audit", oracle=_dedup_index_oracle())
# deliberately NOT @stream_tuned: the per-batch band joins against the
# whole kept index are REAL batch work — analytics width wins (grid-
# measured: 32 beats 8/16 here; the opposite of the stateful faces)
def dedup_index_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end audit of the streaming near-dup index
    (streaming/dedup_index.py::start_minhash_dedup_sink — each
    micro-batch judged against every doc EVER KEPT via the versioned
    signature index, survivors committed to kept-docs dirs and their
    signatures merged into the next index version): the documents
    table lands as four id-split mtime-ORDERED batches (order is
    load-bearing — the kept set depends on what the index held when
    each batch arrived), and the committed kept-docs union must hash
    against a four-level chained oracle that replays the sequential
    semantics with the kept set threaded level to level. A dropped
    doc's signature leaking into a later level's band table, a batch
    judged against the wrong index generation, or a survivor lost in
    the kept-dir overwrite is a hash mismatch on committed artifacts.
    Per-trigger work in the component stays O(batch x bucket) — the
    corpus only ever contributes its stored 17-column signature rows,
    never its text."""
    from strava_data_pipeline_spark.streaming.dedup_index import (
        read_doc_stream,
        read_kept_docs,
        start_minhash_dedup_sink,
    )

    root = _mkroot(sf_dir, "dedupidx")
    landing = os.path.join(root, "landing")
    index_root = os.path.join(root, "index")
    kept_dir = os.path.join(root, "kept")
    ckpt = os.path.join(root, "ckpt")

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    _land_many(
        landing,
        [
            (docs.where(F.col("doc_id") % 4 == k), 1_000_000 + k)
            for k in range(4)
        ],
    )

    start_minhash_dedup_sink(
        read_doc_stream(spark, landing), index_root, kept_dir, ckpt
    ).awaitTermination()

    return read_kept_docs(spark, kept_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id")
    )


# --------------------------------------------------------------------------
# 207. stateful_session_audit — the CUSTOM stateful sessionizer on disk
# --------------------------------------------------------------------------
# The last streaming component without a driver-hashable face was the
# applyInPandasWithState sessionizer — its ProcessingTimeTimeout closes
# sessions on wall-clock cadence, which no deterministic oracle can
# reproduce. track_sessions_event_time (streaming/stateful.py) is its
# EVENT-TIME twin: same gap semantics, but sessions close when the
# WATERMARK passes end + gap — a pure function of the feed. This face
# runs the REAL custom operator (concat-sorted groups, vectorized gap
# split, exact-cent accumulation, event-time timeouts, the in-data-path
# close for tails the watermark already proved dead) over four
# time-sliced batches + two flushes and hashes the committed sessions
# against the batch gap-sessionize SQL. session_end here is the LAST
# EVENT's ts (the custom operator's contract; the native face's
# last + gap convention is covered by session_window_audit).
_STATEFUL_SESS_ORACLE = """
WITH flagged AS (
    SELECT user_id, ts, value, event_id,
           CASE WHEN floor(epoch(ts)) - lag(floor(epoch(ts))) OVER w > 1800
                THEN 1 ELSE 0 END AS new_s
    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
    SELECT user_id, ts,
           CAST(round(value * 100) AS BIGINT) AS cents,
           CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
    FROM flagged
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       min(ts) AS session_start,
       max(ts) AS session_end
FROM sess GROUP BY user_id, session_seq
"""


@register("stateful_session_audit", oracle=_STATEFUL_SESS_ORACLE)
@stream_tuned
def stateful_session_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end audit of the custom applyInPandasWithState gap
    sessionizer with event-time timeouts: a session split on a batch
    boundary, merged across a real gap, closed early/never by the
    timeout machinery, double-emitted on the timeout-vs-data-path
    race, or mis-summed by float partials is a hash mismatch on the
    committed parquet. The exact-gap MERGE boundary is pinned by
    tests/test_streaming.py::test_event_time_sessionizer_gap_and_timeout
    (the synthetic corpus cannot exercise an exact 30:00 gap)."""
    from strava_data_pipeline_spark.streaming.stateful import (
        track_sessions_event_time,
    )

    root = _mkroot(sf_dir, "statefulsess")
    landing = os.path.join(root, "landing")
    target = os.path.join(root, "target")
    ckpt = os.path.join(root, "ckpt")

    ev = load_table(spark, sf_dir, "events")
    slices, hi = _time_slices(ev)

    def run_once() -> None:
        (
            track_sessions_event_time(
                _stream(spark, landing), gap_minutes=30
            )
            .writeStream.format("parquet")
            .option("path", target)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    # single availableNow run, both flushes mtime-staged — see
    # windowed_counts_audit's note (flush 2's batch fires the event-time
    # timeouts under flush 1's advanced watermark in-run)
    _land_many(
        landing,
        [(_event_cols(sl), 1_000_000 + k) for k, sl in enumerate(slices)]
        + [
            (_flush_row(spark, hi + 864_000), 1_000_010),
            (_flush_row(spark, hi + 1_728_000), 1_000_020),
        ],
    )
    run_once()

    return spark.read.parquet(target).where(F.col("user_id") >= 0).select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("total_cents").cast("bigint").alias("total_cents"),
        "session_start",
        "session_end",
    )


# --------------------------------------------------------------------------
# 210. cms_merge_audit — streaming sketch mergeability on disk
# --------------------------------------------------------------------------
# Same oracle as the batch cms_heavy_hitters (row 209): the audit's
# whole claim is that four id-split micro-batches of per-batch DELTA
# sketches, landed append-only by the real foreachBatch sink and summed
# per (j, b) at read time, yield BYTE-IDENTICAL estimates to the
# one-pass batch sketch. A lost delta partition, a double-applied
# replay, or any non-additive merge shifts a counter and lands in the
# hash. Order-insensitive by construction (addition commutes), so no
# mtime/flush choreography — the simplest possible face choreography,
# which is itself the point: this is what makes sketches the
# STREAMING-NATIVE aggregation family.
def _cms_audit_oracle() -> str:
    from strava_data_pipeline_spark.plans.mining_queries import _cms_oracle

    return _cms_oracle()


@register("cms_merge_audit", oracle=_cms_audit_oracle())
@stream_tuned
def cms_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end audit of the streaming count-min sink
    (streaming/sketch.py): four id-split batches through
    start_cms_sink (one delta partition per batch, replay-idempotent
    overwrite), live counters summed by read_cms_counters, every key
    probed through its D buckets — estimates must equal the batch
    sketch's exactly."""
    from strava_data_pipeline_spark.streaming.sketch import (
        CMS_D,
        CMS_W,
        read_cms_counters,
        start_cms_sink,
    )
    from strava_data_pipeline_spark.functions.hashing import md5_u32

    root = _mkroot(sf_dir, "cmsaudit")
    landing = os.path.join(root, "landing")
    target = os.path.join(root, "target")
    ckpt = os.path.join(root, "ckpt")

    ev = load_table(spark, sf_dir, "events")
    _land_many(
        landing,
        [
            (_event_cols(ev.where(F.col("event_id") % 4 == k)), 1_000_000 + k)
            for k in range(4)
        ],
    )

    start_cms_sink(_stream(spark, landing), target, ckpt).awaitTermination()

    counters = read_cms_counters(spark, target)
    c = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    js = F.array(*[F.lit(j) for j in range(CMS_D)])
    hashes = c.select(
        "user_id", "cnt", F.explode(js).alias("j")
    ).withColumn(
        "b",
        md5_u32(
            F.concat(
                F.lit("cms"),
                F.col("j").cast("string"),
                F.lit("#"),
                F.col("user_id").cast("string"),
            )
        )
        % CMS_W,
    )
    return (
        hashes.join(counters, ["j", "b"])
        .groupBy("user_id", "cnt")
        .agg(F.min("v").cast("bigint").alias("cms_est"))
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.col("cnt").alias("exact_cnt"),
            "cms_est",
            (F.col("cms_est") - F.col("cnt")).cast("bigint").alias("overcount"),
        )
    )
