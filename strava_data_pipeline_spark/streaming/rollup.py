"""Streaming incremental rollup maintenance: keep an aggregate table
fresh by MERGING per-batch deltas, never re-scanning the raw table.

The reference recomputes dashboard stats per request from the raw
activities table (/root/reference/internal/api/api.go:107); at 100 TB
the sum/count rollup must be maintained incrementally instead. Counts
and sums are merge-able (commutative monoids), so:

    new_rollup(day, type) = combine(old_rollup(day, type), delta(batch))

costs one pass over the BATCH plus a partition-pruned read of the
touched days of the rollup — O(batch), not O(table). (Averages derive
as sum/count at read time; non-mergeable stats — exact percentiles —
need the sketch path, percentile_stats_approx.)

Same discipline as streaming/sync.py: only the batch's day dirs are read
(``read_days``) and rewritten, with no checkpoint in between.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from strava_data_pipeline_spark.sources.versioned import (
    _exists,
    _part_token,
    _touch,
)
from strava_data_pipeline_spark.streaming.sync import read_days

ROLLUP_SCHEMA = "event_type string, n_events bigint, total_value double, p_day date"


def start_rollup_maintenance(
    stream: DataFrame,
    rollup_dir: str,
    checkpoint_dir: str,
    app_id: str | None = None,
):
    """Maintain a (p_day, event_type) → (n_events, total_value) rollup
    from the event stream.

    Replay guard: an additive fold is NOT value-idempotent (latest-wins
    merges are; sums are not), so each applied batch leaves a
    ``_batch_<id>.applied`` marker in the rollup dir (underscore prefix
    — invisible to the parquet reader) and a replayed batch id is
    skipped. This closes foreachBatch's common at-least-once window
    (batch applied, checkpoint offset not yet committed). The residual
    window — a crash BETWEEN the partition overwrite and the marker —
    would still double-apply on replay; a deployment that cannot accept
    that uses streaming/cdf.py::refresh_rollup_from_store, whose
    consumed-version marker commits atomically AFTER the rollup
    snapshot and therefore re-folds instead of re-adding.

    ``app_id`` scopes the markers to one logical stream (the same
    contract as sources/versioned.py::mark_batch): a REBUILT checkpoint
    restarts batch ids at 0, so re-pointing a rebuilt stream at an
    existing rollup_dir under the same app_id would find the old run's
    markers and silently skip its first batches. Pass a NEW app_id (or
    a fresh rollup_dir) whenever the checkpoint is rebuilt; the default
    unscoped name is only safe for a rollup_dir written by exactly one
    checkpoint lineage ever."""
    # same naming scheme as versioned.py::_batch_marker, .applied suffix
    prefix = f"_batch_{_part_token(app_id)}_" if app_id else "_batch_"

    def merge_rollup(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        marker = f"{rollup_dir}/{prefix}{batch_id}.applied"
        if _exists(sess, marker):
            return
        # value accumulates in EXACT integer cents (per-row quantize,
        # BIGINT sum): a float fold is associative only by luck, so a
        # 4-way merge path could diverge from a one-pass recompute at
        # half-cent boundaries (ADVICE r7). The committed face stays a
        # DOUBLE (cents / 100.0) — the stored double is the nearest
        # representation of an integer number of cents, so the merge
        # path recovers the exact BIGINT via round(total_value * 100).
        delta = (
            batch.groupBy(
                F.to_date("ts").alias("p_day"), F.col("event_type")
            ).agg(
                F.count("*").cast("bigint").alias("n_events"),
                F.sum(
                    F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
                ).alias("_cents"),
            )
        )
        days = [r["p_day"] for r in delta.select("p_day").distinct().collect()]
        if not days:
            return
        base = read_days(sess, rollup_dir, ROLLUP_SCHEMA, days)
        if base is not None:
            base = base.select(
                "p_day",
                "event_type",
                "n_events",
                # recover the exact integer cents the double holds
                F.round(F.col("total_value") * 100).cast("bigint").alias("_cents"),
            )
            merged = (
                base.unionByName(delta)
                .groupBy("p_day", "event_type")
                .agg(
                    F.sum("n_events").cast("bigint").alias("n_events"),
                    F.sum("_cents").cast("bigint").alias("_cents"),
                )
            )
        else:
            merged = delta
        merged = merged.withColumn(
            "total_value", (F.col("_cents") / F.lit(100.0)).cast("double")
        )
        (
            merged.select("event_type", "n_events", "total_value", "p_day")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("p_day")
            .parquet(rollup_dir)
        )
        _touch(sess, marker, overwrite=True)

    return (
        stream.writeStream.foreachBatch(merge_rollup)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
