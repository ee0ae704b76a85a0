"""Change-data-feed consumers: maintain downstream aggregates from the
versioned store's row-level diff instead of re-scanning snapshots.

``sources/versioned.py::snapshot_diff`` gives the insert/update/delete
feed between two committed versions. For merge-able aggregates
(count/sum monoids — the same family streaming/rollup.py maintains from
landing batches), the diff converts to ADDITIVE deltas:

    insert  → +new row's contribution
    delete  → −old row's contribution
    update  → new − old (both sides emitted; groups cancel exactly)

so refreshing the rollup costs O(changes) + a read of the touched
groups — never O(table). This is the consumer half of the
partition-scoped versioned sink: the producer rewrites only touched day
partitions, the consumer folds only changed rows. Sums use exact BIGINT
cents (the events_rolling_7d discipline) so applying deltas in any
order reproduces the recompute bit-for-bit — with double sums the
incremental and recomputed rollups drift in the last bit.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_CENT = 100


def _cents(col: F.Column) -> F.Column:
    return F.floor(col * _CENT + F.lit(0.5)).cast("bigint")


def events_rollup_of(snapshot: DataFrame) -> DataFrame:
    """The reference rollup: (day, event_type) → count + exact-cent
    value sum. Used both for full recompute (the correctness twin) and
    as the shape the CDF deltas fold into."""
    return (
        snapshot.groupBy(
            F.to_date("ts").alias("p_day"), F.col("event_type")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(_cents(F.col("value"))).cast("bigint").alias("value_cents"),
        )
    )


def rollup_delta_from_cdf(diff: DataFrame) -> DataFrame:
    """Convert a ``snapshot_diff`` frame into additive rollup deltas.

    One pass over the diff only: the new-side of inserts/updates counts
    +1, the old-side of deletes/updates counts −1; an update whose day
    or type changed moves mass between groups automatically because
    both sides are emitted independently."""
    plus = diff.where(F.col("change").isin("insert", "update")).select(
        F.to_date(F.col("new.ts")).alias("p_day"),
        F.col("new.event_type").alias("event_type"),
        F.lit(1).cast("bigint").alias("dn"),
        _cents(F.col("new.value")).alias("dv"),
    )
    minus = diff.where(F.col("change").isin("delete", "update")).select(
        F.to_date(F.col("old.ts")).alias("p_day"),
        F.col("old.event_type").alias("event_type"),
        F.lit(-1).cast("bigint").alias("dn"),
        (-_cents(F.col("old.value"))).alias("dv"),
    )
    return (
        plus.unionByName(minus)
        .groupBy("p_day", "event_type")
        .agg(
            F.sum("dn").cast("bigint").alias("dn"),
            F.sum("dv").cast("bigint").alias("dv"),
        )
    )


def apply_rollup_delta(rollup: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold deltas into the rollup; groups whose count reaches zero
    drop out (a fully-deleted day/type leaves no residue row). One
    shuffle on the group key — at scale both sides arrive partitioned
    by day, so the exchange disappears under bucketed layouts."""
    base = rollup.select(
        "p_day",
        "event_type",
        F.col("n_events").alias("dn"),
        F.col("value_cents").alias("dv"),
    )
    return (
        base.unionByName(delta)
        .groupBy("p_day", "event_type")
        .agg(
            F.sum("dn").cast("bigint").alias("n_events"),
            F.sum("dv").cast("bigint").alias("value_cents"),
        )
        .where(F.col("n_events") != 0)
    )


# ---------------------------------------------------------------------------
# Incremental consumer: versioned store → versioned rollup, O(changes)
# ---------------------------------------------------------------------------
_CONSUMED = re.compile(r"_consumed_s(\d+)_r(\d+)$")


def _last_consumed(spark: SparkSession, rollup_root: str) -> tuple[int, int] | None:
    """Newest (store_version, rollup_version) pair this rollup has
    consumed, from the atomic marker files ``_consumed_s<N>_r<M>``."""
    from strava_data_pipeline_spark.sources.versioned import _names

    pairs = [
        (int(m.group(1)), int(m.group(2)))
        for m in map(_CONSUMED.search, _names(spark, rollup_root))
        if m
    ]
    return max(pairs) if pairs else None


def refresh_rollup_from_store(
    spark: SparkSession,
    store_root: str,
    rollup_root: str,
    key: str = "event_id",
) -> int | None:
    """Advance the rollup to the store's current version by folding the
    change feed since the last consumed version — never re-scanning the
    store. Returns the store version refreshed to (None = nothing new).

    The rollup itself is a versioned store: each refresh commits a new
    rollup snapshot, then atomically records ``(store_v, rollup_v)`` in
    a marker file. The fold BASE is always the rollup version named in
    the newest marker — NOT blindly the latest rollup snapshot — so a
    crash between the rollup commit and the marker leaves an orphan
    snapshot the next refresh ignores instead of double-applying the
    delta. First refresh bootstraps with one full recompute of the
    current snapshot; every later refresh costs O(changes between
    versions) + the rollup read.

    Vacuum resilience: if the last-consumed store version (or the
    rollup base it pairs with) has been vacuumed away while the rollup
    lagged, the refresh falls back to one full recompute of the current
    snapshot instead of raising forever — the lakehouse equivalent of a
    CDC consumer whose log retention expired re-seeding from a
    snapshot. Keep ``vacuum(keep_last=...)`` deeper than the longest
    expected consumer lag to stay on the O(changes) path.
    """
    from strava_data_pipeline_spark.sources import versioned as V

    cur = V.current_version(spark, store_root)
    if cur is None:
        return None
    last = _last_consumed(spark, rollup_root)
    if last is not None and last[0] >= cur:
        return None
    new_rollup = None
    if last is not None:
        store_v, rollup_v = last
        if store_v in V.committed_versions(
            spark, store_root
        ) and rollup_v in V.committed_versions(spark, rollup_root):
            base = V.read_snapshot(spark, rollup_root, version=rollup_v)
            delta = rollup_delta_from_cdf(
                V.snapshot_diff(spark, store_root, store_v, cur, key=key)
            )
            new_rollup = apply_rollup_delta(base, delta)
    if new_rollup is None:
        # bootstrap OR re-seed after vacuum outran the consumer
        new_rollup = events_rollup_of(V.read_snapshot(spark, store_root, cur))
    rollup_v_new = V.commit_snapshot(new_rollup, rollup_root)
    V._touch(spark, f"{rollup_root}/_consumed_s{cur}_r{rollup_v_new}")
    return cur
