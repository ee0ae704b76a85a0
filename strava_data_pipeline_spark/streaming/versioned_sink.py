"""Exactly-once streaming sink into the versioned snapshot store.

``foreachBatch`` gives at-least-once batch delivery: after a crash
between the sink's write and the checkpoint advance, Structured
Streaming re-runs the last batch with the SAME ``batch_id``. The
parquet-dir sink in streaming/sync.py tolerates that because its merge
is idempotent; this sink upgrades the guarantee to exactly-once
*snapshot history*: every applied batch produces exactly one committed
version, replays are detected by the batch marker and skipped, and a
crash at any point leaves the previous version fully readable
(sources/versioned.py's marker-file commit protocol).

Commit order per batch: snapshot data dir → manifest → version marker
→ batch marker. A crash
- before the version marker: the half-written ``seg/vN`` dir is
  invisible, replay re-merges from version N-1 and overwrites it —
  same contents, version numbering unchanged;
- between version and batch marker: replay sees the batch unmarked and
  merges AGAIN on top of version N — latest-wins merge of the same rows
  is a no-op by value, so version N+1 equals version N (one redundant
  but harmless version, still exactly-once by contents);
- after the batch marker: replay is skipped entirely.

This is the miniature of what a Delta/Iceberg ``txnAppId``/``txnVersion``
idempotent-writer option does; the reference's sync ticker
(/root/reference/internal/strava/strava.go:261) has no restart story at
all — it refetches a 24h lookback and relies on ON CONFLICT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from strava_data_pipeline_spark.operators.upsert import merge_latest_wins
from strava_data_pipeline_spark.sources.versioned import (
    _part_token,
    batch_committed,
    commit_snapshot,
    commit_snapshot_partitioned,
    current_version,
    mark_batch,
    read_snapshot,
    read_snapshot_parts,
)


def start_versioned_sink(
    stream: DataFrame,
    store_root: str,
    checkpoint_dir: str,
    key: str = "event_id",
    ts_col: str = "ts",
    partition_col: str | None = None,
    app_id: str | None = None,
) -> StreamingQuery:
    """Stream → versioned store: each micro-batch merges latest-wins
    into the current snapshot and publishes the result as the next
    committed version. Restart-safe (see module docstring); readers
    always see a complete, committed snapshot — never a half-merged
    table.

    With ``partition_col`` unset, every version is a full snapshot
    rewrite — O(table) per trigger, acceptable ONLY for
    dimension-sized tables. Fact streams must set ``partition_col``
    (derived as ``to_date(ts_col)`` when absent from the stream): the
    batch then merges against ONLY the day partitions it touches and
    the new version's manifest reuses every untouched partition dir
    verbatim — O(touched days) per trigger, which is what survives a
    100 TB table with 0.1% daily churn. However many days a batch
    touches, they are written by one Spark job
    (sources/versioned.py::commit_snapshot_partitioned).

    A key whose partition value CHANGES between versions (a late
    correction moving an event across midnight) leaves a stale copy in
    its old day if the merge only sees the batch's own partitions. The
    sink detects moves with a key+partition column-pruned scan of the
    snapshot (a two-narrow-columns parquet read, NOT a full table read)
    and folds the affected old partitions into the merge, so
    latest-wins holds store-wide. At larger scale the upgrade path is a
    hash-bucketed key locator index, which replaces the scan with
    O(batch-buckets) reads.

    ``app_id`` scopes the replay markers to this logical stream
    (sources/versioned.py::mark_batch): set it whenever more than one
    stream may ever write the store, or a rebuilt checkpoint restarts
    batch ids at 0 — a stale same-numbered marker from the old run
    would otherwise silently swallow the new stream's first batches."""

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if batch_committed(spark, store_root, batch_id, app_id=app_id):
            return
        if partition_col is None:
            if current_version(spark, store_root) is None:
                merged = merge_latest_wins(
                    batch.limit(0), batch, keys=[key], order_by=[ts_col]
                )
            else:
                base = read_snapshot(spark, store_root)
                merged = merge_latest_wins(base, batch, keys=[key], order_by=[ts_col])
            commit_snapshot(merged, store_root)
        else:
            b = (
                batch
                if partition_col in batch.columns
                else batch.withColumn(partition_col, F.to_date(F.col(ts_col)))
            )
            touched = [r[0] for r in b.select(partition_col).distinct().collect()]
            has_store = current_version(spark, store_root) is not None
            if has_store:
                # find partitions (outside the touched set) still holding
                # a row for a batch key: those keys MOVED and their old
                # day must join the rewrite or it keeps the stale copy
                touched_tokens = {_part_token(v) for v in touched}
                locator = read_snapshot(spark, store_root).select(key, partition_col)
                moved = (
                    locator.join(
                        F.broadcast(b.select(key).distinct()), key, "left_semi"
                    )
                    .select(partition_col)
                    .distinct()
                    .collect()
                )
                stale_parts = [
                    r[0]
                    for r in moved
                    if _part_token(r[0]) not in touched_tokens
                ]
                touched = touched + stale_parts
            base = None
            if has_store:
                base = read_snapshot_parts(spark, store_root, touched)
            if base is None:
                base = b.limit(0)
            merged = merge_latest_wins(base, b, keys=[key], order_by=[ts_col])
            # one job writes every touched day; a day a moved key
            # vacated (no rows left after the merge) produces no dir
            # and leaves the manifest
            commit_snapshot_partitioned(
                merged, store_root, partition_col, part_values=touched
            )
        mark_batch(spark, store_root, batch_id, app_id=app_id)

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
