"""Structured-Streaming activity sync.

The reference syncs by polling the Strava API on a ticker and upserting
row-at-a-time (/root/reference/internal/strava/strava.go:261). The
Spark-native shape is a file-source stream: each micro-batch of newly
landed activity files is merged latest-wins into a DAY-PARTITIONED
parquet target via ``foreachBatch`` — idempotent, incremental, and
restartable from the checkpoint. ``Trigger.AvailableNow`` gives the
same "catch up then stop" semantics as the reference's manual
`/admin/sync`.

Scale shape: a micro-batch only ever touches the day partitions its
events fall in, so the merge reads O(batch-days), not O(table), and the
write replaces ONLY those partitions (``partitionOverwriteMode=dynamic``
set per-write, never leaked into the session). Untouched day
directories are not listed, read, or rewritten — per-batch I/O is
proportional to the batch, which is what survives a 100 TB target.
Dynamic overwrite also removes the round-1 stage-then-swap: the whole
table is never deleted mid-write (per-partition commit via the file
committer). For transactional multi-partition atomicity and
cross-day key moves, the cluster path is a Delta/Iceberg MERGE sink;
sources/versioned.py is the same commit protocol in miniature (every
version a manifest over its ``seg/vN`` dirs, published by a marker
file; crash-invisible half-writes; time travel) and
streaming/versioned_sink.py upserts into it. This parquet-dir sink
documents the constraint that a correction record keeps its event's
calendar day (the day is derived from the event time that identifies
it); a stale copy in an untouched day would otherwise need a
compaction pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from strava_data_pipeline_spark.operators.upsert import merge_latest_wins
from strava_data_pipeline_spark.sources.versioned import _exists

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def read_event_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """File-source stream over newly landed activity parquet files.

    ``maxFilesPerTrigger`` bounds micro-batch size so a backlog of
    landed files can't blow out one batch at cluster scale.
    """
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(landing_dir)
    )


def day_filter(col: str, days: list) -> F.Column:
    """Null-safe membership filter for a partition-day list: ``isin``
    never matches NULL, so a batch containing a null-ts event (p_day
    NULL, stored under Hive's default partition) would silently exclude
    the stored NULL-day rows from the merge base — and the dynamic
    overwrite would then replace that partition with the batch's rows
    alone, losing history."""
    non_null = [d for d in days if d is not None]
    cond = F.col(col).isin(non_null) if non_null else F.lit(False)
    if any(d is None for d in days):
        cond = cond | F.col(col).isNull()
    return cond


def start_incremental_sync(
    stream: DataFrame,
    target_dir: str,
    checkpoint_dir: str,
):
    """Merge each micro-batch into the day-partitioned parquet target,
    latest-wins, touching only the partitions present in the batch.

    foreachBatch gets a *batch* DataFrame, so the merge reuses the exact
    batch operator (operators/upsert.py) — one code path for batch and
    streaming ingestion.
    """

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        data_cols = [f.name for f in EVENT_SCHEMA.fields]
        b = batch.select(
            *data_cols, F.to_date(F.col("ts")).alias("p_day")
        )
        days = [r["p_day"] for r in b.select("p_day").distinct().collect()]
        if not days:
            return
        if _exists(sess, target_dir):
            # partition-pruned read: only the days this batch touches
            base = (
                sess.read.parquet(target_dir)
                .where(day_filter("p_day", days))
                .select(*data_cols, "p_day")
            )
            # eager localCheckpoint materializes the (batch-bounded)
            # merge result and cuts lineage to the target path — Spark
            # refuses to overwrite a path its plan still reads from. On
            # a multi-node cluster use a reliable checkpoint dir (or a
            # Delta/Iceberg MERGE sink) instead of executor-local blocks.
            merged = merge_latest_wins(
                base, b, keys=["event_id"], order_by=["ts"]
            ).localCheckpoint(eager=True)
        else:
            merged = b
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("p_day")
            .parquet(target_dir)
        )

    return (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
