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
events fall in. The merge lists and reads only those day dirs
(``read_days``: no root listing, no schema inference), and the write
replaces ONLY those partitions (``partitionOverwriteMode=dynamic`` set
per-write, never leaked into the session): per-batch I/O follows the
batch, which is what survives a 100 TB target. The merge feeds the
overwrite with no checkpoint: Spark lets a dynamic partition overwrite
read the partitions it replaces, because it writes to a staging dir and
swaps them in at job commit, after every read has finished.
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
    DateType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from strava_data_pipeline_spark.operators.upsert import merge_latest_wins
from strava_data_pipeline_spark.sources.versioned import _HIVE_NULL_DIR, _exists

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)

TARGET_SCHEMA = StructType(EVENT_SCHEMA.fields + [StructField("p_day", DateType())])


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


def read_days(
    sess: SparkSession, target_dir: str, schema: StructType | str, days: list
) -> DataFrame | None:
    """The stored rows of the ``days`` dirs of a ``p_day``-partitioned
    parquet dir that exist (driver-side Hadoop FS checks), read under an
    explicit ``schema``; ``None`` if none exists. A ``None`` day is the
    dir Hive's default partition keeps NULL ``p_day`` rows in."""
    dirs = [f"{target_dir}/p_day={_HIVE_NULL_DIR if d is None else d}" for d in days]
    dirs = [d for d in dirs if _exists(sess, d)]
    if not dirs:
        return None
    return sess.read.schema(schema).option("basePath", target_dir).parquet(*dirs)


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
        # only the touched day dirs are listed and read, and the merge
        # feeds the overwrite with no checkpoint (module docstring). A
        # batch of only new days still merges: it may hold several
        # versions of one activity.
        base = read_days(sess, target_dir, TARGET_SCHEMA, days)
        if base is None:
            base = b.limit(0)
        merged = merge_latest_wins(base, b, keys=["event_id"], order_by=["ts"])
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
