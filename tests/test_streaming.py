"""Structured Streaming tests: incremental sync, windowed aggregation,
custom stateful sessionization — all via availableNow on temp dirs."""

from __future__ import annotations

import os
from datetime import date, datetime, timedelta

import pytest

from strava_data_pipeline_spark.streaming.stateful import track_sessions
from strava_data_pipeline_spark.streaming.sync import (
    EVENT_SCHEMA,
    read_event_stream,
    start_incremental_sync,
)
from strava_data_pipeline_spark.streaming.windowed import windowed_type_counts


def _write_batch(spark, path, rows):
    from strava_data_pipeline_spark.functions.local_frames import (
        one_slice_frame,
    )

    one_slice_frame(spark, rows, EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def _drain_and_stop(q, timeout=120):
    """Run an availableNow query until its DATA is fully processed,
    then stop it. A query whose state uses ProcessingTimeTimeout never
    self-terminates under availableNow: after the data batches it sits
    in state-cleanup triggers waiting for wall-clock timers that are
    minutes out — awaitTermination(120) burned its full timeout (2x
    ~125s in this file, measured r12). Draining = every input batch
    committed and no new data available: the trigger is idle, or three
    consecutive new progress reports read no input rows. Spark's
    'No new data but cleaning up state' status message is a faster
    sign of the same; it is private wording, so it is only a shortcut.
    The assertions these tests make (columns exist / no rows emitted /
    state didn't crash) are about the committed data batches."""
    import time

    deadline = time.time() + timeout
    seen, idle_reports = None, 0
    while time.time() < deadline and q.isActive:
        s, p = q.status, q.lastProgress
        if p is not None and (p["batchId"], p["timestamp"]) != seen:
            seen = (p["batchId"], p["timestamp"])
            idle_reports = idle_reports + 1 if p["numInputRows"] == 0 else 0
        if (
            p is not None
            and not s["isDataAvailable"]
            and (
                not s["isTriggerActive"]
                or idle_reports >= 3
                or s["message"] == "No new data but cleaning up state"
            )
        ):
            break
        time.sleep(0.2)
    if q.isActive:
        q.stop()
    q.awaitTermination(30)


@pytest.fixture()
def dirs(tmp_path):
    landing = str(tmp_path / "landing")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)
    return landing, target, ckpt


def _partition_state(target: str, day: str) -> dict[str, bytes]:
    """File name → raw bytes of one day partition directory."""
    pdir = os.path.join(target, f"p_day={day}")
    out = {}
    for name in sorted(os.listdir(pdir)):
        if name.startswith("part-"):
            with open(os.path.join(pdir, name), "rb") as f:
                out[name] = f.read()
    return out


def test_incremental_sync_upserts(spark, dirs):
    landing, target, ckpt = dirs
    _write_batch(
        spark,
        landing,
        [
            (1, datetime(2024, 1, 1, 10), 7, "run", 5.0),
            (2, datetime(2024, 1, 1, 11), 7, "ride", 20.0),
            (9, datetime(2024, 1, 5, 9), 9, "hike", 3.0),
        ],
    )
    q = start_incremental_sync(read_event_stream(spark, landing), target, ckpt)
    q.awaitTermination(120)
    out = {r["event_id"]: r for r in spark.read.parquet(target).collect()}
    assert set(out) == {1, 2, 9}
    untouched_before = _partition_state(target, "2024-01-05")

    # second batch touches ONLY Jan 1/Jan 2: update event 1 (newer ts,
    # moved to Jan 2) + new event 3 on Jan 1
    _write_batch(
        spark,
        landing,
        [
            (1, datetime(2024, 1, 2, 10), 7, "run", 7.5),
            (3, datetime(2024, 1, 1, 12), 8, "swim", 1.0),
        ],
    )
    q = start_incremental_sync(read_event_stream(spark, landing), target, ckpt)
    q.awaitTermination(120)
    out = {r["event_id"]: r for r in spark.read.parquet(target).collect()}
    assert set(out) == {1, 2, 3, 9}
    assert out[1]["value"] == 7.5
    assert str(out[1]["p_day"]) == "2024-01-02"
    # the Jan 5 partition was not listed, read, or rewritten: its files
    # are byte-identical — the O(batch) not O(table) property
    assert _partition_state(target, "2024-01-05") == untouched_before


def test_sync_keeps_latest_version_on_new_days(spark, dirs):
    # two landed files hold activity 7 on a day the target lacks: one
    # trigger reads no stored day, and must still merge latest-wins
    landing, target, ckpt = dirs
    _write_batch(spark, landing, [(7, datetime(2024, 3, 1, 8, 0), 1, "run", 5.0)])
    _write_batch(spark, landing, [(7, datetime(2024, 3, 1, 8, 1), 1, "run", 5.5)])
    q = start_incremental_sync(read_event_stream(spark, landing), target, ckpt)
    q.awaitTermination(120)
    rows = [(r["ts"], r["value"]) for r in spark.read.parquet(target).collect()]
    assert rows == [(datetime(2024, 3, 1, 8, 1), 5.5)]


def _sync_job_count(spark, landing, target, ckpt) -> int:
    """Run one availableNow sync and count the Spark jobs it started: a
    stream's jobs carry its run id as their job group."""
    q = start_incremental_sync(read_event_stream(spark, landing), target, ckpt)
    q.awaitTermination(120)
    # job starts reach the status store through the async listener bus
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId)))


def test_sync_trigger_cost_does_not_grow_with_untouched_days(spark, tmp_path):
    # the same one-day batch into a target with 2 and with 40 untouched
    # day dirs (past Spark's 32-path parallel-listing threshold): a
    # trigger that lists or infers the schema of the whole root pays
    # more jobs on the wider target
    jobs, unchanged = {}, {}
    for n in (2, 40):
        landing, target, ckpt = (str(tmp_path / f"{k}{n}") for k in ("l", "t", "c"))
        _write_batch(
            spark,
            landing,
            [
                (i, datetime(2024, 1, 1, 10) + timedelta(days=i), 7, "run", 1.0)
                for i in range(n + 1)
            ],
        )
        _sync_job_count(spark, landing, target, ckpt)
        untouched = [str(date(2024, 1, 1) + timedelta(days=i)) for i in range(1, n + 1)]
        before = {d: _partition_state(target, d) for d in untouched}
        _write_batch(spark, landing, [(1000, datetime(2024, 1, 1, 12), 8, "swim", 2.0)])
        jobs[n] = _sync_job_count(spark, landing, target, ckpt)
        unchanged[n] = before == {d: _partition_state(target, d) for d in untouched}
        rows = {r["event_id"] for r in spark.read.parquet(target).collect()}
        assert rows == set(range(n + 1)) | {1000}
    assert jobs[2] == jobs[40], jobs
    assert unchanged == {2: True, 40: True}


def test_windowed_counts(spark, dirs):
    landing, _, ckpt = dirs
    _write_batch(
        spark,
        landing,
        [
            (1, datetime(2024, 1, 1, 10, 1), 7, "run", 5.0),
            (2, datetime(2024, 1, 1, 10, 4), 7, "run", 3.0),
            (3, datetime(2024, 1, 1, 10, 15), 7, "ride", 20.0),
        ],
    )
    agg = windowed_type_counts(read_event_stream(spark, landing))
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r["event_type"], r["window_start"].minute): r
        for r in spark.sql("select * from win_counts").collect()
    }
    assert rows[("run", 0)]["n_events"] == 2
    assert rows[("run", 0)]["total_value"] == 8.0
    assert rows[("ride", 10)]["n_events"] == 1


def test_stateful_sessions(spark, dirs):
    landing, _, ckpt = dirs
    _write_batch(
        spark,
        landing,
        [
            (1, datetime(2024, 1, 1, 10, 0), 7, "run", 1.0),
            (2, datetime(2024, 1, 1, 10, 10), 7, "run", 2.0),
        ],
    )
    sessions = track_sessions(read_event_stream(spark, landing), timeout_minutes=30)
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    _drain_and_stop(q)
    # the processing-time timeout never fires within the run, so no
    # session is emitted yet — but state handling must not error and
    # every data batch must commit cleanly.
    assert spark.sql("select * from sessions").columns == [
        "user_id", "n_events", "total_value", "session_start", "session_end",
    ]


def test_stream_dedup_drops_redelivery(spark, dirs):
    from strava_data_pipeline_spark.streaming.dedup import dedup_stream

    landing, _, ckpt = dirs
    _write_batch(
        spark,
        landing,
        [
            (1, datetime(2024, 1, 1, 10, 0), 7, "run", 5.0),
            (1, datetime(2024, 1, 1, 10, 0), 7, "run", 5.0),   # exact redelivery
            (1, datetime(2024, 1, 1, 10, 30), 7, "run", 5.0),  # within watermark
            (2, datetime(2024, 1, 1, 10, 5), 8, "ride", 2.0),
        ],
    )
    deduped = dedup_stream(read_event_stream(spark, landing), late_minutes=60)
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from dedup_out").collect()
    assert sorted(r["event_id"] for r in rows) == [1, 2]


def test_stream_static_enrichment(spark, dirs):
    from strava_data_pipeline_spark.streaming.enrich import enrich_with_users

    landing, _, ckpt = dirs
    _write_batch(
        spark,
        landing,
        [
            (1, datetime(2024, 1, 1, 10), 7, "run", 5.0),
            (2, datetime(2024, 1, 1, 11), 99, "ride", 2.0),  # unknown athlete
        ],
    )
    users = spark.createDataFrame(
        [(7, "Alice"), (8, "Bob")], "c_custkey bigint, c_name string"
    )
    enriched = enrich_with_users(read_event_stream(spark, landing), users)
    q = (
        enriched.writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["event_id"]: r["user_name"] for r in spark.sql("select * from enriched").collect()}
    assert rows == {1: "Alice", 2: None}  # left semantics: unknown flows through


def test_stream_stream_attribution_join(spark, dirs):
    from strava_data_pipeline_spark.streaming.joins import attribute_to_prior_event

    landing, target, ckpt = dirs
    _write_batch(
        spark,
        landing,
        [
            # user 7: view 10:00 -> purchase 10:10 (attributed, 10 min)
            (1, datetime(2024, 1, 1, 10, 0), 7, "view", 0.0),
            (2, datetime(2024, 1, 1, 10, 10), 7, "purchase", 9.99),
            # user 7: purchase 11:00 is 60 min after the view (> 30 min cap)
            (3, datetime(2024, 1, 1, 11, 0), 7, "purchase", 5.0),
            # user 8: purchase with no view at all
            (4, datetime(2024, 1, 1, 10, 5), 8, "purchase", 1.0),
            # user 9: two views straddle the purchase; only the earlier
            # ones within the window match (12:00 excluded: after)
            (5, datetime(2024, 1, 1, 11, 40), 9, "view", 0.0),
            (6, datetime(2024, 1, 1, 11, 50), 9, "purchase", 3.0),
            (7, datetime(2024, 1, 1, 12, 0), 9, "view", 0.0),
        ],
    )
    stream = read_event_stream(spark, landing)
    views = stream.where(stream["event_type"] == "view")
    purchases = stream.where(stream["event_type"] == "purchase")
    joined = attribute_to_prior_event(views, purchases, max_delay="30 minutes")
    q = (
        joined.writeStream.format("parquet")
        .option("path", target)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r["follow_id"], r["lead_id"])
        for r in spark.read.parquet(target).collect()
    }
    assert rows == {(2, 1), (6, 5)}


def test_incremental_rollup_matches_batch_recompute(spark, dirs):
    from strava_data_pipeline_spark.streaming.rollup import start_rollup_maintenance

    landing, target, ckpt = dirs
    batch1 = [
        (1, datetime(2024, 1, 1, 10), 7, "run", 5.0),
        (2, datetime(2024, 1, 1, 11), 7, "ride", 20.0),
        (3, datetime(2024, 1, 2, 9), 8, "run", 3.0),
    ]
    batch2 = [
        (4, datetime(2024, 1, 1, 12), 9, "run", 7.0),   # touches day 1 again
        (5, datetime(2024, 1, 3, 8), 7, "hike", 11.0),  # new day
    ]
    _write_batch(spark, landing, batch1)
    q = start_rollup_maintenance(
        __import__(
            "strava_data_pipeline_spark.streaming.sync", fromlist=["read_event_stream"]
        ).read_event_stream(spark, landing),
        target,
        ckpt,
    )
    q.awaitTermination(120)
    _write_batch(spark, landing, batch2)
    q = start_rollup_maintenance(
        __import__(
            "strava_data_pipeline_spark.streaming.sync", fromlist=["read_event_stream"]
        ).read_event_stream(spark, landing),
        target,
        ckpt,
    )
    q.awaitTermination(120)

    got = {
        (str(r["p_day"]), r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.read.parquet(target).collect()
    }
    # ground truth: full batch recompute over everything landed
    from pyspark.sql import functions as F

    want_df = (
        spark.createDataFrame(batch1 + batch2, "event_id long, ts timestamp, "
                              "user_id long, event_type string, value double")
        .groupBy(F.to_date("ts").alias("p_day"), "event_type")
        .agg(F.count("*").cast("bigint").alias("n"), F.sum("value").alias("v"))
    )
    want = {
        (str(r["p_day"]), r["event_type"]): (r["n"], r["v"])
        for r in want_df.collect()
    }
    assert got == want


def test_rollup_rebuilt_checkpoint_new_app_id_not_skipped(spark, dirs):
    # A rebuilt checkpoint restarts batch ids at 0. Re-pointing the
    # rebuilt stream at an EXISTING rollup_dir must not let the old
    # run's replay markers swallow the new run's first batches — the
    # app_id scopes the markers per logical stream (ADVICE r4).
    from strava_data_pipeline_spark.streaming.rollup import start_rollup_maintenance
    from strava_data_pipeline_spark.streaming.sync import read_event_stream

    landing, target, ckpt = dirs
    _write_batch(spark, landing, [(1, datetime(2024, 1, 1, 10), 7, "run", 5.0)])
    q = start_rollup_maintenance(
        read_event_stream(spark, landing), target, ckpt, app_id="runA"
    )
    q.awaitTermination(120)

    # checkpoint rebuilt: fresh ckpt dir, fresh landing content, NEW
    # app_id → batch 0 of the new lineage applies even though runA's
    # batch-0 marker is present in the same rollup_dir
    landing2 = landing + "_2"
    os.makedirs(landing2)
    _write_batch(spark, landing2, [(2, datetime(2024, 1, 1, 11), 7, "run", 7.0)])
    q = start_rollup_maintenance(
        read_event_stream(spark, landing2), target, ckpt + "_2", app_id="runB"
    )
    q.awaitTermination(120)
    got = {
        (str(r["p_day"]), r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.read.parquet(target).collect()
    }
    assert got == {("2024-01-01", "run"): (2, 12.0)}

    # negative control — same rollup_dir, same app_id, rebuilt
    # checkpoint: the old marker swallows the new batch (the documented
    # failure mode the app_id exists to avoid)
    landing3 = landing + "_3"
    os.makedirs(landing3)
    _write_batch(spark, landing3, [(3, datetime(2024, 1, 1, 12), 7, "run", 9.0)])
    q = start_rollup_maintenance(
        read_event_stream(spark, landing3), target, ckpt + "_3", app_id="runA"
    )
    q.awaitTermination(120)
    got = {
        (str(r["p_day"]), r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.read.parquet(target).collect()
    }
    assert got == {("2024-01-01", "run"): (2, 12.0)}  # unchanged: skipped


def test_stream_stream_outer_join_emits_unmatched_after_watermark(spark, dirs):
    from strava_data_pipeline_spark.streaming.joins import attribute_with_unmatched

    landing, target, ckpt = dirs

    def run_once():
        stream = read_event_stream(spark, landing)
        views = stream.where(stream["event_type"] == "view")
        purchases = stream.where(stream["event_type"] == "purchase")
        joined = attribute_with_unmatched(
            views, purchases, max_delay="30 minutes"
        )
        q = (
            joined.writeStream.format("parquet")
            .option("path", target)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _write_batch(
        spark,
        landing,
        [
            (1, datetime(2024, 1, 1, 10, 0), 7, "view", 0.0),
            (2, datetime(2024, 1, 1, 10, 10), 7, "purchase", 9.99),
            # unmatched: 60 min after the only view (> 30 min cap)
            (3, datetime(2024, 1, 1, 11, 0), 7, "purchase", 5.0),
            # unmatched: no view at all
            (4, datetime(2024, 1, 1, 10, 5), 8, "purchase", 1.0),
            # watermark pushers on BOTH sides: the global watermark is
            # the MIN across every withWatermark node, so a view alone
            # would leave the purchases side (and the global) behind
            (5, datetime(2024, 1, 1, 13, 0), 99, "view", 0.0),
            (98, datetime(2024, 1, 1, 13, 0), 99, "purchase", 0.0),
        ],
    )
    run_once()
    # the unmatched rows can only emit in a LATER batch that runs with
    # the advanced watermark (deferred emission is the outer-join
    # correctness contract, not an off-by-one): land a second batch and
    # resume from the same checkpoint
    _write_batch(
        spark,
        landing,
        [
            (6, datetime(2024, 1, 1, 15, 0), 99, "view", 0.0),
            (97, datetime(2024, 1, 1, 15, 0), 99, "purchase", 0.0),
        ],
    )
    run_once()

    rows = {
        (r["follow_id"], r["lead_id"])
        for r in spark.read.parquet(target).collect()
    }
    assert (2, 1) in rows                      # attributed within the cap
    assert (3, None) in rows and (4, None) in rows  # emitted null-matched


def test_native_session_window(spark, dirs):
    from strava_data_pipeline_spark.streaming.windowed import session_window_stats

    landing, _, ckpt = dirs
    # user 7: two events 10 min apart (one session), then a 90-min gap
    # (second session); user 8: one event
    _write_batch(
        spark,
        landing,
        [
            (1, datetime(2024, 1, 1, 10, 0), 7, "run", 5.0),
            (2, datetime(2024, 1, 1, 10, 10), 7, "run", 3.0),
            (3, datetime(2024, 1, 1, 11, 40), 7, "ride", 20.0),
            (4, datetime(2024, 1, 1, 10, 5), 8, "hike", 2.0),
        ],
    )
    agg = session_window_stats(read_event_stream(spark, landing), gap_minutes=30)
    q = (
        agg.writeStream.format("memory")
        .queryName("native_sessions")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r["user_id"], r["session_start"].hour, r["session_start"].minute): r
        for r in spark.sql("select * from native_sessions").collect()
    }
    assert len(rows) == 3
    first = rows[(7, 10, 0)]
    assert first["n_events"] == 2 and first["total_value"] == 8.0
    # session end = last event + gap (native session_window semantics)
    assert first["session_end"].minute == 40
    assert rows[(7, 11, 40)]["n_events"] == 1
    assert rows[(8, 10, 5)]["n_events"] == 1


class TestVersionedSink:
    def _start(self, spark, landing, store, ckpt):
        from strava_data_pipeline_spark.streaming.versioned_sink import (
            start_versioned_sink,
        )

        q = start_versioned_sink(
            read_event_stream(spark, landing), store, ckpt
        )
        q.awaitTermination(120)

    def test_merge_across_batches_and_snapshot_history(self, spark, dirs):
        from strava_data_pipeline_spark.sources import versioned as V

        landing, target, ckpt = dirs
        store = target + "_store"
        _write_batch(
            spark,
            landing,
            [
                (1, datetime(2024, 1, 1, 10, 0), 7, "run", 5.0),
                (2, datetime(2024, 1, 1, 11, 0), 8, "ride", 9.0),
            ],
        )
        self._start(spark, landing, store, ckpt)
        assert V.current_version(spark, store) == 1
        # second landing: update event 2 (newer ts) + insert event 3
        _write_batch(
            spark,
            landing,
            [
                (2, datetime(2024, 1, 2, 11, 0), 8, "ride", 11.0),
                (3, datetime(2024, 1, 2, 12, 0), 9, "hike", 1.0),
            ],
        )
        self._start(spark, landing, store, ckpt)
        assert V.current_version(spark, store) == 2
        latest = {
            r["event_id"]: r["value"]
            for r in V.read_snapshot(spark, store).collect()
        }
        assert latest == {1: 5.0, 2: 11.0, 3: 1.0}
        # time travel still sees the pre-update state
        v1 = {
            r["event_id"]: r["value"]
            for r in V.read_snapshot(spark, store, version=1).collect()
        }
        assert v1 == {1: 5.0, 2: 9.0}

    def test_replayed_batch_is_skipped_exactly_once(self, spark, dirs):
        from strava_data_pipeline_spark.sources import versioned as V
        from strava_data_pipeline_spark.streaming.versioned_sink import (
            start_versioned_sink,
        )

        landing, target, ckpt = dirs
        store = target + "_store"
        _write_batch(
            spark, landing, [(1, datetime(2024, 1, 1, 10, 0), 7, "run", 5.0)]
        )
        self._start(spark, landing, store, ckpt)
        assert V.current_version(spark, store) == 1
        # simulate the crash-after-commit-before-checkpoint replay:
        # re-run the SAME landing data with a FRESH checkpoint, so
        # foreachBatch re-fires with batch_id 0 — the batch marker must
        # short-circuit it (no new version, no duplicate rows)
        q = start_versioned_sink(
            read_event_stream(spark, landing), store, ckpt + "_replay"
        )
        q.awaitTermination(120)
        assert V.current_version(spark, store) == 1
        assert V.read_snapshot(spark, store).count() == 1


class TestPartitionedVersionedSink:
    """Partition-scoped versioned sink: a micro-batch rewrites ONLY the
    day partitions it touches; every other day's files are reused
    byte-identical by the next version's manifest."""

    def _start(self, spark, landing, store, ckpt):
        from strava_data_pipeline_spark.streaming.versioned_sink import (
            start_versioned_sink,
        )

        q = start_versioned_sink(
            read_event_stream(spark, landing), store, ckpt, partition_col="day"
        )
        q.awaitTermination(120)

    @staticmethod
    def _dir_bytes(root: str, rel: str) -> dict[str, bytes]:
        d = os.path.join(root, rel)
        out = {}
        for name in sorted(os.listdir(d)):
            if name.startswith("part-"):
                with open(os.path.join(d, name), "rb") as f:
                    out[name] = f.read()
        return out

    def test_batch_rewrites_only_touched_day(self, spark, dirs):
        from strava_data_pipeline_spark.sources import versioned as V

        landing, target, ckpt = dirs
        store = target + "_pstore"
        _write_batch(
            spark,
            landing,
            [
                (1, datetime(2024, 1, 1, 10, 0), 7, "run", 5.0),
                (2, datetime(2024, 1, 2, 10, 0), 7, "run", 6.0),
                (3, datetime(2024, 1, 3, 10, 0), 8, "ride", 7.0),
            ],
        )
        self._start(spark, landing, store, ckpt)
        assert V.current_version(spark, store) == 1
        m1 = V.read_manifest(spark, store, 1)
        assert set(m1) == {"2024-01-01", "2024-01-02", "2024-01-03"}
        untouched_before = {
            d: self._dir_bytes(store, m1[d]) for d in ("2024-01-01", "2024-01-02")
        }

        # second batch touches ONLY 2024-01-03 (updates event 3)
        _write_batch(
            spark, landing, [(3, datetime(2024, 1, 3, 12, 0), 8, "ride", 9.9)]
        )
        self._start(spark, landing, store, ckpt)
        assert V.current_version(spark, store) == 2
        m2 = V.read_manifest(spark, store, 2)
        # untouched days: same data dirs, byte-identical files
        for day in ("2024-01-01", "2024-01-02"):
            assert m2[day] == m1[day], f"{day} was rewritten"
            assert self._dir_bytes(store, m2[day]) == untouched_before[day]
        # touched day: a NEW dir under the new version's segment
        assert m2["2024-01-03"] != m1["2024-01-03"]
        assert m2["2024-01-03"].startswith("seg/v2/")

        latest = {
            r["event_id"]: r["value"]
            for r in V.read_snapshot(spark, store).collect()
        }
        assert latest == {1: 5.0, 2: 6.0, 3: 9.9}
        # time travel to v1 still sees the pre-update value
        v1 = {
            r["event_id"]: r["value"]
            for r in V.read_snapshot(spark, store, version=1).collect()
        }
        assert v1 == {1: 5.0, 2: 6.0, 3: 7.0}

    def test_cross_day_update_relocates_key(self, spark, dirs):
        # ADVICE r3: a key whose to_date(ts) MOVES (late correction
        # crossing midnight) must not leave its stale row in the old
        # day partition — read_snapshot would return two rows for one
        # event_id and rollups would double-count.
        from strava_data_pipeline_spark.sources import versioned as V

        landing, target, ckpt = dirs
        store = target + "_pstore"
        _write_batch(
            spark,
            landing,
            [
                (1, datetime(2024, 1, 1, 23, 0), 7, "run", 5.0),
                (2, datetime(2024, 1, 1, 10, 0), 7, "run", 6.0),
                (3, datetime(2024, 1, 3, 12, 0), 8, "ride", 7.0),
                (4, datetime(2024, 1, 4, 8, 0), 9, "swim", 3.0),
            ],
        )
        self._start(spark, landing, store, ckpt)
        # batch 2: event 1 moves Jan1→Jan2 (newer ts wins, relocates);
        # event 3 gets an OLDER out-of-order row on Jan2 (must lose to
        # the existing Jan3 copy — no relocation, no duplicate)
        _write_batch(
            spark,
            landing,
            [
                (1, datetime(2024, 1, 2, 1, 0), 7, "run", 9.0),
                (3, datetime(2024, 1, 2, 9, 0), 8, "ride", 1.0),
            ],
        )
        self._start(spark, landing, store, ckpt)

        by_id: dict[int, list] = {}
        for r in V.read_snapshot(spark, store).collect():
            by_id.setdefault(r["event_id"], []).append(r)
        assert len(by_id[1]) == 1, "stale copy left in the old day"
        assert by_id[1][0]["value"] == 9.0
        assert str(by_id[1][0]["day"]) == "2024-01-02"
        assert len(by_id[3]) == 1, "out-of-order row duplicated the key"
        assert by_id[3][0]["value"] == 7.0  # newest ts won
        assert str(by_id[3][0]["day"]) == "2024-01-03"
        assert len(by_id[2]) == 1 and by_id[2][0]["value"] == 6.0
        # the moved key's OLD day was rewritten in v2 (it had to shed
        # the stale row), and event 3's prior day joined the merge (its
        # batch row had to lose to the existing copy); a day holding NO
        # batch key (2024-01-04) keeps its v1 dir byte-identical
        m1 = V.read_manifest(spark, store, 1)
        m2 = V.read_manifest(spark, store, 2)
        assert m2["2024-01-01"].startswith("seg/v2/")
        assert m2["2024-01-04"] == m1["2024-01-04"]

    def test_vacated_day_is_dropped_not_emptied(self, spark, dirs):
        # a day whose ONLY key moves away must leave the manifest, not
        # become an empty dir (no part files) that kills the next
        # partition-pruned read with a parquet schema-inference error
        from strava_data_pipeline_spark.sources import versioned as V

        landing, target, ckpt = dirs
        store = target + "_pstore"
        _write_batch(
            spark,
            landing,
            [
                (1, datetime(2024, 1, 1, 23, 0), 7, "run", 5.0),
                (2, datetime(2024, 1, 2, 10, 0), 7, "run", 6.0),
            ],
        )
        self._start(spark, landing, store, ckpt)
        # event 1 was Jan 1's ONLY row; the correction moves it to Jan 2
        _write_batch(
            spark, landing, [(1, datetime(2024, 1, 2, 1, 0), 7, "run", 9.0)]
        )
        self._start(spark, landing, store, ckpt)

        m2 = V.read_manifest(spark, store, 2)
        assert "2024-01-01" not in m2, "vacated day left in the manifest"
        rows = {
            r["event_id"]: (r["value"], str(r["day"]))
            for r in V.read_snapshot(spark, store).collect()
        }
        assert rows == {1: (9.0, "2024-01-02"), 2: (6.0, "2024-01-02")}
        # a partition-pruned read of the vacated day must be a clean
        # miss (None), not an AnalysisException on an empty dir
        from datetime import date

        assert V.read_snapshot_parts(spark, store, [date(2024, 1, 1)]) is None
        # time travel still sees the pre-move layout
        v1 = {
            r["event_id"]: str(r["day"])
            for r in V.read_snapshot(spark, store, version=1).collect()
        }
        assert v1 == {1: "2024-01-01", 2: "2024-01-02"}

    def test_replay_is_idempotent(self, spark, dirs):
        from strava_data_pipeline_spark.sources import versioned as V

        landing, target, ckpt = dirs
        store = target + "_pstore"
        _write_batch(
            spark,
            landing,
            [
                (1, datetime(2024, 1, 1, 10, 0), 7, "run", 5.0),
                (2, datetime(2024, 1, 2, 10, 0), 7, "run", 6.0),
            ],
        )
        self._start(spark, landing, store, ckpt)
        assert V.current_version(spark, store) == 1

        # replay path 1: crash after batch marker — fresh checkpoint
        # re-fires batch 0, the marker short-circuits it entirely
        self._start(spark, landing, store, ckpt + "_replay")
        assert V.current_version(spark, store) == 1

        # replay path 2: crash BETWEEN version marker and batch marker —
        # drop the batch marker so the replay re-merges on top of v1;
        # latest-wins of identical rows must converge to equal contents
        fs, jvm = V._fs(spark, store)
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(f"{store}/_batch_0.committed"), False
        )
        self._start(spark, landing, store, ckpt + "_replay2")
        assert V.current_version(spark, store) == 2
        rows = V.read_snapshot(spark, store).collect()
        assert len(rows) == 2  # no duplicate keys
        assert {r["event_id"]: r["value"] for r in rows} == {1: 5.0, 2: 6.0}

    def test_vacuum_spares_dirs_referenced_by_kept_manifests(self, spark, dirs):
        from strava_data_pipeline_spark.sources import versioned as V

        landing, target, ckpt = dirs
        store = target + "_pstore"
        _write_batch(
            spark,
            landing,
            [
                (1, datetime(2024, 1, 1, 10, 0), 7, "run", 5.0),
                (2, datetime(2024, 1, 2, 10, 0), 7, "run", 6.0),
            ],
        )
        self._start(spark, landing, store, ckpt)
        _write_batch(
            spark, landing, [(2, datetime(2024, 1, 2, 12, 0), 7, "run", 8.0)]
        )
        self._start(spark, landing, store, ckpt)
        m2 = V.read_manifest(spark, store, 2)
        assert m2["2024-01-01"].startswith("seg/v1/")  # shared with v1

        removed = V.vacuum(spark, store, keep_last=1)
        assert removed == [1]
        # the v1 dir still referenced by v2's manifest survives …
        assert os.path.isdir(os.path.join(store, m2["2024-01-01"]))
        # … while v1's superseded 2024-01-02 dir is gone
        assert not os.path.isdir(os.path.join(store, "seg/v1/2024-01-02"))
        latest = {
            r["event_id"]: r["value"]
            for r in V.read_snapshot(spark, store).collect()
        }
        assert latest == {1: 5.0, 2: 8.0}


class TestCdfRollup:
    """CDF consumer: folding snapshot_diff deltas into the rollup must
    reproduce a full recompute bit-for-bit (exact-cents sums), across
    inserts, value updates, a day-moving update, and deletes."""

    def test_incremental_equals_recompute(self, spark, dirs):
        from strava_data_pipeline_spark.sources import versioned as V
        from strava_data_pipeline_spark.streaming import cdf

        landing, target, ckpt = dirs
        store = target + "_cdfstore"
        v1 = spark.createDataFrame(
            [
                (1, datetime(2024, 1, 1, 10, 0), 7, "run", 5.0),
                (2, datetime(2024, 1, 1, 11, 0), 7, "run", 3.25),
                (3, datetime(2024, 1, 2, 10, 0), 8, "ride", 9.0),
                (4, datetime(2024, 1, 2, 12, 0), 9, "hike", 2.5),
            ],
            EVENT_SCHEMA,
        )
        v2 = spark.createDataFrame(
            [
                (1, datetime(2024, 1, 1, 10, 0), 7, "run", 5.0),  # unchanged
                (2, datetime(2024, 1, 1, 11, 30), 7, "run", 4.75),  # value upd
                # 3 deleted
                (4, datetime(2024, 1, 3, 12, 0), 9, "hike", 2.5),  # moved day
                (5, datetime(2024, 1, 3, 9, 0), 9, "run", 1.0),  # insert
            ],
            EVENT_SCHEMA,
        )
        V.commit_snapshot(v1, store)
        V.commit_snapshot(v2, store)

        rollup_v1 = cdf.events_rollup_of(V.read_snapshot(spark, store, 1))
        diff = V.snapshot_diff(spark, store, 1, 2, key="event_id")
        incremental = cdf.apply_rollup_delta(
            rollup_v1, cdf.rollup_delta_from_cdf(diff)
        )
        recomputed = cdf.events_rollup_of(V.read_snapshot(spark, store, 2))

        key = lambda r: (str(r["p_day"]), r["event_type"])  # noqa: E731
        inc = {key(r): (r["n_events"], r["value_cents"]) for r in incremental.collect()}
        full = {key(r): (r["n_events"], r["value_cents"]) for r in recomputed.collect()}
        assert inc == full
        # the fully-deleted (2024-01-02, ride) group left no residue row
        assert ("2024-01-02", "ride") not in inc


class TestIncrementalRollupConsumer:
    """End-to-end lakehouse loop: partitioned versioned sink produces
    versions; refresh_rollup_from_store folds only the CDF between
    consumed versions into a versioned rollup. Incremental must equal
    recompute at every step, including across the crash window."""

    def test_sink_to_rollup_loop(self, spark, dirs):
        from strava_data_pipeline_spark.sources import versioned as V
        from strava_data_pipeline_spark.streaming import cdf
        from strava_data_pipeline_spark.streaming.versioned_sink import (
            start_versioned_sink,
        )

        landing, target, ckpt = dirs
        store, rollup = target + "_store", target + "_rollup"

        def run_sink():
            # same checkpoint across runs: batch ids advance, so the
            # replay markers don't suppress genuinely new batches
            q = start_versioned_sink(
                read_event_stream(spark, landing), store, ckpt,
                partition_col="day",
            )
            q.awaitTermination(120)

        def rollup_now():
            return {
                (str(r["p_day"]), r["event_type"]): (r["n_events"], r["value_cents"])
                for r in V.read_snapshot(spark, rollup).collect()
            }

        def recompute():
            snap = V.read_snapshot(spark, store).drop("day")
            return {
                (str(r["p_day"]), r["event_type"]): (r["n_events"], r["value_cents"])
                for r in cdf.events_rollup_of(snap).collect()
            }

        _write_batch(
            spark,
            landing,
            [
                (1, datetime(2024, 1, 1, 10, 0), 7, "run", 5.0),
                (2, datetime(2024, 1, 2, 10, 0), 8, "ride", 9.0),
            ],
        )
        run_sink()
        assert cdf.refresh_rollup_from_store(spark, store, rollup) == 1
        assert rollup_now() == recompute()
        # no new store version → refresh is a no-op
        assert cdf.refresh_rollup_from_store(spark, store, rollup) is None

        # second batch: update event 2's value + insert event 3 (new day)
        _write_batch(
            spark,
            landing,
            [
                (2, datetime(2024, 1, 2, 12, 0), 8, "ride", 11.5),
                (3, datetime(2024, 1, 3, 9, 0), 9, "hike", 2.0),
            ],
        )
        run_sink()
        assert cdf.refresh_rollup_from_store(spark, store, rollup) == 2
        assert rollup_now() == recompute()

        # crash window: drop the consumed marker (rollup snapshot already
        # committed) — the re-refresh must fold from the MARKED base, not
        # double-apply onto the orphan snapshot
        fs, jvm = V._fs(spark, rollup)
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(f"{rollup}/_consumed_s2_r2"), False
        )
        assert cdf.refresh_rollup_from_store(spark, store, rollup) == 2
        assert rollup_now() == recompute()


class TestSnapshotDiff:
    def test_insert_update_delete_classified(self, spark, tmp_path):
        from strava_data_pipeline_spark.sources import versioned as V

        root = str(tmp_path / "tbl")
        d1 = spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["k", "s", "v"]
        )
        d2 = spark.createDataFrame(
            [(2, "b", 21.0), (3, "c", 30.0), (4, "d", 40.0)], ["k", "s", "v"]
        )
        V.commit_snapshot(d1, root)
        V.commit_snapshot(d2, root)
        diff = {
            r["k"]: r["change"]
            for r in V.snapshot_diff(spark, root, 1, 2, key="k").collect()
        }
        assert diff == {1: "delete", 2: "update", 4: "insert"}

    def test_null_safe_and_schema_guard(self, spark, tmp_path):
        import pytest as _pytest

        from strava_data_pipeline_spark.sources import versioned as V

        root = str(tmp_path / "tbl")
        d1 = spark.createDataFrame([(1, None), (2, "x")], "k long, s string")
        d2 = spark.createDataFrame([(1, None), (2, None)], "k long, s string")
        V.commit_snapshot(d1, root)
        V.commit_snapshot(d2, root)
        diff = {
            r["k"]: r["change"]
            for r in V.snapshot_diff(spark, root, 1, 2, key="k").collect()
        }
        # null == null must be UNCHANGED (eqNullSafe), x -> null is update
        assert diff == {2: "update"}
        V.commit_snapshot(d2.withColumnRenamed("s", "t"), root)
        with _pytest.raises(ValueError):
            V.snapshot_diff(spark, root, 2, 3, key="k")


class TestStreamingDedupIndex:
    """Streaming minhash dedup against the versioned signature index:
    verdicts match the batch operator's rules across micro-batches,
    kept-dir writes are replay-idempotent, the index only ever holds
    survivors."""

    DOC = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep green forest while the sun sets slowly behind hills"
    )
    NEAR = DOC.replace("green", "blue")
    OTHER = (
        "completely different content about spark query engines and their "
        "catalyst optimizer rules for distributed columnar execution plans"
    )

    def _run(self, spark, landing, index_root, kept, ckpt):
        from strava_data_pipeline_spark.streaming.dedup_index import (
            read_doc_stream,
            start_minhash_dedup_sink,
        )

        q = start_minhash_dedup_sink(
            read_doc_stream(spark, landing), index_root, kept, ckpt
        )
        q.awaitTermination(120)

    def test_cross_batch_dedup_and_replay(self, spark, tmp_path):
        from strava_data_pipeline_spark.sources import versioned as V
        from strava_data_pipeline_spark.streaming.dedup_index import (
            DOC_SCHEMA,
            read_kept_docs,
        )

        landing = str(tmp_path / "landing")
        index_root = str(tmp_path / "index")
        kept = str(tmp_path / "kept")
        ckpt = str(tmp_path / "ckpt")
        os.makedirs(landing)

        # batch 1: 2 is an exact dup of 1 (lower id wins); 3 is novel
        spark.createDataFrame(
            [(1, self.DOC), (2, self.DOC), (3, self.OTHER)], DOC_SCHEMA
        ).coalesce(1).write.mode("append").parquet(landing)
        self._run(spark, landing, index_root, kept, ckpt)
        assert {
            r["doc_id"] for r in read_kept_docs(spark, kept).collect()
        } == {1, 3}

        # batch 2: 10 near-dups an INDEX doc (dropped against history),
        # 11 is novel, 12 is too short to shingle (trivially kept)
        spark.createDataFrame(
            [(10, self.NEAR), (11, "completely novel text about alpine "
              "meadows and the seasonal migration of shepherd flocks"),
             (12, "hi")],
            DOC_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(landing)
        self._run(spark, landing, index_root, kept, ckpt)
        assert {
            r["doc_id"] for r in read_kept_docs(spark, kept).collect()
        } == {1, 3, 11, 12}

        # index holds exactly the shingle-able survivors' signatures
        idx = {r["doc_id"] for r in V.read_snapshot(spark, index_root).collect()}
        assert idx == {1, 3, 11}
        versions_before = V.committed_versions(spark, index_root)

        # replay: re-run with the same checkpoint and no new files —
        # no new version, no duplicate kept rows
        self._run(spark, landing, index_root, kept, ckpt)
        assert V.committed_versions(spark, index_root) == versions_before
        assert read_kept_docs(spark, kept).count() == 4

        # crash replay: index committed but batch marker lost (the
        # crash window between commit_snapshot and mark_batch). The
        # replayed batch sees ITS OWN survivors already in the index
        # under the same ids — they must NOT self-match at est 1.0 and
        # vanish from the kept dir.
        fs, jvm = V._fs(spark, index_root)
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(f"{index_root}/_batch_1.committed"),
            False,
        )
        self._run(spark, landing, index_root, kept, ckpt + "_replay")
        assert {
            r["doc_id"] for r in read_kept_docs(spark, kept).collect()
        } == {1, 3, 11, 12}, "crash replay dropped its own survivors"
        idx_rows = [
            r["doc_id"] for r in V.read_snapshot(spark, index_root).collect()
        ]
        assert sorted(idx_rows) == [1, 3, 11], (
            "replay duplicated or lost index signatures"
        )


class TestReviewHardening:
    """r4 review findings: null-day merges, rollup replay, stateful
    null-ts, vacuumed-consumer fallback."""

    def _sync(self, spark, landing, target, ckpt):
        from strava_data_pipeline_spark.streaming.sync import (
            read_event_stream,
            start_incremental_sync,
        )

        q = start_incremental_sync(read_event_stream(spark, landing), target, ckpt)
        q.awaitTermination(120)

    def test_null_ts_day_rows_survive_later_null_batches(self, spark, dirs):
        # isin() never matches NULL: without the null-safe day filter, a
        # second batch containing a null-ts event would overwrite the
        # NULL-day partition with only its own rows
        landing, target, ckpt = dirs
        _write_batch(
            spark,
            landing,
            [
                (1, None, 7, "run", 5.0),
                (2, datetime(2024, 1, 1, 10), 7, "ride", 6.0),
            ],
        )
        self._sync(spark, landing, target, ckpt)
        _write_batch(spark, landing, [(3, None, 8, "swim", 1.0)])
        self._sync(spark, landing, target, ckpt)
        rows = {r["event_id"] for r in spark.read.parquet(target).collect()}
        assert rows == {1, 2, 3}, "stored NULL-day rows were lost"

    def test_sync_batch_over_existing_new_and_null_days(self, spark, dirs):
        # one batch touches a stored day, a day with no dir yet and the
        # NULL day at once: each stored day merges with its own rows
        landing, target, ckpt = dirs
        _write_batch(
            spark,
            landing,
            [
                (1, None, 7, "run", 5.0),
                (2, datetime(2024, 1, 1, 10), 7, "ride", 6.0),
                (3, datetime(2024, 1, 2, 10), 7, "hike", 7.0),
            ],
        )
        self._sync(spark, landing, target, ckpt)
        untouched = _partition_state(target, "2024-01-02")
        _write_batch(
            spark,
            landing,
            [
                (2, datetime(2024, 1, 1, 11), 7, "ride", 60.0),
                (4, datetime(2024, 1, 1, 9), 8, "run", 8.0),
                (5, datetime(2024, 1, 9, 9), 8, "swim", 9.0),
                (6, None, 8, "swim", 10.0),
            ],
        )
        self._sync(spark, landing, target, ckpt)
        got = {
            r["event_id"]: (r["value"], r["p_day"] and str(r["p_day"]))
            for r in spark.read.parquet(target).collect()
        }
        assert got == {
            1: (5.0, None),
            2: (60.0, "2024-01-01"),
            3: (7.0, "2024-01-02"),
            4: (8.0, "2024-01-01"),
            5: (9.0, "2024-01-09"),
            6: (10.0, None),
        }
        assert _partition_state(target, "2024-01-02") == untouched

    def test_rollup_null_ts_day_totals_accumulate(self, spark, dirs):
        # rollup twin of the null-ts sync case: a second null-ts batch
        # must add to the stored NULL-day totals, not replace them
        from strava_data_pipeline_spark.streaming.rollup import (
            start_rollup_maintenance,
        )

        landing, target, ckpt = dirs
        _write_batch(
            spark,
            landing,
            [
                (1, None, 7, "run", 5.0),
                (2, datetime(2024, 1, 1, 10), 7, "run", 6.0),
            ],
        )
        start_rollup_maintenance(
            read_event_stream(spark, landing), target, ckpt
        ).awaitTermination(120)
        _write_batch(spark, landing, [(3, None, 8, "run", 1.25)])
        start_rollup_maintenance(
            read_event_stream(spark, landing), target, ckpt
        ).awaitTermination(120)
        got = {
            (r["p_day"] and str(r["p_day"]), r["event_type"]): (
                r["n_events"],
                r["total_value"],
            )
            for r in spark.read.parquet(target).collect()
        }
        assert got == {(None, "run"): (2, 6.25), ("2024-01-01", "run"): (1, 6.0)}

    def test_rollup_replay_marker_prevents_double_count(self, spark, dirs):
        from strava_data_pipeline_spark.streaming.rollup import (
            start_rollup_maintenance,
        )
        from strava_data_pipeline_spark.streaming.sync import read_event_stream

        landing, target, ckpt = dirs
        _write_batch(
            spark, landing, [(1, datetime(2024, 1, 1, 10), 7, "run", 5.0)]
        )
        q = start_rollup_maintenance(
            read_event_stream(spark, landing), target, ckpt
        )
        q.awaitTermination(120)
        # fresh checkpoint re-delivers batch 0: the additive fold is NOT
        # value-idempotent, so only the applied-marker stops +5.0 again
        q = start_rollup_maintenance(
            read_event_stream(spark, landing), target, ckpt + "_replay"
        )
        q.awaitTermination(120)
        rows = spark.read.parquet(target).collect()
        assert len(rows) == 1
        assert rows[0]["n_events"] == 1 and rows[0]["total_value"] == 5.0

    def test_stateful_sessions_ignore_null_ts(self, spark, dirs):
        from strava_data_pipeline_spark.streaming.stateful import track_sessions
        from strava_data_pipeline_spark.streaming.sync import read_event_stream

        landing, _, ckpt = dirs
        _write_batch(
            spark,
            landing,
            [
                (1, datetime(2024, 1, 1, 10, 0), 7, "run", 5.0),
                (2, None, 7, "run", 3.0),   # no event time: dropped
                (3, None, 99, "ride", 1.0),  # whole group null: no state
            ],
        )
        sessions = track_sessions(read_event_stream(spark, landing))
        q = (
            sessions.writeStream.format("memory")
            .queryName("null_ts_sessions")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _drain_and_stop(q)
        # the processing-time timeout never fires within the run, so no
        # rows emit — the assertion is that NaT didn't crash the
        # batch (pre-fix: ValueError in astype int64 fails the query)
        assert spark.table("null_ts_sessions").count() == 0

    def test_cdf_refresh_reseeds_after_vacuum(self, spark, dirs):
        from strava_data_pipeline_spark.sources import versioned as V
        from strava_data_pipeline_spark.streaming.cdf import (
            events_rollup_of,
            refresh_rollup_from_store,
        )

        landing, target, ckpt = dirs
        store, rollup = target + "_store", target + "_rollup"
        d1 = spark.createDataFrame(
            [(1, datetime(2024, 1, 1, 10), 7, "run", 5.0)],
            "event_id long, ts timestamp, user_id long, event_type string, value double",
        )
        V.commit_snapshot(d1, store)
        assert refresh_rollup_from_store(spark, store, rollup) == 1
        # store advances twice more while the consumer sleeps, then
        # vacuum removes the consumed version (1)
        V.commit_snapshot(
            d1.unionByName(
                spark.createDataFrame(
                    [(2, datetime(2024, 1, 2, 9), 8, "ride", 2.0)],
                    d1.schema,
                )
            ),
            store,
        )
        V.commit_snapshot(
            spark.createDataFrame(
                [(2, datetime(2024, 1, 2, 9), 8, "ride", 2.0)], d1.schema
            ),
            store,
        )
        V.vacuum(spark, store, keep_last=1)
        assert refresh_rollup_from_store(spark, store, rollup) == 3
        got = {
            (str(r["p_day"]), r["event_type"]): (r["n_events"], r["value_cents"])
            for r in V.read_snapshot(spark, rollup).collect()
        }
        want = {
            (str(r["p_day"]), r["event_type"]): (r["n_events"], r["value_cents"])
            for r in events_rollup_of(V.read_snapshot(spark, store)).collect()
        }
        assert got == want, "post-vacuum re-seed diverged from recompute"


def test_session_window_exact_gap_boundary(spark, dirs):
    # F.session_window MERGES an event arriving EXACTLY gap after the
    # previous one (verified here on a planted pair — the synthetic
    # corpus has no exact-gap case to exercise it): the same > 1800
    # break contract as batch sessionize, which is what
    # session_window_audit's oracle encodes. A half-open reading of
    # the window ([start, last+gap)) would predict a split; Spark's
    # merge step treats start <= other.end as overlapping.
    from strava_data_pipeline_spark.streaming.windowed import (
        session_window_stats,
    )

    landing, target, ckpt = dirs
    _write_batch(
        spark,
        landing,
        [
            (1, datetime(2024, 1, 1, 10, 0), 7, "run", 1.0),
            # exactly 30 min later -> new session under session_window
            (2, datetime(2024, 1, 1, 10, 30), 7, "run", 2.0),
            # 29:59 later -> same session
            (3, datetime(2024, 1, 1, 10, 59, 59), 7, "run", 3.0),
            # watermark pusher so both sessions close
            (4, datetime(2024, 1, 3), 99, "run", 0.0),
        ],
    )

    def run_once():
        q = (
            session_window_stats(read_event_stream(spark, landing))
            .writeStream.format("parquet")
            .option("path", target)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    _write_batch(spark, landing, [(5, datetime(2024, 1, 5), 99, "run", 0.0)])
    run_once()
    got = {
        (r["user_id"], r["n_events"], r["total_value"])
        for r in spark.read.parquet(target).collect()
        if r["user_id"] == 7
    }
    assert got == {(7, 3, 6.0)}

    # the batch contract agrees at the boundary: > 1800 keeps the
    # exact-gap pair together -> ONE session of all three events
    from strava_data_pipeline_spark.operators.sessionize import sessionize

    ev = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 10, 0), 7, "run", 1.0),
            (2, datetime(2024, 1, 1, 10, 30), 7, "run", 2.0),
            (3, datetime(2024, 1, 1, 10, 59, 59), 7, "run", 3.0),
        ],
        EVENT_SCHEMA,
    )
    n_sessions = (
        sessionize(ev, gap_minutes=30)
        .select("session_seq")
        .distinct()
        .count()
    )
    assert n_sessions == 1


def test_scoped_stream_shuffle_restores_width(spark):
    """The stream-tuning context manager (streaming/tuning.py) must pin
    the state-store width for the block and restore the analytics width
    afterwards — including when the block raises, so a failed stream
    never leaks a narrowed session conf into later batch plans."""
    from strava_data_pipeline_spark.streaming.tuning import (
        STREAM_WIDTH,
        scoped_stream_shuffle,
    )

    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    with scoped_stream_shuffle(spark):
        assert spark.conf.get(key) == str(STREAM_WIDTH)
    assert spark.conf.get(key) == prior

    with pytest.raises(RuntimeError, match="boom"):
        with scoped_stream_shuffle(spark, 3):
            assert spark.conf.get(key) == "3"
            raise RuntimeError("boom")
    assert spark.conf.get(key) == prior


def test_event_time_sessionizer_gap_and_timeout(spark, dirs):
    """The EventTimeTimeout gap sessionizer (streaming/stateful.py::
    track_sessions_event_time): sessions emit only once the WATERMARK
    proves them closed (never eagerly — an eager emit could not be
    repaired by a within-watermark late event), an EXACT-gap arrival
    merges (the batch sessionize boundary contract), and values
    accumulate in exact cents."""
    from strava_data_pipeline_spark.streaming.stateful import (
        track_sessions_event_time,
    )

    landing, target, ckpt = dirs

    def run_once():
        stream = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        (
            track_sessions_event_time(stream, gap_minutes=30)
            .writeStream.format("parquet")
            .option("path", target)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination(120)
        )

    # batch 1: session A (10:00, 10:10) splits from B (11:30) in-batch,
    # but nothing may EMIT yet — the run's final watermark is only
    # 10:30 (11:30 - 1h), short of A.close_at 10:40:01; a late event
    # <= 10:40 is still admissible and must be able to extend A
    _write_batch(
        spark,
        landing,
        [
            (1, datetime(2024, 1, 1, 10, 0), 7, "run", 5.25),
            (2, datetime(2024, 1, 1, 10, 10), 7, "run", 4.75),
            (3, datetime(2024, 1, 1, 11, 30), 7, "ride", 1.10),
        ],
    )
    run_once()
    assert spark.read.parquet(target).count() == 0

    # batch 2: 11:50 merges into B (20 min), 13:00 opens C (70 min gap),
    # 13:30 is the EXACT 30-min gap — must MERGE into C, not break.
    # The run's closing watermark 12:30 proves A and B' closed.
    _write_batch(
        spark,
        landing,
        [
            (4, datetime(2024, 1, 1, 11, 50), 7, "ride", 2.40),
            (5, datetime(2024, 1, 1, 13, 0), 7, "swim", 3.00),
            (6, datetime(2024, 1, 1, 13, 30), 7, "swim", 0.50),
        ],
    )
    run_once()
    got = {
        (r["session_start"], r["session_end"]): r
        for r in spark.read.parquet(target).collect()
    }
    a = got[(datetime(2024, 1, 1, 10, 0), datetime(2024, 1, 1, 10, 10))]
    assert (a["n_events"], a["total_cents"]) == (2, 1000)
    b = got[(datetime(2024, 1, 1, 11, 30), datetime(2024, 1, 1, 11, 50))]
    assert (b["n_events"], b["total_cents"]) == (2, 350)

    # two flush batches: the first advances the watermark past
    # C.end + gap, the second gives the timeout a batch to fire in
    _write_batch(
        spark, landing, [(-1, datetime(2024, 1, 1, 18, 0), -1, "x", 0.0)]
    )
    run_once()
    _write_batch(
        spark, landing, [(-2, datetime(2024, 1, 1, 19, 0), -1, "x", 0.0)]
    )
    run_once()
    got = {
        (r["session_start"], r["session_end"]): r
        for r in spark.read.parquet(target).where("user_id >= 0").collect()
    }
    assert len(got) == 3
    c = got[(datetime(2024, 1, 1, 13, 0), datetime(2024, 1, 1, 13, 30))]
    assert (c["n_events"], c["total_cents"]) == (2, 350)


def test_event_time_sessionizer_floor_gap_and_disorder(spark, dirs):
    """The two r8 ADVICE bugs, pinned: (1) gap arithmetic is on FLOOR
    SECONDS — a pair whose floor-gap is exactly 1800 s but whose µs gap
    exceeds 1800.0 s MERGES (raw-µs comparison split it); (2) a
    within-watermark late event arriving a batch later must BRIDGE two
    stored sessions into one — the single-tail state glued it to the
    newest session and could never repair the eagerly-emitted first."""
    from strava_data_pipeline_spark.streaming.stateful import (
        track_sessions_event_time,
    )

    landing, target, ckpt = dirs

    def run_once():
        stream = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(landing)
        )
        (
            track_sessions_event_time(stream, gap_minutes=30)
            .writeStream.format("parquet")
            .option("path", target)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination(120)
        )

    # batch 1: A = {10:00:00.100}, B = {10:50:00.900} — 50-min gap,
    # two sessions, neither provably closed (watermark ends at 9:50)
    _write_batch(
        spark,
        landing,
        [
            (1, datetime(2024, 1, 1, 10, 0, 0, 100_000), 7, "run", 1.00),
            (2, datetime(2024, 1, 1, 10, 50, 0, 900_000), 7, "run", 2.00),
        ],
    )
    run_once()
    assert spark.read.parquet(target).count() == 0

    # batch 2: the 10:25 straggler (admissible: >= watermark 9:50)
    # bridges A and B into ONE session; 11:20:00.950 is the EXACT
    # floor-second 30-min gap off B's end (floor 10:50:00 -> 11:20:00,
    # µs gap 1800.05 s) — must merge, not break
    _write_batch(
        spark,
        landing,
        [
            (3, datetime(2024, 1, 1, 10, 25, 0), 7, "run", 4.00),
            (4, datetime(2024, 1, 1, 11, 20, 0, 950_000), 7, "run", 8.00),
        ],
    )
    run_once()

    # flushes: advance the watermark past end + gap, then give the
    # event-time timeout a batch to fire in
    _write_batch(
        spark, landing, [(-1, datetime(2024, 1, 1, 16, 0), -1, "x", 0.0)]
    )
    run_once()
    _write_batch(
        spark, landing, [(-2, datetime(2024, 1, 1, 17, 0), -1, "x", 0.0)]
    )
    run_once()

    rows = spark.read.parquet(target).where("user_id >= 0").collect()
    assert len(rows) == 1
    s = rows[0]
    assert (s["n_events"], s["total_cents"]) == (4, 1500)
    assert s["session_start"] == datetime(2024, 1, 1, 10, 0, 0, 100_000)
    assert s["session_end"] == datetime(2024, 1, 1, 11, 20, 0, 950_000)


def test_cms_sink_prefix_validity(spark, dirs):
    """The streaming CMS sink (streaming/sketch.py): after every batch
    the summed deltas form a valid sketch of exactly the rows seen so
    far — the additivity contract that lets any prefix serve reads
    while the feed keeps landing."""
    from strava_data_pipeline_spark.streaming.sketch import (
        cms_delta,
        read_cms_counters,
        start_cms_sink,
    )

    landing, target, ckpt = dirs
    b1 = [
        (1, datetime(2024, 1, 1, 10), 7, "run", 1.0),
        (2, datetime(2024, 1, 1, 11), 7, "run", 2.0),
        (3, datetime(2024, 1, 1, 12), 9, "ride", 3.0),
    ]
    b2 = [
        (4, datetime(2024, 1, 2, 10), 7, "run", 4.0),
        (5, datetime(2024, 1, 2, 11), 8, "swim", 5.0),
    ]

    def counters_now():
        return {
            (r["j"], r["b"]): r["v"]
            for r in read_cms_counters(spark, target).collect()
        }

    def batch_sketch(rows):
        df = spark.createDataFrame(rows, EVENT_SCHEMA)
        return {(r["j"], r["b"]): r["v"] for r in cms_delta(df).collect()}

    _write_batch(spark, landing, b1)
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    start_cms_sink(stream, target, ckpt).awaitTermination(120)
    assert counters_now() == batch_sketch(b1)

    _write_batch(spark, landing, b2)
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )
    start_cms_sink(stream, target, ckpt).awaitTermination(120)
    assert counters_now() == batch_sketch(b1 + b2)


def test_bucketed_attribution_matches_plain_inner(spark, dirs):
    # r10 hot-key remedy: the compound (key, time_bucket) join must be
    # row-for-row equal to the plain inner join — boundary cases
    # planted on bucket edges: a lead exactly max_delay before its
    # follow (other bucket), a same-instant pair (same bucket), a
    # follow one second past the window (no match), and a pair whose
    # bucket difference is 1 with a tiny time gap (bucket-edge
    # straddle). Each true pair must appear EXACTLY once (the two
    # follow copies never both match).
    from strava_data_pipeline_spark.streaming.joins import (
        attribute_to_prior_event_bucketed,
    )

    landing, target, ckpt = dirs
    _write_batch(
        spark,
        landing,
        [
            # exact 30-min edge: lead in the PREVIOUS bucket, matches
            (1, datetime(2024, 1, 1, 10, 0, 0), 7, "view", 0.0),
            (2, datetime(2024, 1, 1, 10, 30, 0), 7, "purchase", 9.99),
            # 30 min + 1 s: outside the window, no match
            (3, datetime(2024, 1, 1, 11, 0, 0), 7, "view", 0.0),
            (4, datetime(2024, 1, 1, 11, 30, 1), 7, "purchase", 5.0),
            # same instant: same bucket, matches
            (5, datetime(2024, 1, 1, 12, 0, 0), 8, "view", 0.0),
            (6, datetime(2024, 1, 1, 12, 0, 0), 8, "purchase", 1.0),
            # bucket-edge straddle: 12:29:59 view, 12:30:01 purchase —
            # 2 s apart but in DIFFERENT buckets (width 1800 s)
            (7, datetime(2024, 1, 1, 12, 29, 59), 9, "view", 0.0),
            (8, datetime(2024, 1, 1, 12, 30, 1), 9, "purchase", 3.0),
            # two qualifying leads for one follow: both emit, once each
            (9, datetime(2024, 1, 1, 14, 0, 0), 11, "view", 0.0),
            (10, datetime(2024, 1, 1, 14, 20, 0), 11, "view", 0.0),
            (11, datetime(2024, 1, 1, 14, 25, 0), 11, "purchase", 2.0),
            # r10 ADVICE follow-up: PRE-EPOCH event times can never
            # reach a watermarked stream-stream join — Spark seeds the
            # watermark at epoch 0, so 1969 rows are late-dropped by
            # the ENGINE before any bucket math runs (verified: they
            # produce no output). The bucket expression still uses
            # unix_timestamp (a true floorDiv) rather than a bare
            # trunc-toward-zero cast, and this pair pins the
            # FRACTIONAL-second straddle the floor must get right:
            # lead at 00:59:59.7 (bucket 1) vs follow at 01:00:00.2
            # (bucket 2) — 0.5 s apart across a bucket edge
            (12, datetime(1970, 1, 1, 0, 59, 59, 700000), 12, "view", 0.0),
            (13, datetime(1970, 1, 1, 1, 0, 0, 200000), 12, "purchase", 4.0),
        ],
    )
    stream = read_event_stream(spark, landing)
    views = stream.where(stream["event_type"] == "view")
    purchases = stream.where(stream["event_type"] == "purchase")
    joined = attribute_to_prior_event_bucketed(
        views, purchases, max_delay="30 minutes"
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", target)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = sorted(
        (r["follow_id"], r["lead_id"])
        for r in spark.read.parquet(target).collect()
    )
    # exactly these pairs, each exactly once (sorted list, not set, so
    # a double-emitted pair from both follow copies would fail)
    assert rows == [
        (2, 1), (6, 5), (8, 7), (11, 9), (11, 10), (13, 12),
    ]
