"""JSON activity-ingestion source tests (schema-on-read, quarantine,
incremental filter)."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from strava_data_pipeline_spark.sources.strava_api import (
    ACTIVITY_SCHEMA,
    incremental_filter,
    parse_activity_json,
    read_activity_json,
)

ACT = {
    "id": 101,
    "name": "Morning Run",
    "type": "Run",
    "distance": 5012.3,
    "moving_time": 1500,
    "elapsed_time": 1600,
    "start_date": "2024-01-10T06:30:00.000Z",
    "average_speed": 3.34,
    "has_heartrate": True,
    "athlete_id": 7,
}


def test_parse_typed_fields(spark):
    raw = spark.createDataFrame([(json.dumps(ACT),)], "json string")
    row = parse_activity_json(raw).collect()[0]
    assert row["id"] == 101 and row["athlete_id"] == 7
    assert row["distance"] == pytest.approx(5012.3)
    assert row["has_heartrate"] is True
    assert row["start_date"].year == 2024
    # absent fields surface as NULL, not errors (38-field schema)
    assert row["max_heartrate"] is None


def test_malformed_payload_quarantined_not_dropped(spark):
    raw = spark.createDataFrame(
        [(json.dumps(ACT),), ("{not valid json",)], "json string"
    )
    parsed = parse_activity_json(raw)
    assert parsed.count() == 2  # nothing silently dropped
    assert parsed.where(F.col("id").isNull()).count() == 1  # quarantine filter


def test_read_json_files_fixed_schema(spark, tmp_path):
    p = tmp_path / "landing"
    p.mkdir()
    acts = [dict(ACT, id=i, start_date=f"2024-01-{10+i:02d}T06:00:00Z") for i in range(5)]
    (p / "batch1.jsonl").write_text("\n".join(json.dumps(a) for a in acts))
    df = read_activity_json(spark, str(p))
    assert df.schema == ACTIVITY_SCHEMA
    assert df.count() == 5
    recent = incremental_filter(df, "2024-01-12 00:00:00")
    assert recent.count() == 3  # FetchActivities(after) inclusive bound


class TestCatalogTimestampContract:
    """Repo-wide rule: timestamp arithmetic goes through
    ``load_table``-normalized columns, so the loader must hand every
    logically-timestamp column back as plain TIMESTAMP regardless of how
    the parquet stored it (TIMESTAMP(NANOS) → bigint repair, or
    unadjusted timestamp[us] → TIMESTAMP_NTZ). Round 2 shipped red
    because events.ts surfaced as NTZ and epoch arithmetic is an
    AnalysisException on NTZ."""

    @pytest.mark.parametrize(
        "table,col",
        [("events", "ts"), ("orders", "o_orderdate"), ("lineitem", "l_shipdate")],
    )
    def test_timestamp_cols_normalized(self, spark, sf_dir, table, col, tmp_path, monkeypatch):
        import shutil

        from pyspark.sql.types import TimestampType

        from strava_data_pipeline_spark.sources.catalog import load_table

        # a fresh copy, so the first load is a miss (resolve) and the
        # second a hit (the kept handle); both must hold the contract
        shutil.copy(os.path.join(sf_dir, f"{table}.parquet"), tmp_path)
        conf_writes = []
        real_set = spark.conf.set
        monkeypatch.setattr(
            spark.conf, "set", lambda k, v: (conf_writes.append(k), real_set(k, v))
        )
        miss = load_table(spark, str(tmp_path), table)
        n_miss_writes = len(conf_writes)
        hit = load_table(spark, str(tmp_path), table)
        assert hit is miss
        assert len(conf_writes) == n_miss_writes, "a cache hit must write no conf"
        for df in (miss, hit):
            assert df.schema[col].dataType == TimestampType(), (
                f"{table}.{col} loaded as {df.schema[col].dataType}; "
                "epoch arithmetic (cast-to-long / unix_micros) requires TIMESTAMP"
            )
            # and the normalized column must actually support epoch arithmetic
            df.select(F.unix_micros(F.col(col))).limit(1).collect()


class TestCatalogHandles:
    """load_table keeps one handle per table version (sources/catalog.py
    module docstring): the same object while the path is unchanged, a
    fresh one that sees the new rows once the table is replaced. A
    version's second served read (note_read) copies it to the driver
    once, if it fits the broadcast threshold; a replace drops the old
    version's copy."""

    @staticmethod
    def _events(spark, ids, day):
        from datetime import datetime

        from strava_data_pipeline_spark.functions.local_frames import one_slice_frame
        from strava_data_pipeline_spark.streaming.sync import EVENT_SCHEMA

        rows = [(i, datetime(2024, 1, day, 10), 7, "run", float(i)) for i in ids]
        return one_slice_frame(spark, rows, EVENT_SCHEMA)

    @staticmethod
    def _at_once(n, fn):
        """Run ``fn`` on ``n`` threads released together, with a tiny
        switch interval so they interleave."""
        import sys
        import threading

        start = threading.Barrier(n)

        def run():
            start.wait(timeout=60)
            fn()

        threads = [threading.Thread(target=run) for _ in range(n)]
        old_interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=120)
        finally:
            sys.setswitchinterval(old_interval)
        assert not any(t.is_alive() for t in threads)

    def test_unchanged_path_returns_same_handle(self, spark, sf_dir):
        from strava_data_pipeline_spark.sources.catalog import load_table

        assert load_table(spark, sf_dir, "events") is load_table(spark, sf_dir, "events")

    def test_second_read_caches_version(self, spark, sf_dir, tmp_path):
        import shutil

        from strava_data_pipeline_spark.sources.catalog import load_table, note_read

        shutil.copy(os.path.join(sf_dir, "events.parquet"), tmp_path)
        handle = load_table(spark, str(tmp_path), "events")
        assert note_read(handle) is None
        copy = note_read(load_table(spark, str(tmp_path), "events"))
        assert copy is not None and copy.equals(handle.toArrow())
        assert note_read(handle) is copy

    @staticmethod
    def _copied(spark, root):
        """The driver copy of ``root``'s events, made by two served reads."""
        from strava_data_pipeline_spark.sources.catalog import load_table, note_read

        handle = load_table(spark, root, "events")
        assert note_read(handle) is None
        return handle, note_read(handle)

    def test_replaced_single_file_gives_fresh_handle(self, spark, tmp_path):
        import gc
        import weakref

        import pyarrow as pa
        import pyarrow.parquet as pq

        from strava_data_pipeline_spark.sources.catalog import load_table, note_read

        path = tmp_path / "events.parquet"

        def write(ids):
            staged = tmp_path / "staged.parquet"
            ts = pa.array([1_704_103_200_000_000] * len(ids), pa.timestamp("us"))
            pq.write_table(
                pa.table({"event_id": pa.array(ids, pa.int64()), "ts": ts}), staged
            )
            os.replace(staged, path)

        write([1, 2])
        first, copy = self._copied(spark, str(tmp_path))
        assert sorted(copy["event_id"].to_pylist()) == [1, 2]
        dropped = weakref.ref(copy)
        del copy
        write([1, 2, 3])
        second = load_table(spark, str(tmp_path), "events")
        assert second is not first
        gc.collect()
        assert dropped() is None, "the replaced version's copy is still held"
        assert note_read(first) is None
        assert sorted(r["event_id"] for r in second.collect()) == [1, 2, 3]

    def test_dynamic_overwrite_of_one_day_gives_fresh_handle(self, spark, tmp_path):
        import gc
        import weakref

        from strava_data_pipeline_spark.sources.catalog import load_table, note_read

        target = str(tmp_path / "events.parquet")

        def write(df, mode):
            df.withColumn("p_day", F.to_date("ts")).write.mode(mode).option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("p_day").parquet(target)

        write(self._events(spark, [1, 2], 1).unionByName(self._events(spark, [3], 2)), "error")
        first, copy = self._copied(spark, str(tmp_path))
        assert load_table(spark, str(tmp_path), "events") is first
        assert sorted(copy["event_id"].to_pylist()) == [1, 2, 3]
        dropped = weakref.ref(copy)
        del copy
        # the sync sink's commit: only the Jan 2 day dir is replaced
        write(self._events(spark, [3, 4], 2), "overwrite")
        second = load_table(spark, str(tmp_path), "events")
        assert second is not first
        gc.collect()
        assert dropped() is None, "the replaced version's copy is still held"
        assert sorted(r["event_id"] for r in second.collect()) == [1, 2, 3, 4]
        _, copy = self._copied(spark, str(tmp_path))
        assert sorted(copy["event_id"].to_pylist()) == [1, 2, 3, 4]

    def test_concurrent_first_loads_resolve_once(self, spark, sf_dir, tmp_path, monkeypatch):
        import shutil

        from strava_data_pipeline_spark.sources import catalog

        shutil.copy(os.path.join(sf_dir, "events.parquet"), tmp_path)
        resolves = []
        real_resolve = catalog._resolve
        monkeypatch.setattr(
            catalog, "_resolve", lambda *a: resolves.append(a) or real_resolve(*a)
        )
        n = 8
        got = []
        self._at_once(
            n, lambda: got.append(catalog.load_table(spark, str(tmp_path), "events"))
        )
        assert len(got) == n and all(df is got[0] for df in got)
        assert len(resolves) == 1

    @staticmethod
    def _count_builds(handle, monkeypatch, before=lambda: None) -> list:
        """Record every ``toArrow`` call, running ``before`` first."""
        builds = []
        real = type(handle).toArrow

        def to_arrow(df):
            builds.append(df)
            before()
            return real(df)

        monkeypatch.setattr(type(handle), "toArrow", to_arrow)
        return builds

    def test_concurrent_second_reads_copy_once(self, spark, sf_dir, tmp_path, monkeypatch):
        import shutil

        from strava_data_pipeline_spark.sources import catalog

        shutil.copy(os.path.join(sf_dir, "events.parquet"), tmp_path)
        handle = catalog.load_table(spark, str(tmp_path), "events")
        assert catalog.note_read(handle) is None
        builds = self._count_builds(handle, monkeypatch)
        got = []
        self._at_once(
            8,
            lambda: got.append(
                catalog.note_read(catalog.load_table(spark, str(tmp_path), "events"))
            ),
        )
        assert len(builds) == 1 and builds[0] is handle
        copy = catalog.note_read(handle)
        assert copy is not None and copy.num_rows == handle.count()
        # a reader got either no copy (it came during the build) or THE copy
        assert len(got) == 8 and all(c is None or c is copy for c in got)

    def test_copy_is_built_outside_the_lock(self, spark, sf_dir, tmp_path, monkeypatch):
        import shutil
        import threading

        from strava_data_pipeline_spark.sources import catalog

        for name in ("events", "customer"):
            shutil.copy(os.path.join(sf_dir, f"{name}.parquet"), tmp_path)
        handle = catalog.load_table(spark, str(tmp_path), "events")
        assert catalog.note_read(handle) is None
        building, release = threading.Event(), threading.Event()
        self._count_builds(
            handle, monkeypatch, before=lambda: building.set() or release.wait(60)
        )
        got = []
        copier = threading.Thread(target=lambda: got.append(catalog.note_read(handle)))
        copier.start()
        try:
            assert building.wait(60)
            # the catalog's lock is free: another table resolves, and a
            # reader of this version is told to plan against the handle
            assert catalog._LOCK.acquire(timeout=5)
            catalog._LOCK.release()
            catalog.load_table(spark, str(tmp_path), "customer")
            assert catalog.note_read(handle) is None
        finally:
            release.set()
            copier.join(timeout=120)
        assert not copier.is_alive()
        assert got[0] is not None and catalog.note_read(handle) is got[0]

    def test_version_over_broadcast_threshold_never_copied(
        self, spark, sf_dir, tmp_path, monkeypatch
    ):
        import shutil

        from strava_data_pipeline_spark.sources import catalog

        shutil.copy(os.path.join(sf_dir, "events.parquet"), tmp_path)
        handle = catalog.load_table(spark, str(tmp_path), "events")
        builds = self._count_builds(handle, monkeypatch)
        key = "spark.sql.autoBroadcastJoinThreshold"
        threshold = spark.conf.get(key)
        spark.conf.set(key, "1k")  # the sf0.001 events file is about 27 KB
        try:
            assert [catalog.note_read(handle) for _ in range(3)] == [None] * 3
        finally:
            spark.conf.set(key, threshold)
        assert catalog._fits_driver(handle), "fits once the threshold is restored"
        assert builds == []

    def test_request_over_copied_version_runs_no_spark_job(
        self, spark, sf_dir, tmp_path, spark_jobs
    ):
        import shutil

        from strava_data_pipeline_spark.api.service import PipelineService

        for name in ("events", "customer"):
            shutil.copy(os.path.join(sf_dir, f"{name}.parquet"), tmp_path)
        svc = PipelineService(spark, str(tmp_path))
        # first reads are Spark plans; the second reads copy
        assert spark_jobs(lambda: svc.get_activity(1).collect()) > 0
        assert spark_jobs(lambda: svc.get_user_by_id(1).collect()) > 0
        svc.get_activity(1).collect()
        svc.get_user_by_id(1).collect()
        row = svc.list_activities(1, 5).collect()[0]
        requests = {
            "get_activity": lambda: svc.get_activity(1),
            "list_activities": lambda: svc.list_activities(20, 10),
            "list_activities_after": lambda: svc.list_activities_after(
                row["ts"], row["event_id"], 20
            ),
            "sync_window": lambda: svc.sync_window(1),
            "get_user_by_id": lambda: svc.get_user_by_id(1),
            "get_user_by_username": lambda: svc.get_user_by_username("Customer#000000001"),
            "get_user_by_athlete_id": lambda: svc.get_user_by_athlete_id(10**7 + 1),
        }
        for name, request in requests.items():
            got = []
            assert spark_jobs(lambda: got.extend(request().collect())) == 0, name
            assert got, name

    def test_new_session_never_gets_a_stopped_sessions_handle(self, sf_dir):
        # stopping a session stops its SparkContext, so this runs in a
        # child process rather than stopping the suite's shared session
        import subprocess
        import sys
        import textwrap

        script = textwrap.dedent(
            """
            import sys

            from strava_data_pipeline_spark.session import get_spark
            from strava_data_pipeline_spark.sources import catalog

            sf_dir = sys.argv[1]

            old = get_spark("handles-old")
            stale = catalog.load_table(old, sf_dir, "events")
            n_rows = stale.count()
            old.stop()
            new = get_spark("handles-new")
            assert new is not old
            fresh = catalog.load_table(new, sf_dir, "events")
            assert fresh is not stale and fresh.sparkSession is new
            assert old not in catalog._HANDLES
            assert fresh.count() == n_rows
            new.stop()
            """
        )
        env = dict(os.environ, SPARK_GRAFT_CPUS="1")
        done = subprocess.run(
            [sys.executable, "-c", script, sf_dir],
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            env=env,
            capture_output=True,
            text=True,
            timeout=300,
        )
        assert done.returncode == 0, done.stderr[-2000:]


class TestCorpusIO:
    """JSONL/CSV corpus interchange: roundtrip fidelity + corrupt-line
    quarantine (sources/corpus_io.py)."""

    def test_jsonl_roundtrip_documents(self, spark, tmp_path):
        from strava_data_pipeline_spark.sources import corpus_io as cio
        from strava_data_pipeline_spark.sources.catalog import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        out = str(tmp_path / "corpus_jsonl")
        cio.write_jsonl_corpus(docs, out)
        back = cio.good_docs(cio.read_jsonl_corpus(spark, out))
        assert sorted(back.columns) == sorted(docs.columns)
        orig = {r["doc_id"]: r["text"] for r in docs.collect()}
        rt = {r["doc_id"]: r["text"] for r in back.collect()}
        assert rt == orig

    def test_corrupt_lines_quarantined_not_dropped(self, spark, tmp_path):
        from strava_data_pipeline_spark.sources import corpus_io as cio

        p = tmp_path / "mixed.jsonl"
        p.write_text(
            '{"doc_id": 1, "text": "ok one", "lang": "en", "source": "s", "n_chars": 6}\n'
            "{broken json line\n"
            '{"doc_id": 2, "text": "ok two", "lang": "en", "source": "s", "n_chars": 6}\n'
        )
        df = cio.read_jsonl_corpus(spark, str(p))
        assert cio.good_docs(df).count() == 2
        bad = cio.corrupt_docs(df).collect()
        assert len(bad) == 1 and "{broken json line" in bad[0][0]

    def test_csv_roundtrip_with_quoted_delimiters(self, spark, tmp_path):
        from pyspark.sql import types as T

        from strava_data_pipeline_spark.sources import corpus_io as cio

        schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("name", T.StringType()),
            ]
        )
        df = spark.createDataFrame(
            [(1, 'comma, "quoted"'), (2, "line\nbreak"), (3, "plain")],
            schema,
        )
        out = str(tmp_path / "dim_csv")
        cio.write_csv_table(df, out)
        # embedded newlines need the record-aware multi_line path (one
        # task per file, no corrupt-only queries — the documented trade)
        back = cio.read_csv_table(spark, out, schema, multi_line=True)
        got = {r["id"]: r["name"] for r in cio.good_docs(back).collect()}
        assert got == {1: 'comma, "quoted"', 2: "line\nbreak", 3: "plain"}

    def test_csv_default_path_quarantines_and_audits(self, spark, tmp_path):
        # the splittable default path must support the corrupt-column
        # audit the native CSV source forbids (QUERY_ONLY_CORRUPT_RECORD)
        from pyspark.sql import types as T

        from strava_data_pipeline_spark.sources import corpus_io as cio

        schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("name", T.StringType()),
            ]
        )
        p = tmp_path / "mixed.csv"
        p.write_text("id,name\n1,alpha\nnot_a_long,beta\n3,gamma\n")
        df = cio.read_csv_table(spark, str(p), schema)
        assert cio.good_docs(df).count() == 2
        bad = cio.corrupt_docs(df).collect()   # corrupt-only plan: must not raise
        assert len(bad) == 1 and "not_a_long" in bad[0][0]
        got = {r["id"]: r["name"] for r in cio.good_docs(df).collect()}
        assert got == {1: "alpha", 3: "gamma"}

    def test_observe_corrupt_surfaces_quarantine_count(self, spark, tmp_path):
        # silent quarantining must be visible (ADVICE r4): the observe
        # counters ride the existing action, no second scan
        from pyspark.sql import types as T

        from strava_data_pipeline_spark.sources import corpus_io as cio

        schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("name", T.StringType()),
            ]
        )
        p = tmp_path / "mixed.csv"
        p.write_text("id,name\n1,alpha\nnot_a_long,beta\n3,gamma\n")
        df, obs = cio.observe_corrupt(
            cio.read_csv_table(spark, str(p), schema)
        )
        df.write.format("noop").mode("overwrite").save()
        assert obs.get == {"n_rows": 3, "n_corrupt": 1}

    def test_reader_builtin_observe_name(self, spark, tmp_path):
        # the quarantine counter is attachable AT the reader (r5 VERDICT
        # task 8): observe_name rides the Observation on the frame, so
        # ingest call sites can't forget the wrap — both readers, both
        # csv paths (splittable from_csv and native multiLine)
        from pyspark.sql import types as T

        from strava_data_pipeline_spark.sources import corpus_io as cio

        schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("name", T.StringType()),
            ]
        )
        p = tmp_path / "mixed.csv"
        p.write_text("id,name\n1,alpha\nnot_a_long,beta\n3,gamma\n")
        df = cio.read_csv_table(
            spark, str(p), schema, observe_name="csv_ingest_r6"
        )
        df.write.format("noop").mode("overwrite").save()
        assert df.corrupt_observation.get == {"n_rows": 3, "n_corrupt": 1}

        j = tmp_path / "mixed.jsonl"
        j.write_text('{"doc_id": 1, "text": "ok"}\n{broken\n')
        dj = cio.read_jsonl_corpus(
            spark, str(j), observe_name="jsonl_ingest_r6"
        )
        dj.write.format("noop").mode("overwrite").save()
        assert dj.corrupt_observation.get == {"n_rows": 2, "n_corrupt": 1}

        m = tmp_path / "multi.csv"
        m.write_text('id,name\n1,"two\nlines"\nbad_long,x\n')
        dm = cio.read_csv_table(
            spark, str(m), schema, multi_line=True,
            observe_name="csv_multiline_ingest_r6",
        )
        dm.write.format("noop").mode("overwrite").save()
        assert dm.corrupt_observation.get == {"n_rows": 2, "n_corrupt": 1}

    def test_csv_custom_delimiter_roundtrip(self, spark, tmp_path):
        from pyspark.sql import types as T

        from strava_data_pipeline_spark.sources import corpus_io as cio

        schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("name", T.StringType()),
            ]
        )
        df = spark.createDataFrame([(1, "a|b"), (2, "plain")], schema)
        out = str(tmp_path / "pipe_csv")
        cio.write_csv_table(df, out, delimiter="|")
        back = cio.read_csv_table(spark, out, schema, delimiter="|")
        got = {r["id"]: r["name"] for r in cio.good_docs(back).collect()}
        assert got == {1: "a|b", 2: "plain"}

    def test_explicit_schema_means_no_inference_scan(self, spark, tmp_path):
        # the reader must carry the declared schema even over an empty
        # glob — schema inference over data would throw here
        from strava_data_pipeline_spark.sources import corpus_io as cio

        empty = tmp_path / "empty.jsonl"
        empty.write_text("")
        df = cio.read_jsonl_corpus(spark, str(empty))
        assert "doc_id" in df.columns and df.count() == 0


class TestOrcInterchange:
    def test_orc_roundtrip_and_pushdown(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from strava_data_pipeline_spark.sources import corpus_io as cio
        from strava_data_pipeline_spark.sources.catalog import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        out = str(tmp_path / "docs_orc")
        cio.write_orc_table(docs, out)
        back = cio.read_orc_table(spark, out)
        assert back.schema == docs.schema
        assert back.count() == docs.count()
        assert (
            back.agg(F.sum("n_chars")).first()[0]
            == docs.agg(F.sum("n_chars")).first()[0]
        )
        # point predicate reaches the ORC scan (same contract as parquet)
        q = back.where(F.col("doc_id") == 7).select("doc_id", "lang")
        plan = q._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        assert "PushedFilters: [" in plan and "EqualTo(doc_id" in plan
        assert q.count() == 1


class TestVersionedSnapshots:
    def test_commit_read_time_travel(self, spark, tmp_path):
        from strava_data_pipeline_spark.sources import versioned as V

        root = str(tmp_path / "tbl")
        d1 = spark.range(5).withColumnRenamed("id", "k")
        d2 = spark.range(8).withColumnRenamed("id", "k")
        assert V.commit_snapshot(d1, root) == 1
        assert V.commit_snapshot(d2, root) == 2
        assert V.read_snapshot(spark, root).count() == 8
        assert V.read_snapshot(spark, root, version=1).count() == 5
        assert V.current_version(spark, root) == 2

    def test_crashed_writer_stays_invisible(self, spark, tmp_path):
        from strava_data_pipeline_spark.sources import versioned as V

        root = str(tmp_path / "tbl")
        V.commit_snapshot(spark.range(3), root)
        # simulate a writer that died after the data write, before the
        # marker: directory exists, no _v_2.committed
        spark.range(99).write.parquet(f"{root}/seg/v2")
        assert V.current_version(spark, root) == 1
        assert V.read_snapshot(spark, root).count() == 3
        import pytest as _pytest

        with _pytest.raises(FileNotFoundError):
            V.read_snapshot(spark, root, version=2)

    def test_vacuum_keeps_newest(self, spark, tmp_path):
        import glob

        from strava_data_pipeline_spark.sources import versioned as V

        root = str(tmp_path / "tbl")
        for n in (2, 4, 6):
            V.commit_snapshot(spark.range(n), root)
        removed = V.vacuum(spark, root, keep_last=2)
        assert removed == [1]
        assert V.committed_versions(spark, root) == [2, 3]
        assert not glob.glob(f"{root}/seg/v1")
        assert V.read_snapshot(spark, root).count() == 6
        # a partitioned version's seg dir goes once no kept version
        # references its partitions; its _SUCCESS files do not pin it
        proot = str(tmp_path / "ptbl")
        df = spark.range(4).withColumn("p", (F.col("id") % 2).cast("int"))
        V.commit_snapshot_partitioned(df, proot, "p")
        V.commit_snapshot_partitioned(df, proot, "p", replace=True)
        assert V.vacuum(spark, proot, keep_last=1) == [1]
        assert not glob.glob(f"{proot}/seg/v1")
        assert V.read_snapshot(spark, proot).count() == 4


class TestVersionedPartitionedGuards:
    """ADVICE r3 hardening: token collisions, null partitions, a
    whole-table base under a splice — each was a silent-data-loss path."""

    def test_part_token_collisions_disambiguated(self):
        from strava_data_pipeline_spark.sources.versioned import _part_token

        # distinct raw values may never share a token (second writer
        # would clobber the first partition's dir)
        assert _part_token("a/b") != _part_token("a_b")
        assert _part_token(None) != _part_token("None")
        assert _part_token("__null__") != _part_token(None)
        # clean values keep their readable, manifest-stable form
        assert _part_token("2024-01-01") == "2024-01-01"
        assert _part_token(7) == "7"
        # no partition value can claim the whole-table manifest token
        from strava_data_pipeline_spark.sources.versioned import WHOLE

        for val in (None, "", "*", "__null__"):
            assert _part_token(val) != WHOLE, val

    def test_partitioned_commit_on_legacy_snapshot_raises(self, spark, tmp_path):
        import pytest
        from pyspark.sql import functions as F

        from strava_data_pipeline_spark.sources import versioned as V

        root = str(tmp_path / "legacy_store")
        V.commit_snapshot(spark.range(5), root)  # whole-table version
        part = spark.range(2).withColumn("p", F.lit(0))
        with pytest.raises(ValueError, match="whole-table snapshot"):
            V.commit_snapshot_partitioned(part, root, "p")
        # explicit migration with the COMPLETE table materializes it
        full = spark.range(5).withColumn("p", (F.col("id") % 2).cast("int"))
        v = V.commit_snapshot_partitioned(full, root, "p", replace=True)
        assert V.read_snapshot(spark, root, v).count() == 5
        # and partial commits on top now reuse untouched dirs
        p0 = spark.range(0, 10, 2).withColumn("p", F.lit(0).cast("int"))
        v2 = V.commit_snapshot_partitioned(p0, root, "p", part_values=[0])
        got = sorted(r["id"] for r in V.read_snapshot(spark, root, v2).collect())
        assert got == [0, 1, 2, 3, 4, 6, 8]  # p=1 rows (1,3) untouched

    def test_null_partition_value_round_trips(self, spark, tmp_path):
        from strava_data_pipeline_spark.sources import versioned as V

        root = str(tmp_path / "null_store")
        df = spark.createDataFrame(
            [(1, "a"), (2, None), (3, None)], "id bigint, p string"
        )
        V.commit_snapshot_partitioned(df, root, "p")
        snap = V.read_snapshot(spark, root)
        assert snap.count() == 3, "null-partition rows were dropped"
        assert snap.where("p IS NULL").count() == 2
        nulls = V.read_snapshot_parts(spark, root, [None])
        assert nulls is not None and nulls.count() == 2

    def test_colliding_string_partitions_both_survive(self, spark, tmp_path):
        from strava_data_pipeline_spark.sources import versioned as V

        root = str(tmp_path / "collide_store")
        df = spark.createDataFrame(
            [(1, "a/b"), (2, "a_b")], "id bigint, p string"
        )
        V.commit_snapshot_partitioned(df, root, "p")
        got = {(r["id"], r["p"]) for r in V.read_snapshot(spark, root).collect()}
        assert got == {(1, "a/b"), (2, "a_b")}
        only = V.read_snapshot_parts(spark, root, ["a/b"])
        assert [r["id"] for r in only.collect()] == [1]


class TestEraseKeys:
    """The right-to-be-forgotten delete writer (user_erasure's audit made
    physical): partition-scoped anti-join rewrite, manifest reuse for
    untouched days, manifest drop for fully-erased days, time travel."""

    @staticmethod
    def _store(spark, tmp_path):
        from strava_data_pipeline_spark.sources import versioned as V

        root = str(tmp_path / "erase_store")
        rows = [
            # (event_id, user_id, day)  — user 7 on d1+d2, user 9 alone on d3
            (1, 7, "d1"),
            (2, 8, "d1"),
            (3, 7, "d2"),
            (4, 8, "d2"),
            (5, 9, "d3"),
        ]
        df = spark.createDataFrame(rows, "event_id bigint, user_id bigint, p string")
        V.commit_snapshot_partitioned(df, root, "p")
        return V, root

    def test_erase_rewrites_only_touched_and_keeps_time_travel(self, spark, tmp_path):
        V, root = self._store(spark, tmp_path)
        before = V.read_manifest(spark, root, 1)
        audit = V.erase_keys(spark, root, "user_id", [7], part_col="p")
        assert audit["version"] == 2
        assert audit["rows_erased"] == 2
        assert audit["partitions_rewritten"] == 2  # d1, d2 keep user 8
        assert audit["partitions_dropped"] == 0
        snap = V.read_snapshot(spark, root)
        assert snap.where("user_id = 7").count() == 0
        assert sorted(r["event_id"] for r in snap.collect()) == [2, 4, 5]
        # untouched d3 reuses the previous version's dir byte-identical
        after = V.read_manifest(spark, root, 2)
        assert after["d3"] == before["d3"]
        assert after["d1"] != before["d1"]
        # time travel still shows the pre-erasure rows until vacuum
        assert V.read_snapshot(spark, root, version=1).where("user_id = 7").count() == 2
        removed = V.vacuum(spark, root, keep_last=1)
        assert removed == [1]

    def test_fully_erased_partition_dropped_from_manifest(self, spark, tmp_path):
        V, root = self._store(spark, tmp_path)
        audit = V.erase_keys(spark, root, "user_id", [9], part_col="p")
        assert audit["partitions_dropped"] == 1  # d3 had only user 9
        assert audit["partitions_rewritten"] == 0
        assert "d3" not in V.read_manifest(spark, root, audit["version"])
        snap = V.read_snapshot(spark, root)
        assert snap.count() == 4 and snap.where("p = 'd3'").count() == 0

    def test_no_match_publishes_nothing(self, spark, tmp_path):
        V, root = self._store(spark, tmp_path)
        audit = V.erase_keys(spark, root, "user_id", [999], part_col="p")
        assert audit == {
            "version": None,
            "rows_erased": 0,
            "partitions_rewritten": 0,
            "partitions_dropped": 0,
        }
        assert V.current_version(spark, root) == 1

    def test_erasing_every_row_refused(self, spark, tmp_path):
        # a version with an empty manifest cannot be read back: erasing
        # the only subject must refuse and leave v1 current and readable
        import pytest

        from strava_data_pipeline_spark.sources import versioned as V

        root = str(tmp_path / "erase_all")
        df = spark.createDataFrame(
            [(1, 7, "d1"), (2, 7, "d2")], "event_id bigint, user_id bigint, p string"
        )
        V.commit_snapshot_partitioned(df, root, "p")
        with pytest.raises(ValueError, match="every row"):
            V.erase_keys(spark, root, "user_id", [7], part_col="p")
        assert V.current_version(spark, root) == 1
        assert V.read_snapshot(spark, root).count() == 2

    def test_manifest_store_requires_part_col(self, spark, tmp_path):
        import pytest

        V, root = self._store(spark, tmp_path)
        with pytest.raises(ValueError, match="part_col"):
            V.erase_keys(spark, root, "user_id", [7])

    def test_legacy_store_full_rewrite(self, spark, tmp_path):
        from strava_data_pipeline_spark.sources import versioned as V

        root = str(tmp_path / "legacy_erase")
        df = spark.createDataFrame(
            [(1, 7), (2, 8), (3, 7)], "event_id bigint, user_id bigint"
        )
        V.commit_snapshot(df, root)
        audit = V.erase_keys(spark, root, "user_id", [7])
        assert audit["version"] == 2 and audit["rows_erased"] == 2
        assert [r["event_id"] for r in V.read_snapshot(spark, root).collect()] == [2]


class TestCrashRecoveryPaths:
    """Review-found crash windows in the versioned store (r4)."""

    def test_commit_after_half_written_dir_recovers(self, spark, tmp_path):
        # crash AFTER the seg/vN data write, BEFORE the marker: the replay
        # recomputes the SAME version number and must be able to redo
        # the dir — mode('error') would wedge the store forever
        from strava_data_pipeline_spark.sources import versioned as V

        root = str(tmp_path / "tbl")
        V.commit_snapshot(
            spark.createDataFrame([(1, "a")], "k long, s string"), root
        )
        # simulate the half-written v2: data lands, no marker
        spark.createDataFrame([(9, "halfway")], "k long, s string").write.parquet(
            f"{root}/seg/v2"
        )
        assert V.current_version(spark, root) == 1
        ver = V.commit_snapshot(
            spark.createDataFrame([(2, "b")], "k long, s string"), root
        )
        assert ver == 2
        rows = {r["k"] for r in V.read_snapshot(spark, root).collect()}
        assert rows == {2}, "replayed commit must supersede the crashed dir"

    def test_orphan_manifest_cannot_shadow_full_snapshot(self, spark, tmp_path):
        # a partitioned commit that crashed after its manifest write
        # leaves _v_N.manifest with no marker; a later FULL snapshot at
        # N must not be shadowed by the crashed commit's partial data
        from strava_data_pipeline_spark.sources import versioned as V

        root = str(tmp_path / "tbl")
        V.commit_snapshot(
            spark.createDataFrame([(1, "a")], "k long, s string"), root
        )
        spark.createDataFrame([(9, "crashed")], "k long, s string").write.parquet(
            f"{root}/seg/v2/oldpart"
        )
        V._write_json(spark, V._manifest_path(root, 2), {"oldpart": "seg/v2/oldpart"})
        ver = V.commit_snapshot(
            spark.createDataFrame([(2, "b")], "k long, s string"), root
        )
        assert ver == 2
        rows = {r["k"] for r in V.read_snapshot(spark, root, version=2).collect()}
        assert rows == {2}, "orphan manifest shadowed the committed snapshot"

    def test_orphan_commit_data_dirs_deleted_not_leaked(self, spark, tmp_path):
        # the crashed partitioned commit's data dirs are referenced by
        # no version once its manifest is replaced, and vacuum only
        # consults victim manifests — commit_snapshot's overwrite of
        # seg/v2 must remove them, while dirs a committed manifest
        # still shares survive
        import os

        from strava_data_pipeline_spark.sources import versioned as V

        root = str(tmp_path / "tbl")
        df1 = spark.createDataFrame(
            [(1, "2024-01-01")], "k long, d string"
        ).withColumn("d", F.to_date("d"))
        V.commit_snapshot_partitioned(df1, root, "d")  # v1 owns a seg dir
        v1_dirs = set(V.read_manifest(spark, root, 1).values())
        assert v1_dirs
        # crashed v2: one NEW seg dir + reuse of v1's dir, manifest
        # written, no marker
        spark.createDataFrame([(9, "x")], "k long, s string").write.parquet(
            f"{root}/seg/v2/newpart"
        )
        shared = next(iter(v1_dirs))
        V._write_json(
            spark,
            V._manifest_path(root, 2),
            {"newpart": "seg/v2/newpart", "old": shared},
        )
        V.commit_snapshot(
            spark.createDataFrame([(2, "b")], "k long, s string"), root
        )
        assert not os.path.exists(f"{root}/seg/v2/newpart"), "orphan data dir leaked"
        assert os.path.exists(f"{root}/{shared}"), "shared dir wrongly deleted"
        rows = {r["k"] for r in V.read_snapshot(spark, root, version=1).collect()}
        assert rows == {1}, "v1 must still read after orphan cleanup"

    def test_partitioned_retry_replaces_half_written_seg(self, spark, tmp_path):
        # crash of a partitioned commit at v2 after part of its data and
        # its manifest were written, before the marker: the retry must
        # publish v2 over it, leave v1 readable and no stray dir behind
        import os

        from strava_data_pipeline_spark.sources import versioned as V

        root = str(tmp_path / "tbl")
        df1 = spark.createDataFrame(
            [(1, "a"), (2, "b")], "k long, p string"
        )
        V.commit_snapshot_partitioned(df1, root, "p")
        spark.createDataFrame([(9, "z")], "k long, p string").write.parquet(
            f"{root}/seg/v2/__part=z"
        )
        V._write_json(
            spark,
            V._manifest_path(root, 2),
            {"z": "seg/v2/__part=z", "b": V.read_manifest(spark, root, 1)["b"]},
        )
        upd = spark.createDataFrame([(3, "a")], "k long, p string")
        assert V.commit_snapshot_partitioned(upd, root, "p", part_values=["a"]) == 2
        assert V.current_version(spark, root) == 2
        dirs = [d for d in os.listdir(f"{root}/seg/v2") if d.startswith("__part=")]
        assert dirs == ["__part=va"], "stray dir of the crashed attempt left"
        assert set(V.read_manifest(spark, root, 2)) == {"a", "b"}
        got = {(r["k"], r["p"]) for r in V.read_snapshot(spark, root).collect()}
        assert got == {(3, "a"), (2, "b")}
        v1 = {(r["k"], r["p"]) for r in V.read_snapshot(spark, root, 1).collect()}
        assert v1 == {(1, "a"), (2, "b")}

    def test_read_snapshot_parts_rejects_uncommitted_version(self, spark, tmp_path):
        import pytest as _pytest

        from strava_data_pipeline_spark.sources import versioned as V

        root = str(tmp_path / "tbl")
        df = spark.createDataFrame(
            [(1, "2024-01-01")], "k long, d string"
        ).withColumn("d", F.to_date("d"))
        V.commit_snapshot_partitioned(df, root, "d")
        V._write_json(spark, V._manifest_path(root, 2), {"x": "seg/v2/x"})  # orphan
        with _pytest.raises(FileNotFoundError):
            V.read_snapshot_parts(
                spark, root, [None], version=2
            )

    def test_batch_markers_scoped_by_app_id(self, spark, tmp_path):
        from strava_data_pipeline_spark.sources import versioned as V

        root = str(tmp_path / "tbl")
        V.commit_snapshot(spark.createDataFrame([(1,)], "k long"), root)
        V.mark_batch(spark, root, 0, app_id="old-run")
        assert V.batch_committed(spark, root, 0, app_id="old-run")
        # a NEW stream identity restarting at batch 0 is NOT blocked
        assert not V.batch_committed(spark, root, 0, app_id="new-run")
        assert not V.batch_committed(spark, root, 0)


def _write_whole(spark, root):
    from strava_data_pipeline_spark.sources import versioned as V

    V.commit_snapshot(spark.range(3), root)
    V.commit_snapshot(spark.range(4), root)


def _write_splice(spark, root):
    from strava_data_pipeline_spark.sources import versioned as V

    df = spark.range(6).withColumn("p", (F.col("id") % 2).cast("int"))
    V.commit_snapshot_partitioned(df, root, "p")
    V.commit_snapshot_partitioned(df.where("p = 0"), root, "p", part_values=[0])


def _write_replace(spark, root):
    from strava_data_pipeline_spark.sources import versioned as V

    df = spark.range(6).withColumn("p", (F.col("id") % 2).cast("int"))
    V.commit_snapshot(df, root)
    V.commit_snapshot_partitioned(df, root, "p", replace=True)


def _write_sink(partition_col):
    def write(spark, root):
        from datetime import datetime

        from strava_data_pipeline_spark.streaming.sync import (
            EVENT_SCHEMA,
            read_event_stream,
        )
        from strava_data_pipeline_spark.streaming.versioned_sink import (
            start_versioned_sink,
        )

        landing = root + "_landing"
        for k, day in enumerate((1, 2)):  # two triggers, two versions
            spark.createDataFrame(
                [(k, datetime(2024, 1, day, 10), 7, "run", 5.0)], EVENT_SCHEMA
            ).coalesce(1).write.mode("append").parquet(landing)
            start_versioned_sink(
                read_event_stream(spark, landing),
                root,
                root + "_ckpt",
                partition_col=partition_col,
            ).awaitTermination(120)

    return write


def _write_erase(partitioned):
    def write(spark, root):
        from strava_data_pipeline_spark.sources import versioned as V

        df = spark.createDataFrame(
            [(1, 7, "d1"), (2, 8, "d1"), (3, 7, "d2")],
            "event_id bigint, user_id bigint, p string",
        )
        if partitioned:
            V.commit_snapshot_partitioned(df, root, "p")
            V.erase_keys(spark, root, "user_id", [7], part_col="p")
        else:
            V.commit_snapshot(df, root)
            V.erase_keys(spark, root, "user_id", [7])

    return write


def _write_export(spark, root):
    from strava_data_pipeline_spark.sources.corpus_export import (
        export_corpus_shards,
    )

    rows = [(i, i * 977 % 4096, 25, f"d{i}") for i in range(12)]
    kept = spark.createDataFrame(
        rows, "doc_id long, h long, n_tokens long, text string"
    )
    export_corpus_shards(kept, root, 100)
    export_corpus_shards(kept.where("doc_id < 6"), root, 100)


@pytest.mark.parametrize(
    "writer",
    [
        _write_whole,
        _write_splice,
        _write_replace,
        _write_sink(None),
        _write_sink("p_day"),
        _write_erase(False),
        _write_erase(True),
        _write_export,
    ],
    ids=[
        "commit_snapshot",
        "partitioned_splice",
        "partitioned_replace",
        "sink_whole",
        "sink_partitioned",
        "erase_whole",
        "erase_partitioned",
        "export_corpus_shards",
    ],
)
def test_every_writer_publishes_manifest_versions_only(spark, tmp_path, writer):
    # one snapshot layout: every committed version is a manifest over
    # seg/v<N> dirs, and no writer lays down a full-directory v=N
    from strava_data_pipeline_spark.sources import versioned as V

    root = str(tmp_path / "store")
    writer(spark, root)
    versions = V.committed_versions(spark, root)
    assert len(versions) >= 2
    for ver in versions:
        assert V.read_manifest(spark, root, ver), f"version {ver} has no manifest"
    full_dirs = [d for d, _, _ in os.walk(root) if os.path.basename(d)[:2] == "v="]
    assert full_dirs == []
    assert V.read_snapshot(spark, root).count() > 0


class TestCorpusExport:
    """sources/corpus_export.py: token-budget shard export through the
    versioned store — assignment arithmetic, replay idempotence, new
    version on changed content, crash-window recovery."""

    def _kept(self, spark, rows):
        return spark.createDataFrame(
            rows, "doc_id long, h long, n_tokens long, text string"
        )

    def test_assignment_matches_plain_window(self, spark):
        from strava_data_pipeline_spark.sources.corpus_export import (
            assign_shards,
        )

        rows = [
            (i, (i * 2654435761) % (1 << 32), 10 + (i * 7) % 90, f"d{i}")
            for i in range(200)
        ]
        got = {
            r["doc_id"]: r["shard_id"]
            for r in assign_shards(self._kept(spark, rows), 300).collect()
        }
        # plain python prefix sum in (h, doc_id) order is the spec
        cum = 0
        for doc_id, _h, n, _t in sorted(rows, key=lambda r: (r[1], r[0])):
            assert got[doc_id] == cum // 300, doc_id
            cum += n

    def test_replay_adds_no_version_changed_content_does(self, spark, tmp_path):
        from strava_data_pipeline_spark.sources import versioned as V
        from strava_data_pipeline_spark.sources.corpus_export import (
            export_corpus_shards,
        )

        root = str(tmp_path / "export")
        rows = [(i, i * 977 % 4096, 25, f"d{i}") for i in range(40)]
        v1, wrote1 = export_corpus_shards(self._kept(spark, rows), root, 100)
        assert (v1, wrote1) == (1, True)
        # identical content -> no-op, same version
        v2, wrote2 = export_corpus_shards(self._kept(spark, rows), root, 100)
        assert (v2, wrote2) == (1, False)
        assert V.committed_versions(spark, root) == [1]
        # same docs, different TARGET -> re-export (the sidecar pins it)
        v3, wrote3 = export_corpus_shards(self._kept(spark, rows), root, 50)
        assert (v3, wrote3) == (2, True)
        # changed content -> re-export; time travel keeps v1 readable
        rows2 = rows + [(999, 1, 25, "new")]
        v4, wrote4 = export_corpus_shards(self._kept(spark, rows2), root, 50)
        assert (v4, wrote4) == (3, True)
        assert V.read_snapshot(spark, root, version=1).count() == 40
        assert V.read_snapshot(spark, root).count() == 41

    def test_crash_between_marker_and_sidecar_converges(self, spark, tmp_path):
        # a crash after the marker but before the sidecar replays as one
        # redundant version with IDENTICAL content — never a wedge,
        # never divergent data
        from strava_data_pipeline_spark.sources import versioned as V
        from strava_data_pipeline_spark.sources.corpus_export import (
            _sidecar_path,
            export_corpus_shards,
        )

        root = str(tmp_path / "export")
        rows = [(i, i * 31 % 512, 10, f"d{i}") for i in range(20)]
        export_corpus_shards(self._kept(spark, rows), root, 60)
        fs, jvm = V._fs(spark, root)
        # simulate the crash
        fs.delete(jvm.org.apache.hadoop.fs.Path(_sidecar_path(root, 1)), False)
        v2, wrote2 = export_corpus_shards(self._kept(spark, rows), root, 60)
        assert (v2, wrote2) == (2, True)
        a = sorted(
            tuple(r)
            for r in V.read_snapshot(spark, root, version=1)
            .select("doc_id", "shard_id")
            .collect()
        )
        b = sorted(
            tuple(r)
            for r in V.read_snapshot(spark, root, version=2)
            .select("doc_id", "shard_id")
            .collect()
        )
        assert a == b
        # and the sidecar is back: the NEXT replay no-ops again
        v3, wrote3 = export_corpus_shards(self._kept(spark, rows), root, 60)
        assert (v3, wrote3) == (2, False)

    def test_bulk_partitioned_commit_one_pass(self, spark, tmp_path):
        from strava_data_pipeline_spark.sources import versioned as V

        root = str(tmp_path / "bulk")
        df = spark.createDataFrame(
            [(i, i % 7, f"x{i}") for i in range(50)],
            "doc_id long, shard_id long, text string",
        )
        ver = V.commit_snapshot_partitioned(df, root, "shard_id", replace=True)
        assert ver == 1
        back = V.read_snapshot(spark, root)
        # the data files KEEP the partition column (duplicate drives
        # the layout) and every row round-trips
        assert set(back.columns) == {"doc_id", "shard_id", "text"}
        assert back.count() == 50
        assert back.where("doc_id % 7 != shard_id").count() == 0
        # partition-pruned addressing through the manifest tokens works
        part = V.read_snapshot_parts(spark, root, [3])
        assert part.count() == 50 // 7 + (1 if 3 < 50 % 7 else 0)
        # replace: the manifest holds only the new table's shards, so a
        # shard absent from it leaves the manifest; v1 still reads
        smaller = df.where("shard_id < 3")
        v2 = V.commit_snapshot_partitioned(smaller, root, "shard_id", replace=True)
        assert set(V.read_manifest(spark, root, v2)) == {"0", "1", "2"}
        assert V.read_snapshot(spark, root).count() == smaller.count()
        assert V.read_snapshot(spark, root, version=1).count() == 50
        # a type whose dir names cannot be checked must refuse to publish
        bad = spark.createDataFrame(
            [(1, 0.5, "t")], "doc_id long, shard_id double, text string"
        )
        import pytest as _pytest

        with _pytest.raises(ValueError, match="integral, date and string"):
            V.commit_snapshot_partitioned(
                bad, str(tmp_path / "b2"), "shard_id", replace=True
            )

    def test_bulk_commit_empty_input_refused(self, spark, tmp_path):
        # an empty DataFrame lays down zero partition dirs;
        # publishing would create a marker over an empty manifest and
        # wedge every reader — the public API must refuse (mirroring
        # export_corpus_shards' empty-corpus guard), and a refused
        # attempt must not block a later real publish
        import pytest as _pytest

        from strava_data_pipeline_spark.sources import versioned as V

        root = str(tmp_path / "bulkempty")
        schema = "doc_id long, shard_id long, text string"
        empty = spark.createDataFrame([], schema)
        with _pytest.raises(ValueError, match="empty manifest"):
            V.commit_snapshot_partitioned(empty, root, "shard_id", replace=True)
        with _pytest.raises(FileNotFoundError):
            V.read_snapshot(spark, root)
        df = spark.createDataFrame([(1, 0, "t")], schema)
        assert V.commit_snapshot_partitioned(df, root, "shard_id", replace=True) == 1
        assert V.read_snapshot(spark, root).count() == 1

    def test_empty_export_refused_loudly(self, spark, tmp_path):
        # an all-filtered corpus must not publish an unreadable
        # empty-manifest version — loud failure, store untouched
        import pytest as _pytest

        from strava_data_pipeline_spark.sources import versioned as V
        from strava_data_pipeline_spark.sources.corpus_export import (
            export_corpus_shards,
        )

        root = str(tmp_path / "export")
        empty = spark.createDataFrame(
            [], "doc_id long, h long, n_tokens long, text string"
        )
        with _pytest.raises(ValueError, match="empty corpus export"):
            export_corpus_shards(empty, root, 100)
        assert V.committed_versions(spark, root) == []


class TestOnepassPartitionedCommit:
    """commit_snapshot_partitioned writes every partition in one Spark
    job: it splices untouched manifest entries, drops emptied
    partitions, maps every dir name back to its token, and refuses
    values it cannot place."""

    def test_onepass_splices_untouched_partitions(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from strava_data_pipeline_spark.sources import versioned as V

        root = str(tmp_path / "onepass_store")
        full = spark.range(12).withColumn("p", (F.col("id") % 3).cast("int"))
        v1 = V.commit_snapshot_partitioned(full, root, "p")
        assert v1 == 1
        # rewrite of p in {0, 1}: p=2 must be reused verbatim
        upd = spark.range(100, 108).withColumn(
            "p", (F.col("id") % 2).cast("int")
        )
        v2 = V.commit_snapshot_partitioned(upd, root, "p", part_values=[0, 1])
        assert v2 == 2
        got = V.read_snapshot(spark, root, v2)
        ids = sorted(r["id"] for r in got.collect())
        # p=2 keeps its v1 rows (2, 5, 8, 11); p=0/1 fully replaced
        assert ids == [2, 5, 8, 11] + list(range(100, 108))
        assert set(got.columns) == {"id", "p"}
        # manifest reuses the v1 dir for p=2 and points 0/1 at seg/v2
        man = V.read_manifest(spark, root, v2)
        assert man["2"].startswith("seg/v1/")
        assert man["0"].startswith("seg/v2/") and man["1"].startswith("seg/v2/")

    def test_onepass_drops_emptied_partition_without_a_dir(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from strava_data_pipeline_spark.sources import versioned as V

        root = str(tmp_path / "onepass_empty")
        full = spark.range(6).withColumn("p", (F.col("id") % 2).cast("int"))
        V.commit_snapshot_partitioned(full, root, "p")
        # the post-merge contents of touched {0, 1} hold only p=0 rows:
        # p=1 emptied (every key moved) and must LEAVE the manifest
        merged = spark.range(50, 53).withColumn("p", F.lit(0).cast("int"))
        v2 = V.commit_snapshot_partitioned(merged, root, "p", part_values=[0, 1])
        man = V.read_manifest(spark, root, v2)
        assert "1" not in man and man["0"].startswith("seg/v2/")
        assert sorted(r["id"] for r in V.read_snapshot(spark, root, v2).collect()) == [
            50,
            51,
            52,
        ]
        # partition-pruned read of the dropped day resolves to None
        assert V.read_snapshot_parts(spark, root, [1], version=v2) is None

    def test_onepass_round_trips_unclean_values(self, spark, tmp_path):
        # NULL lands in Hive's default-partition dir, where Spark would
        # also file '' and that dir's literal name, and "/", "=", "%" are
        # percent-escaped in dir names: each value must map back to its
        # own manifest token, and a splice over them must still work
        from strava_data_pipeline_spark.sources import versioned as V

        vals = [None, "a/b", "a_b", "x=y", "50%", "", "__HIVE_DEFAULT_PARTITION__"]
        root = str(tmp_path / "onepass_unclean")
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "id bigint, p string"
        )
        V.commit_snapshot_partitioned(df, root, "p", part_values=vals)
        assert set(V.read_manifest(spark, root, 1)) == {
            V._part_token(v) for v in vals
        }
        for i, v in enumerate(vals):
            got = V.read_snapshot_parts(spark, root, [v])
            assert [(r["id"], r["p"]) for r in got.collect()] == [(i, v)], v
        upd = spark.createDataFrame([(9, "x=y")], "id bigint, p string")
        V.commit_snapshot_partitioned(upd, root, "p", part_values=["x=y"])
        got = sorted(r["id"] for r in V.read_snapshot(spark, root).collect())
        assert got == [0, 1, 2, 4, 5, 6, 9]

    def test_onepass_refuses_undeclared_partition_values(self, spark, tmp_path):
        # a changed-row value OUTSIDE part_values (here a NULL, which
        # lands under Hive's default-partition dir) must abort the
        # commit instead of silently publishing under a wrong token
        import pytest
        from pyspark.sql import functions as F

        from strava_data_pipeline_spark.sources import versioned as V

        root = str(tmp_path / "onepass_undeclared")
        df = spark.range(4).withColumn(
            "p",
            F.when(F.col("id") < 2, F.lit("a")).otherwise(
                F.lit(None).cast("string")
            ),
        )
        with pytest.raises(ValueError, match="outside the declared"):
            V.commit_snapshot_partitioned(df, root, "p", part_values=["a"])
        assert V.committed_versions(spark, root) == []


class TestLandMany:
    """r11 optimization: concurrent slice landings must keep the
    one-file-per-batch, pinned-mtime contract the file-source batch
    ordering depends on."""

    def test_land_many_one_file_per_slice_mtimes_pinned(self, spark, tmp_path):
        import os

        from strava_data_pipeline_spark.plans.streaming_faces import _land_many

        landing = str(tmp_path / "landing")
        os.makedirs(landing)
        staged = [
            (spark.range(i * 10, i * 10 + 5), 2_000_000 + i) for i in range(5)
        ]
        _land_many(landing, staged)
        files = sorted(
            f for f in os.listdir(landing) if f.endswith(".parquet")
        )
        assert len(files) == 5
        # no staging dirs left behind
        assert not [f for f in os.listdir(landing) if f.startswith("_stage_")]
        # mtime order must recover the staged order exactly, and each
        # file must hold exactly its slice's rows
        by_mtime = sorted(
            files, key=lambda f: os.path.getmtime(os.path.join(landing, f))
        )
        for i, fname in enumerate(by_mtime):
            got = sorted(
                r["id"]
                for r in spark.read.parquet(
                    os.path.join(landing, fname)
                ).collect()
            )
            assert got == list(range(i * 10, i * 10 + 5))
