"""SQL-surface parity: the engine is equally queryable through
``spark.sql`` over registered views — the DataFrame builders in
plans/ and hand-written Spark SQL must agree row-for-row (a user of
the reference can bring either API)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from strava_data_pipeline_spark.plans import registry
from strava_data_pipeline_spark.sources.catalog import register_views

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def views(spark):
    register_views(spark, SF_DIR)
    return spark


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_q1_sql_matches_dataframe(views):
    got = views.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
                   AS sum_charge,
               round(round(sum(l_quantity), 2) / count(*), 4) AS avg_qty,
               round(round(sum(l_extendedprice), 2) / count(*), 4) AS avg_price,
               round(round(sum(l_discount), 4) / count(*), 4) AS avg_disc,
               CAST(count(*) AS BIGINT) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-08-06 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        """
    )
    want = registry.all_queries()["q1_pricing_summary"](views, SF_DIR)
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)


def test_q5_sql_matches_dataframe(views):
    got = views.sql(
        """
        SELECT n.n_name AS nation,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        FROM region r
        JOIN nation n   ON n.n_regionkey = r.r_regionkey
        JOIN supplier s ON s.s_nationkey = n.n_nationkey
        JOIN lineitem l ON l.l_suppkey = s.s_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
                       AND c.c_nationkey = s.s_nationkey
        WHERE r.r_name = 'ASIA'
        GROUP BY n.n_name
        """
    )
    want = registry.all_queries()["q5_local_supplier"](views, SF_DIR)
    assert _rows(got) == _rows(want)


def test_window_sql_matches_dataframe(views):
    got = views.sql(
        """
        SELECT event_id, user_id, event_type, ts, CAST(rn AS BIGINT) AS rn
        FROM (
            SELECT event_id, user_id, event_type, ts,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        )
        WHERE rn <= 3
        """
    )
    want = registry.all_queries()["events_latest_n"](views, SF_DIR)
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)


def test_keyset_pagination_survives_duplicate_timestamps(spark, sf_dir):
    # the cursor must mirror the full (ts DESC, event_id DESC) order:
    # ts < T alone skips rows sharing the boundary timestamp
    from strava_data_pipeline_spark.api.service import PipelineService
    from strava_data_pipeline_spark.sources.catalog import load_table

    svc = PipelineService(spark, sf_dir)
    all_rows = (
        load_table(spark, sf_dir, "events")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .select("ts", "event_id")
        .limit(40)
        .collect()
    )
    boundary = all_rows[19]
    page2 = svc.list_activities_after(
        boundary["ts"], cursor_id=boundary["event_id"], limit=20
    ).collect()
    got = [(r["ts"], r["event_id"]) for r in page2]
    want = [(r["ts"], r["event_id"]) for r in all_rows[20:40]]
    assert got == want, "page 2 must start exactly after the boundary row"


# -- PipelineService endpoints against DuckDB ------------------------------

EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value"]


def _duck(sql, params=()):
    import duckdb

    con = duckdb.connect()
    try:
        return con.execute(sql, params).fetchall()
    finally:
        con.close()


def _event_rows(df):
    return sorted(tuple(r[c] for c in EVENT_COLS) for r in df.collect())


def _window_sql(src: str, days: int) -> str:
    cols = ", ".join(EVENT_COLS)
    return (
        f"SELECT {cols} FROM {src} WHERE ts >= "
        f"(SELECT max(ts) FROM {src}) - INTERVAL {days} DAY"
    )


@pytest.fixture(scope="module")
def svc(spark):
    from strava_data_pipeline_spark.api.service import PipelineService

    yield PipelineService(spark, SF_DIR)
    # serving a table version twice caches it for the whole session
    # (catalog.note_read); later modules plan against the files
    spark.catalog.clearCache()


def test_get_activity_matches_duckdb(svc):
    src = f"'{SF_DIR}/events.parquet'"
    ids = [r[0] for r in _duck(f"SELECT event_id FROM {src} ORDER BY event_id LIMIT 3")]
    for i in ids + [-1]:
        want = _duck(f"SELECT {', '.join(EVENT_COLS)} FROM {src} WHERE event_id = ?", [i])
        assert _event_rows(svc.get_activity(i)) == sorted(want)


@pytest.mark.parametrize("offset_share", [0.0, 0.5], ids=["shallow", "deep"])
def test_list_activities_matches_duckdb(svc, offset_share):
    src = f"'{SF_DIR}/events.parquet'"
    (n,) = _duck(f"SELECT count(*) FROM {src}")[0]
    offset = int(n * offset_share)
    want = _duck(
        f"SELECT {', '.join(EVENT_COLS)} FROM {src} "
        "ORDER BY ts DESC, event_id DESC LIMIT 20 OFFSET ?",
        [offset],
    )
    # a page's membership is its ordering contract (rows come back in
    # no particular order)
    assert _event_rows(svc.list_activities(20, offset)) == sorted(want)


@pytest.mark.parametrize("days", [1, 3])
def test_sync_window_matches_duckdb(svc, days):
    want = _duck(_window_sql(f"'{SF_DIR}/events.parquet'", days))
    assert want, "the window must hold rows for the check to mean anything"
    assert _event_rows(svc.sync_window(days)) == sorted(want)


def test_get_user_by_athlete_id_matches_duckdb(svc):
    src = f"'{SF_DIR}/customer.parquet'"
    (cust,) = _duck(f"SELECT min(c_custkey) FROM {src}")[0]
    want = _duck(
        f"SELECT c_custkey, c_name, c_custkey + 10000000 FROM {src} WHERE c_custkey = ?",
        [cust],
    )
    got = [
        (r["user_id"], r["username"], r["athlete_id"])
        for r in svc.get_user_by_athlete_id(cust + 10**7).collect()
    ]
    assert got == want


def test_service_follows_incremental_sync(spark, tmp_path):
    """A service over the sync target sees each sync commit: the window
    follows the new newest activity and a new id is readable."""
    from datetime import timedelta

    from strava_data_pipeline_spark.api.service import PipelineService
    from strava_data_pipeline_spark.functions.local_frames import one_slice_frame
    from strava_data_pipeline_spark.sources.catalog import load_table
    from strava_data_pipeline_spark.streaming.sync import (
        EVENT_SCHEMA,
        read_event_stream,
        start_incremental_sync,
    )

    root, landing, ckpt = tmp_path / "root", str(tmp_path / "landing"), str(tmp_path / "ckpt")
    target = str(root / "events.parquet")
    target_glob = f"read_parquet('{target}/*/*.parquet')"

    def sync():
        start_incremental_sync(
            read_event_stream(spark, landing), target, ckpt
        ).awaitTermination(120)

    load_table(spark, SF_DIR, "events").select(*EVENT_COLS).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    sync()
    svc = PipelineService(spark, str(root))
    assert _event_rows(svc.sync_window(1)) == sorted(_duck(_window_sql(target_glob, 1)))

    (old_max, max_id) = _duck(f"SELECT max(ts), max(event_id) FROM {target_glob}")[0]
    later = [
        (max_id + k, old_max + timedelta(days=2, hours=k), 7, "run", float(k))
        for k in (1, 2, 3)
    ]
    one_slice_frame(spark, later, EVENT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    sync()
    window = _event_rows(svc.sync_window(1))
    assert window == sorted(later)
    assert window == sorted(_duck(_window_sql(target_glob, 1)))
    assert _event_rows(svc.get_activity(max_id + 2)) == [later[1]]


def test_sync_window_on_empty_table(spark, tmp_path):
    from strava_data_pipeline_spark.api.service import PipelineService
    from strava_data_pipeline_spark.streaming.sync import EVENT_SCHEMA

    spark.createDataFrame([], EVENT_SCHEMA).write.parquet(str(tmp_path / "events.parquet"))
    assert PipelineService(spark, str(tmp_path)).sync_window(1).collect() == []
