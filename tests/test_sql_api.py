"""SQL-surface parity: the engine is equally queryable through
``spark.sql`` over registered views — the DataFrame builders in
plans/ and hand-written Spark SQL must agree row-for-row (a user of
the reference can bring either API)."""

from __future__ import annotations

import os
from contextlib import contextmanager

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

    return PipelineService(spark, SF_DIR)


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


# -- the Spark-plan path against the indexed path --------------------------

_T0 = 1_704_888_000_000_000  # 2024-01-10 12:00 UTC, the newest ts
_HOUR, _DAY = 3_600_000_000, 86_400_000_000

# (event_id, ts micros): ts ties at the top, NULL ts, a duplicate
# event_id, NULL event_ids on and past the tie, a row on the 1-day bound
_PARITY_EVENTS = [
    (1, _T0),
    (2, _T0),
    (3, _T0),
    (None, _T0),
    (4, _T0 - _HOUR),
    (None, _T0 - 3 * _HOUR),
    (7, _T0 - _DAY),
    (4, _T0 - 2 * _DAY),
    (8, _T0 - 5 * _DAY),
    (5, None),
    (6, None),
    (None, None),
]
# (c_custkey, c_name): a shared name, a NULL key, a NULL name
_PARITY_CUSTOMERS = [(1, "alice"), (2, "bob"), (3, "bob"), (None, "ghost"), (4, None)]


def _write_parity_tables(root, events, customers):
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(root)
    n = len(events)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([e for e, _ in events], pa.int64()),
                "ts": pa.array([t for _, t in events], pa.timestamp("us", tz="UTC")),
                "user_id": pa.array(range(n), pa.int64()),
                "event_type": pa.array([f"type{i % 3}" for i in range(n)], pa.string()),
                "value": pa.array([i / 4 for i in range(n)], pa.float64()),
            }
        ),
        os.path.join(root, "events.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array([c for c, _ in customers], pa.int64()),
                "c_name": pa.array([n for _, n in customers], pa.string()),
            }
        ),
        os.path.join(root, "customer.parquet"),
    )


def _overlay(svc):
    """A user overlay and a tombstone: a new user sharing bob's athlete
    id, a renamed base user, a deleted base user."""
    uid = svc.create_user("carol", athlete_id=2 + 10**7)
    assert svc.update_user(1, username="alice2")
    assert svc.delete_user(3)
    return uid


def _parity_requests(events, uid):
    """(name, ordered, request) for every endpoint over the fixture."""
    from datetime import datetime, timezone

    def naive(micros):
        # a collected ts: the process's local time, as Spark returns it
        return datetime.fromtimestamp(micros / 1e6, timezone.utc).astimezone().replace(
            tzinfo=None
        )

    n = len(events)
    out = [(f"get_activity({i})", False, lambda s, i=i: s.get_activity(i)) for i in range(10)]
    out += [
        (f"list_activities({n + 2}, 0)", True, lambda s: s.list_activities(n + 2, 0))
    ]
    out += [
        (f"list_activities(4, {o})", True, lambda s, o=o: s.list_activities(4, o))
        for o in range(0, n + 3, 3)
    ]
    cursors = sorted({(t, e) for e, t in events if e is not None and t is not None})
    out += [
        (
            f"list_activities_after({t}, {e}, {k})",
            True,
            lambda s, t=t, e=e, k=k: s.list_activities_after(naive(t), e, k),
        )
        for t, e in cursors
        for k in (3, n)
    ]
    out += [(f"sync_window({d})", False, lambda s, d=d: s.sync_window(d)) for d in (0, 1, 3)]
    users = [
        ("get_user_by_id", [1, 2, 3, 4, 99, uid]),
        ("get_user_by_username", ["alice", "alice2", "bob", "carol", "ghost", "nobody"]),
        ("get_user_by_athlete_id", [1 + 10**7, 2 + 10**7, 4 + 10**7, 3 + 10**7]),
    ]
    out += [
        (f"{m}({v!r})", False, lambda s, m=m, v=v: getattr(s, m)(v))
        for m, vs in users
        for v in vs
    ]
    return out


@contextmanager
def _threshold(spark, value):
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _answer(df, ordered):
    rows = [tuple(r) for r in df.collect()]
    return df.schema, rows if ordered else sorted(rows, key=repr)


@pytest.mark.parametrize("table", ["rows", "empty"])
def test_indexed_path_answers_as_spark_plan(spark, tmp_path, spark_jobs, table):
    """Every endpoint answers an indexed version (a driver copy, no
    Spark job) with the schema and rows a Spark plan gives, in the same
    order where the endpoint is ordered. The Spark side is a service
    whose versions are never copied (threshold -1), so every read of it
    takes the first-read path."""
    from strava_data_pipeline_spark.api.service import PipelineService

    events = _PARITY_EVENTS if table == "rows" else []
    planned_root, indexed_root = str(tmp_path / "planned"), str(tmp_path / "indexed")
    for root in (planned_root, indexed_root):
        _write_parity_tables(root, events, _PARITY_CUSTOMERS)

    with _threshold(spark, "-1"):
        planned = PipelineService(spark, planned_root)
        uid = _overlay(planned)
        requests = _parity_requests(events, uid)
        want = [_answer(request(planned), ordered) for _, ordered, request in requests]

    indexed = PipelineService(spark, indexed_root)
    for _ in range(2):  # the second read of each table copies it
        indexed.sync_window(1).collect()
        indexed.get_user_by_id(1).collect()
    assert _overlay(indexed) == uid
    for (name, ordered, request), expected in zip(requests, want):
        got = []
        assert spark_jobs(lambda: got.append(_answer(request(indexed), ordered))) == 0, name
        assert got[0][0] == expected[0], f"{name}: schema differs"
        assert got[0][1] == expected[1], f"{name}: rows differ"
    answers = {name: rows for (name, _, _), (_, rows) in zip(requests, want)}
    if events:
        # the tie cursor keeps the NULL event_id row older than it
        tie_page = answers[f"list_activities_after({_T0}, 2, {len(events)})"]
        assert [r[0] for r in tie_page[:3]] == [1, 4, None]
    else:
        assert answers["sync_window(1)"] == []
