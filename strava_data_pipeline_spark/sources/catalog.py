"""Table catalog: parquet tables → DataFrames / temp views.

The reference keeps its data in Postgres tables (``activities``,
``users``, ``api_keys`` — /root/reference/internal/db/db.go:47). Here the
storage layer is columnar parquet read declaratively so Catalyst gets
predicate pushdown + column pruning on every query; at cluster scale the
same loader points at partitioned table roots instead of single files.

Deliberately NOT applied here: the single-split scan guard
(skew.spread_small_scan) that the text/embedding pipelines use.
Measured r4 over 20 TPC-H/events queries at sf0.1: spreading the fact
scans regressed nearly everything (q1 0.56s→1.06s, q21 0.89s→2.11s)
— vectorized parquet decode + map-side partial aggregation is cheaper
single-threaded than paying a full-row round-robin exchange, unlike
the per-row regex/tokenize stages where the guard wins 2-4×. Operators
that ARE scan-CPU-bound opt in at their own layer (plans/prelude
``load_docs``, dedup/similarity operators).

REPO-WIDE CONTRACT: every logically-timestamp column leaves
``load_table`` as plain ``TimestampType`` regardless of physical
storage — TIMESTAMP(NANOS) files (Spark refuses outright) are repaired
via ``nanosAsLong`` + µs truncation, and unadjusted ``timestamp[us]``
files (which surface as TIMESTAMP_NTZ, rejecting every epoch-arithmetic
expression) are cast back under the UTC-pinned session. Query code MUST
reach timestamps through this loader, never a raw ``spark.read`` —
tests/test_sources.py::TestCatalogTimestampContract pins the guarantee.

HANDLE CONTRACT: ``load_table`` resolves a table (file listing, footer
and schema read, timestamp repair) once per version and hands every
later caller the same DataFrame. The version is a change token read on
the driver: ``os.stat`` of the table path plus one ``os.scandir`` level
of its entries (name, inode, ``st_mtime_ns``, size). A day-partitioned
root is covered by that one level: a file added to or removed from a
``p_day=`` dir changes the dir's mtime, and a dynamic partition
overwrite (the sync sink) renames a new dir into place. Tables are
replaced by new files, never rewritten in place, so a changed table
always changes its token. A path the driver cannot stat (a remote
filesystem, a missing path) has no token and is resolved on every call.
Handles are kept per session; a stopped session's handles are dropped
and a new session never receives them. ``max_micros`` computes a
handle's column maximum once per version.

SERVING COPY: ``note_read`` counts the reads a server makes of a
handle, and a version's SECOND read copies it to the driver once, as
an Arrow table (``DataFrame.toArrow``), which the handle then owns. A
version read once (a sync read-back reads each new version once) is
never copied. Threshold: only a version whose planned size
(``optimizedPlan.stats.sizeInBytes``) is within the session's
``spark.sql.autoBroadcastJoinThreshold`` is copied, the size Spark
already agrees to collect on the driver to broadcast it. The size is
tested once, at the second read: a version over the threshold then
(any version, while it is -1) stays a Spark plan on every read.
Lifetime: the copy lives as long as its handle; when ``load_table``
replaces the handle with a newer version, the old copy is no longer
reachable from the catalog and no Spark state is left to release.
Thread safety: the count runs under the catalog's lock, and the one
reader that makes the second read builds the copy OUTSIDE it, so other
tables resolve meanwhile; readers of the version that arrive during
the build are told to plan against the handle, and every reader after
it gets the same copy.
"""

from __future__ import annotations

import os
import stat
import threading
import weakref
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Columns that are logically timestamps. Some testdata files store them as
# parquet TIMESTAMP(NANOS), which Spark refuses outright; with
# ``nanosAsLong`` they surface as BIGINT nanos and we convert to
# microsecond timestamps (truncation — matching DuckDB's ns→µs cast).
_TIMESTAMP_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


@dataclass
class _Handle:
    token: tuple
    df: DataFrame
    maxima: dict[str, int | None] = field(default_factory=dict)
    reads: int = 0
    copy: pa.Table | None = None


# session -> {table path -> handle}. Weakly keyed, so an entry never
# outlives its session object; a handle references its session, so
# entries of stopped sessions are also dropped on the next lookup.
_HANDLES: weakref.WeakKeyDictionary[SparkSession, dict[str, _Handle]] = (
    weakref.WeakKeyDictionary()
)
_LOCK = threading.Lock()


def _stat_key(st: os.stat_result) -> tuple:
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def _version_token(path: str) -> tuple | None:
    """Change token of a table path, None when the driver cannot stat it."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return _stat_key(st)
        with os.scandir(path) as it:
            entries = sorted((e.name, _stat_key(e.stat())) for e in it)
    except OSError:
        return None
    return (_stat_key(st), tuple(entries))


def _session_handles_locked(spark: SparkSession) -> dict[str, _Handle]:
    for stopped in [s for s in _HANDLES if s._sc._jsc is None]:
        del _HANDLES[stopped]
    return _HANDLES.setdefault(spark, {})


def _session_handles(spark: SparkSession) -> dict[str, _Handle]:
    with _LOCK:
        return _session_handles_locked(spark)


def _handle_locked(df: DataFrame) -> _Handle | None:
    """The current handle whose DataFrame is ``df``; a replaced one is
    no longer found."""
    handles = _session_handles_locked(df.sparkSession).values()
    return next((h for h in handles if h.df is df), None)


def _resolve(spark: SparkSession, path: str, name: str) -> DataFrame:
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # immutable in this runtime; plain read below may still work
    df = spark.read.parquet(path)
    for col in _TIMESTAMP_COLS.get(name, ()):
        field_type = df.schema[col].dataType.typeName()
        if field_type in ("long", "bigint"):
            # integer `div`, NOT `/`: float division loses precision at
            # nanosecond magnitudes (~1.7e18 exceeds double's 53-bit mantissa)
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        elif field_type == "timestamp_ntz":
            # Parquet timestamp[us] with isAdjustedToUTC=false surfaces as
            # TIMESTAMP_NTZ, which rejects epoch arithmetic (cast to long,
            # unix_micros). Session TZ is pinned UTC (session.py), so
            # NTZ→TIMESTAMP is value-preserving and matches DuckDB semantics.
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table. Parquet keeps scans pruned and push-down friendly.

    Returns the session's handle for the table's current version (see
    the module docstring); only a new version is resolved again."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    # the token is read before the resolve: a table that changes in
    # between gets a newer handle than its token, so the next call
    # resolves again rather than keeping a stale one
    token = _version_token(path)
    if token is None:
        return _resolve(spark, path, name)
    handles = _session_handles(spark)
    hit = handles.get(path)
    if hit is not None and hit.token == token:
        return hit.df
    with _LOCK:
        hit = handles.get(path)
        if hit is None or hit.token != token:
            hit = handles[path] = _Handle(token, _resolve(spark, path, name))
        return hit.df


def max_micros(df: DataFrame, col: str) -> int | None:
    """Maximum of timestamp column ``col`` as epoch microseconds (None
    on an empty table). For a ``load_table`` handle it is computed once
    per table version; any other DataFrame runs one job per call."""
    with _LOCK:
        handle = _handle_locked(df)
    if handle is not None and col in handle.maxima:
        return handle.maxima[col]
    value = df.agg(F.max(F.unix_micros(F.col(col)))).first()[0]
    if handle is not None:
        handle.maxima[col] = value
    return value


def _fits_driver(df: DataFrame) -> bool:
    """Whether the planner's size estimate of ``df`` is within the
    session's broadcast threshold, the same test Spark applies before
    collecting a join side on the driver (-1 admits nothing)."""
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return 0 <= size <= conf.autoBroadcastJoinThreshold()


def note_read(df: DataFrame) -> pa.Table | None:
    """Count one serving read of ``df`` and return the driver-side Arrow
    copy of its version, or None when the caller must plan against
    ``df``: its first read, a read while the copy is being built, a
    version over the threshold, or a DataFrame that is not a current
    ``load_table`` handle. The second read builds the copy (see SERVING
    COPY in the module docstring)."""
    with _LOCK:
        handle = _handle_locked(df)
        if handle is None:
            return None
        handle.reads += 1
        if handle.reads != 2:
            return handle.copy
    if not _fits_driver(df):
        return None
    copy = df.toArrow()
    handle.copy = copy
    return copy


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for spark.sql paths) and
    return the DataFrame handles (for the declarative paths)."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
