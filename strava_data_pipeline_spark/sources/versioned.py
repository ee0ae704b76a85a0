"""Versioned snapshot store: crash-atomic table publishes + time travel.

The streaming sink's stage-then-overwrite swap (streaming/sync.py) is
partition-scoped but not crash-atomic: a failure between the delete and
the rewrite of one partition loses that partition. This module is the
manifest-based upgrade path (the mechanism Delta/Iceberg build on,
reduced to its core). Version N's data lands under ``<root>/seg/vN/``,
which no reader resolves yet. Publishing writes the manifest
``_v_N.manifest`` (``{token: data dir relative to root}``), then
creates an empty marker file ``_v_N.committed`` — file *creation* is
the atomic primitive (rename-overwrite is not atomic on every Hadoop
filesystem, and plain overwrite deletes before it writes). Readers
resolve the highest committed version and read the dirs its manifest
lists, so a writer crash at ANY point leaves the previous snapshot
fully readable and the half-written directory invisible.

Every version is a manifest, in one of two shapes.
:func:`commit_snapshot` writes the whole table unpartitioned into
``seg/vN`` and publishes ``{WHOLE: "seg/vN"}``.
:func:`commit_snapshot_partitioned` writes the partitions it is given
under ``seg/vN/`` in one Spark job and publishes ``{partition token:
dir}``, reusing the previous version's untouched entries or, with
``replace=True``, holding only what was written. Its tokens are read
back from the dir names the write produced, so every value
:func:`_part_token` accepts (NULL, ``''``, ``a/b``, ``x=y``, ``50%``)
round-trips; values whose dirs cannot be mapped back, and empty
manifests, are refused before publishing. Both commits overwrite
``seg/vN`` statically, so a crashed attempt at N is wholly replaced;
the dirs such an attempt reused belong to committed versions.

Retained snapshots are time travel for free; ``vacuum`` bounds them.
All filesystem access goes through the Hadoop FileSystem API so the
store works on HDFS/S3A/local alike.
"""

from __future__ import annotations

import hashlib
import json
import posixpath
import re
import urllib.parse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, IntegralType, StringType

_MARKER = re.compile(r"_v_(\d+)\.committed$")

_NULL_TOKEN = "__null__"

_HIVE_NULL_DIR = "__HIVE_DEFAULT_PARTITION__"

# manifest token of a whole-table version: _part_token maps every
# character outside [A-Za-z0-9_.=-] away, so no partition value yields it
WHOLE = "*"


def _part_token(val) -> str:
    """Directory-safe token for one partition value. Clean values
    (dates/ints/simple strings) keep their readable form so existing
    manifests stay valid; a value that needed sanitizing gets a short
    hash of the RAW value appended, so two distinct values that
    sanitize identically (``a/b`` vs ``a_b``) can never collapse to
    one manifest entry and silently overwrite each other's rows.
    ``None`` maps to a reserved token (and the literal string that
    collides with it is hash-disambiguated).

    FORMAT NOTE (r4): the hash suffix changed the token for values that
    REQUIRE sanitizing. Date/int partitions — every store this repo
    writes — are unaffected (their tokens are the clean form, byte-
    identical to pre-r4). A pre-r4 store that used unsafe STRING
    partition values would resolve those partitions to new tokens and
    must be rewritten once (read_snapshot → commit) before further
    partitioned commits; committing blind would orphan the old entry
    and duplicate its rows in read_snapshot's union."""
    if val is None:
        return _NULL_TOKEN
    s = str(val)
    safe = re.sub(r"[^A-Za-z0-9_.=-]", "_", s)
    if safe != s or s == _NULL_TOKEN:
        safe = f"{safe}-{hashlib.md5(s.encode()).hexdigest()[:8]}"
    return safe


def _fs(spark: SparkSession, root: str):
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(root)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def _exists(spark: SparkSession, path: str) -> bool:
    """Whether ``path`` exists, through the Hadoop FileSystem API (so
    callers work on HDFS/S3A/local alike, unlike ``os.path``)."""
    fs, jvm = _fs(spark, path)
    return bool(fs.exists(jvm.org.apache.hadoop.fs.Path(path)))


def _touch(spark: SparkSession, path: str, overwrite: bool = False) -> None:
    """Create an empty marker file. Without ``overwrite`` the creation
    fails if the file exists — the store's atomic publish primitive."""
    fs, jvm = _fs(spark, path)
    fs.create(jvm.org.apache.hadoop.fs.Path(path), overwrite).close()


def _names(spark: SparkSession, root: str) -> list[str]:
    """Names of the entries directly under ``root`` (none if absent)."""
    fs, jvm = _fs(spark, root)
    rootp = jvm.org.apache.hadoop.fs.Path(root)
    if not fs.exists(rootp):
        return []
    return [status.getPath().getName() for status in fs.listStatus(rootp)]


def _read_json(spark: SparkSession, path: str) -> dict | None:
    """One JSON side file (a manifest, an export fingerprint); ``None``
    when it does not exist."""
    fs, jvm = _fs(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return json.loads(jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8"))
    finally:
        stream.close()


def _write_json(spark: SparkSession, path: str, payload: dict) -> None:
    """Write one JSON side file, replacing any earlier one."""
    fs, jvm = _fs(spark, path)
    out = fs.create(jvm.org.apache.hadoop.fs.Path(path), True)
    try:
        out.write(bytearray(json.dumps(payload, sort_keys=True).encode()))
    finally:
        out.close()


def committed_versions(spark: SparkSession, root: str) -> list[int]:
    """All published versions, ascending (uncommitted dirs excluded)."""
    return sorted(
        int(m.group(1)) for m in map(_MARKER.search, _names(spark, root)) if m
    )


def current_version(spark: SparkSession, root: str) -> int | None:
    versions = committed_versions(spark, root)
    return versions[-1] if versions else None


def _manifest_path(root: str, version: int) -> str:
    return f"{root}/_v_{version}.manifest"


def read_manifest(
    spark: SparkSession, root: str, version: int
) -> dict[str, str] | None:
    """Manifest of one version: ``{partition token: data dir relative
    to root}``, or ``{WHOLE: "seg/vN"}`` for a whole-table version.
    Every committed version has one; ``None`` means ``version`` was
    never written."""
    return _read_json(spark, _manifest_path(root, version))


def _write_seg(writer, root: str, version: int) -> str:
    """Write version ``version``'s data into ``seg/v<version>`` as a
    static overwrite, wholly replacing what a crashed attempt at the
    same version left there. Returns the dir relative to ``root``."""
    seg = f"seg/v{version}"
    (
        writer.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .parquet(f"{root}/{seg}")
    )
    return seg


def _publish(
    spark: SparkSession, root: str, version: int, manifest: dict[str, str]
) -> int:
    """Write the manifest (replacing the orphan manifest a crashed
    attempt at ``version`` may have left), then create the marker that
    makes the version visible."""
    _write_json(spark, _manifest_path(root, version), manifest)
    _touch(spark, f"{root}/_v_{version}.committed")
    return version


def commit_snapshot(df: DataFrame, root: str) -> int:
    """Write ``df`` as the next version, whole, and atomically publish
    it as the one-entry manifest ``{WHOLE: "seg/v<N>"}``.

    The data write targets a version directory no reader resolves yet;
    only the marker creation (atomic) makes it visible. Concurrent
    writers are not arbitrated here — at cluster scale wrap the marker
    step in a lock service or use a transactional table format; the
    single-writer / many-readers contract matches the reference's one
    sync job (internal/strava/strava.go:261).

    A crash after the data write but before the marker leaves
    ``seg/v<N>`` (and perhaps its manifest) on disk while
    ``current_version`` still says N-1 — the replay recomputes the SAME
    version number, so the write overwrites the dir and the publish
    replaces the manifest, or the store would be wedged forever. The
    overwrite also removes every dir a crashed partitioned attempt at N
    wrote; the dirs that attempt reused belong to committed versions."""
    spark = df.sparkSession
    ver = (current_version(spark, root) or 0) + 1
    return _publish(spark, root, ver, {WHOLE: _write_seg(df.write, root, ver)})


def _dir_token(name: str) -> str:
    """Manifest token of one ``__part=v<value>`` dir a ``partitionBy``
    write produced. Spark writes NULL as Hive's default-partition dir and
    percent-escapes ``/``, ``=``, ``%`` and a few other characters in
    the value, so the raw value is recovered before it is tokenized. The
    ``v`` prefix keeps ``''`` and the literal string
    ``__HIVE_DEFAULT_PARTITION__`` out of the NULL dir, where Spark
    would otherwise file both."""
    raw = name[len("__part=") :]
    if raw == _HIVE_NULL_DIR:
        return _part_token(None)
    return _part_token(urllib.parse.unquote(raw)[1:])


def commit_snapshot_partitioned(
    changed: DataFrame,
    root: str,
    part_col: str,
    part_values: list | None = None,
    replace: bool = False,
) -> int:
    """Publish the next version, writing every partition of ``changed``
    in ONE Spark job.

    One dynamic ``partitionBy`` write lays down ``seg/v<N>/__part=v<x>``
    for each partition value ``x`` in ``changed`` (the data files keep
    ``part_col``; a ``__part`` copy, cast to string, drives the layout).
    ``seg/v<N>`` is written as a static overwrite, so a crashed earlier
    attempt at N is wholly replaced. The manifest is built from the dirs
    the write produced (see :func:`_dir_token`), then written, and the
    marker creation publishes. ``changed`` is evaluated once.

    Splice mode (default): ``changed`` holds the complete post-merge
    contents of the partitions it covers. The previous manifest's other
    entries are reused verbatim, so a commit costs O(touched partitions),
    not O(table). ``part_values`` declares the touched set: a declared
    partition that ends up empty produces no dir and leaves the manifest,
    and a produced dir outside the declared set raises before anything
    is published (a stray value, or a type whose Spark rendering differs
    from Python's ``str()``). Without ``part_values`` the touched set is
    what the write produced. Dirs that leave the manifest stay on disk
    for time travel until :func:`vacuum`. Splicing on top of a
    whole-table version raises: reusing its ``WHOLE`` entry beside the
    written partitions would duplicate every row they hold.

    ``replace=True``: ``changed`` is the COMPLETE table and the manifest
    holds only what was produced (a full publish, or the one-time
    move of a whole-table store to partitions).

    Refused before publishing: a ``part_col`` type other than integral,
    date or string when no ``part_values`` are declared (its dir names
    could not be checked), and an empty manifest (a marker over nothing
    readable)."""
    spark = changed.sparkSession
    prev = current_version(spark, root)
    manifest: dict[str, str] = {}
    if prev and not replace:
        manifest = read_manifest(spark, root, prev)
        if WHOLE in manifest:
            raise ValueError(
                f"version {prev} under {root} is a whole-table snapshot; a "
                "partitioned splice on top of it would reuse the whole table "
                "beside the written partitions and duplicate their rows. "
                "Commit the COMPLETE table once with replace=True, or keep "
                "using commit_snapshot."
            )
    if part_values is None:
        dtype = changed.schema[part_col].dataType
        if not isinstance(dtype, (IntegralType, DateType, StringType)):
            raise ValueError(
                f"partition column {part_col!r} of type {dtype.simpleString()} "
                "needs declared part_values: only integral, date and string "
                "dir names map back to manifest tokens unchecked"
            )
    ver = (prev or 0) + 1
    part = F.concat(F.lit("v"), F.col(part_col).cast("string"))
    seg_rel = _write_seg(
        changed.withColumn("__part", part).write.partitionBy("__part"), root, ver
    )
    fs, jvm = _fs(spark, root)
    produced: dict[str, str] = {}
    for status in fs.listStatus(jvm.org.apache.hadoop.fs.Path(f"{root}/{seg_rel}")):
        name = status.getPath().getName()
        if status.isDirectory() and name.startswith("__part="):
            produced[_dir_token(name)] = f"{seg_rel}/{name}"
    if part_values is not None:
        declared = {_part_token(v) for v in part_values}
        unexpected = set(produced) - declared
        if unexpected:
            raise ValueError(
                "partitioned commit produced partition dirs outside the "
                f"declared part_values: {sorted(unexpected)!r}"
            )
        for token in declared:
            manifest.pop(token, None)
    manifest.update(produced)
    if not manifest:
        raise ValueError(
            f"partitioned commit under {root} would publish an empty "
            "manifest (no partitions written or reused); refusing"
        )
    return _publish(spark, root, ver, manifest)


def _resolve(
    spark: SparkSession, root: str, version: int | None
) -> dict[str, str] | None:
    """Manifest of ``version``, or of the latest committed version;
    ``None`` when nothing is committed. An uncommitted version number
    raises: a crashed commit can leave an orphan manifest whose data
    was never published, and a half-written version must never be
    readable."""
    versions = committed_versions(spark, root)
    if not versions:
        return None
    if version is None:
        version = versions[-1]
    elif version not in versions:
        raise FileNotFoundError(
            f"snapshot version {version} not committed under {root}"
        )
    return read_manifest(spark, root, version)


def read_snapshot(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Read the latest committed snapshot, or ``version`` (time travel):
    the union of the data dirs its manifest lists. Asking for an
    uncommitted/unknown version raises."""
    manifest = _resolve(spark, root, version)
    if manifest is None:
        raise FileNotFoundError(f"no committed snapshot under {root}")
    dirs = sorted({f"{root}/{rel}" for rel in manifest.values()})
    return spark.read.parquet(*dirs)


def read_snapshot_parts(
    spark: SparkSession,
    root: str,
    part_values: list,
    version: int | None = None,
) -> DataFrame | None:
    """Read ONLY the given partitions of a partitioned snapshot — the
    partition-pruned path the streaming sink uses to merge a batch
    without scanning the table. Returns ``None`` when none of the
    requested partitions exist yet (all-new days). A whole-table
    version has no partitions to prune and raises."""
    manifest = _resolve(spark, root, version)
    if manifest is None:
        return None
    if WHOLE in manifest:
        raise ValueError(
            f"snapshot under {root} is a whole-table version, not partitioned"
        )
    tokens = {_part_token(v) for v in part_values}
    dirs = sorted(
        {f"{root}/{rel}" for tok, rel in manifest.items() if tok in tokens}
    )
    return spark.read.parquet(*dirs) if dirs else None


def vacuum(spark: SparkSession, root: str, keep_last: int = 2) -> list[int]:
    """Drop all but the newest ``keep_last`` snapshots (markers first,
    so a reader racing the vacuum never resolves a half-deleted
    version). Partitioned versions share partition dirs across
    versions, so a data dir is only deleted when NO kept manifest still
    references it. Returns the versions removed."""
    fs, jvm = _fs(spark, root)
    versions = committed_versions(spark, root)
    victims = versions[:-keep_last] if keep_last > 0 else versions

    def dirs(vs) -> set[str]:
        return set().union(*(read_manifest(spark, root, v).values() for v in vs))

    candidates = dirs(victims) - dirs(v for v in versions if v not in victims)
    for ver in victims:
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{root}/_v_{ver}.committed"), False)
        fs.delete(jvm.org.apache.hadoop.fs.Path(_manifest_path(root, ver)), False)
    for rel in sorted(candidates):
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{root}/{rel}"), True)
    # a seg/v<N> left with no partition dir still holds its write's
    # _SUCCESS files: delete it too, whichever version wrote it
    for parent in {posixpath.dirname(rel) for rel in candidates} - {"seg"}:
        seg = jvm.org.apache.hadoop.fs.Path(f"{root}/{parent}")
        if fs.exists(seg) and not any(st.isDirectory() for st in fs.listStatus(seg)):
            fs.delete(seg, True)
    return victims


def _batch_marker(root: str, batch_id: int, app_id: str | None) -> str:
    prefix = f"_batch_{_part_token(app_id)}_" if app_id else "_batch_"
    return f"{root}/{prefix}{batch_id}.committed"


def batch_committed(
    spark: SparkSession, root: str, batch_id: int, app_id: str | None = None
) -> bool:
    """Whether a streaming micro-batch id has already been applied to
    this store (see :func:`mark_batch`)."""
    return _exists(spark, _batch_marker(root, batch_id, app_id))


def mark_batch(
    spark: SparkSession, root: str, batch_id: int, app_id: str | None = None
) -> None:
    """Record that micro-batch ``batch_id`` is fully applied. Written
    AFTER the snapshot marker: a crash between the two replays the
    batch on restart, and the replay sees ``batch_committed`` False and
    re-merges — latest-wins merging makes the replay idempotent, so the
    store converges to exactly-once contents either way.

    ``app_id`` scopes the marker to one logical stream (Delta's
    txnAppId idea): batch ids restart at 0 under a fresh checkpoint, so
    WITHOUT an app id, re-pointing a rebuilt stream at an existing
    store would find the old run's ``_batch_0`` marker and silently
    skip its first batches. Sinks pass their checkpoint-stable identity
    here; ``None`` keeps the unscoped single-stream marker name."""
    _touch(spark, _batch_marker(root, batch_id, app_id))


def snapshot_diff(
    spark: SparkSession,
    root: str,
    v_old: int,
    v_new: int,
    key: str,
) -> DataFrame:
    """Row-level change feed between two committed snapshots (the CDF
    read Delta/Iceberg expose): full outer join on ``key``, classify
    each key as insert / delete / update / unchanged, emit everything
    but unchanged. Downstream incremental consumers read the diff
    instead of re-scanning the snapshot — O(changes), not O(table),
    which is the property that matters when the table is 100 TB and a
    day's churn is 0.1%. The join shuffles both snapshots on the key;
    at scale both sides come from the same bucketed layout
    (sources/layout.py:46) so the exchange disappears.

    Change classification compares full rows via a canonical
    struct-of-all-columns equality (null-safe ``eqNullSafe``), so new
    columns are picked up automatically."""
    old = read_snapshot(spark, root, v_old)
    new = read_snapshot(spark, root, v_new)
    cols = [c for c in old.columns if c != key]
    if set(old.columns) != set(new.columns):
        raise ValueError(
            f"snapshot schemas diverge: v{v_old}={old.columns} v{v_new}={new.columns}"
        )
    o = old.select(F.col(key).alias("_ko"), F.struct(*cols).alias("_old"))
    n = new.select(F.col(key).alias("_kn"), F.struct(*cols).alias("_new"))
    j = o.join(n, o["_ko"] == n["_kn"], "full_outer")
    change = (
        F.when(F.col("_ko").isNull(), F.lit("insert"))
        .when(F.col("_kn").isNull(), F.lit("delete"))
        .when(~F.col("_old").eqNullSafe(F.col("_new")), F.lit("update"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(
            F.coalesce(F.col("_kn"), F.col("_ko")).alias(key),
            change.alias("change"),
            F.col("_old").alias("old"),
            F.col("_new").alias("new"),
        )
        .where(F.col("change") != "unchanged")
    )


def erase_keys(
    spark: SparkSession,
    root: str,
    key: str,
    ids,
    part_col: str | None = None,
) -> dict:
    """Right-to-be-forgotten delete writer: publish a new version with
    every row whose ``key`` is in the erasure list removed. This is the
    write path :func:`plans.pipeline_queries.user_erasure` dry-runs as
    an audit, and the pipeline-scale form of the reference's
    ``DeleteUser`` FK cascade (internal/db/user.go:125).

    Scale shape: the erasure list is subject-sized (people, not rows) →
    broadcast. On a partitioned store a column-pruned semi-join scan
    of (key, part_col) first finds the TOUCHED partitions; only those
    are anti-joined and rewritten, every untouched partition's manifest
    entry is reused byte-identical — O(subject's partitions), not
    O(table), which is the difference between a minutes-job and a
    full-table rewrite at 100 TB. A partition whose every row is erased
    is dropped from the manifest rather than written empty; erasing
    every row of a partitioned store raises ``ValueError`` and
    publishes nothing. A whole-table store (:func:`commit_snapshot`)
    gets one anti-join and a full rewrite; a partitioned one requires
    ``part_col``. The old version stays readable for time travel until
    :func:`vacuum` — run vacuum to make erasure physical, as GDPR
    requires.

    ``ids`` is a DataFrame with column ``key`` or a plain list of key
    values. Returns an audit dict: new ``version`` (``None`` when no
    row matched — nothing is published), ``rows_erased``,
    ``partitions_rewritten``, ``partitions_dropped``.
    """
    version = current_version(spark, root)
    snap = read_snapshot(spark, root, version)
    manifest = read_manifest(spark, root, version)
    if not isinstance(ids, DataFrame):
        ids = spark.createDataFrame(
            [(v,) for v in ids],
            schema=f"{key} {snap.schema[key].dataType.simpleString()}",
        )
    ids = F.broadcast(ids.select(key).distinct())
    nothing = {
        "version": None,
        "rows_erased": 0,
        "partitions_rewritten": 0,
        "partitions_dropped": 0,
    }
    touched = None
    parts = snap
    if WHOLE not in manifest:
        if part_col is None:
            raise ValueError(
                f"store under {root} is partitioned; pass part_col so "
                "erasure rewrites only the touched partitions"
            )
        # column-pruned probe: which partitions hold the subject's rows?
        touched = [
            r[0]
            for r in snap.select(key, part_col)
            .join(ids, key, "left_semi")
            .select(part_col)
            .distinct()
            .collect()
        ]
        if not touched:
            return nothing
        parts = read_snapshot_parts(spark, root, touched)
    kept = parts.join(ids, key, "left_anti").persist()
    try:
        kept_rows = kept.count()
        erased = parts.count() - kept_rows
        if erased == 0:
            return nothing
        if touched is None:  # whole-table store: one full rewrite
            ver = commit_snapshot(kept, root)
            return {**nothing, "version": ver, "rows_erased": erased}
        if kept_rows == 0 and set(manifest) <= {_part_token(v) for v in touched}:
            # the subject owns every row: a version with no partitions
            # could not be read back, so refuse and keep the store as is
            raise ValueError(
                f"erasing these keys would remove every row under {root}; "
                "refusing to publish an empty version"
            )
        # ``kept`` holds exactly the surviving rows of the touched
        # partitions (read_snapshot_parts read nothing else); a touched
        # partition left with no rows produces no dir and leaves the
        # manifest
        ver = commit_snapshot_partitioned(kept, root, part_col, part_values=touched)
    finally:
        kept.unpersist()
    after = read_manifest(spark, root, ver)
    dropped = sum(_part_token(v) not in after for v in touched)
    return {
        "version": ver,
        "rows_erased": erased,
        "partitions_rewritten": len(touched) - dropped,
        "partitions_dropped": dropped,
    }
