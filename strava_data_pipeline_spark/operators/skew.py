"""Skew mitigation: salted joins for deterministic hot keys.

First line of defense is AQE (``spark.sql.adaptive.skewJoin`` is on in
session.py): it splits oversized shuffle partitions at runtime.
Salting is the manual fallback for the case AQE can't fix — a single
join key so hot that even a split partition re-concentrates on one
reducer in a later stage, or a build side that must stay sort-merge.

``salted_join`` spreads each hot left key over ``n_salts`` shuffle
partitions by appending a deterministic salt derived from the whole
left row, and replicates the right side ``n_salts``× (explode of a
literal range — cheap when the right side is the smaller of two
big-table sides). Result is row-identical to the unsalted join.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_SALT = "__salt"

# Per-bucket membership cap for LSH pair generation (cap_hot_buckets):
# bounds the quadratic work a degenerate band key can concentrate on
# one reducer. Mirrored verbatim in the DuckDB oracles (QUALIFY
# count(*) OVER bucket <= cap).
MAX_BUCKET = 500

# Join types whose output is row-identical to the unsalted join: every
# left row carries exactly ONE salt value, so left-preserving semantics
# survive; the right side is replicated n_salts×, so any join type that
# emits unmatched RIGHT rows (right/full outer) would duplicate them
# once per salt.
_SALTABLE_HOW = {
    "inner",
    "left",
    "left_outer",
    "leftouter",
    "left_semi",
    "leftsemi",
    "semi",
    "left_anti",
    "leftanti",
    "anti",
}


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Join ``left`` (big, skewed on ``on``) to ``right`` (big), with
    the left side salted into ``n_salts`` sub-keys.

    The salt is ``hash(all left columns) % n_salts`` — deterministic
    per row, so retried tasks salt identically, while rows sharing a
    hot key scatter across salts. The right side is exploded to every
    salt value; its shuffle volume grows ``n_salts``×, which is the
    price of flattening the hot key (choose the smaller big side as
    ``right``; a dimension-sized right should be broadcast instead —
    no salting needed).
    """
    if how.lower().replace(" ", "") not in _SALTABLE_HOW:
        raise ValueError(
            f"salted_join supports left-preserving join types {sorted(_SALTABLE_HOW)}; "
            f"got {how!r} — a right/full outer join would emit each unmatched "
            f"right row once per salt ({n_salts}×)."
        )
    on = list(on)
    l = left.withColumn(
        _SALT, F.pmod(F.hash(*[F.col(c) for c in left.columns]), F.lit(n_salts))
    )
    r = right.withColumn(
        _SALT, F.explode(F.array(*[F.lit(s) for s in range(n_salts)]))
    )
    return l.join(r, on + [_SALT], how).drop(_SALT)


def spread_small_scan(df: DataFrame, target_max: int = 32) -> DataFrame:
    """Ensure a frame has at least core-count partitions before an
    explode-/fold-heavy narrow stage.

    Parallelism before the first shuffle follows input splits; a small
    corpus file arrives as ONE split, so a 50×-amplifying explode or a
    per-row 64-element fold would run on one task (observed: 6s
    single-threaded at sf0.1). On a real cluster the scan already has
    ≥cores splits and this is a no-op — the repartition only fires on
    the pathological small-file case, so it never adds a full-corpus
    shuffle at 100 TB. The split estimate is ``inputFiles()`` (a
    listing, no plan→RDD conversion — ``df.rdd`` would force one per
    call); it undercounts multi-split files, which only matters below
    ``target`` files where the extra shuffle is small by construction.
    """
    target = min(df.sparkSession.sparkContext.defaultParallelism, target_max)
    if len(df.inputFiles()) < target:
        return df.repartition(target)
    return df


def cap_hot_buckets(
    df: DataFrame,
    key_cols: Sequence[str],
    cap: int,
    metric: str | None = None,
) -> DataFrame:
    """Drop blocking/LSH buckets with more than ``cap`` member rows
    before pair generation.

    A degenerate bucket key (a boilerplate-heavy shard collapsing to
    one band value) re-creates the quadratic blowup inside a single
    reducer: B members → B²/2 candidate pairs. Capping bounds per-bucket
    work at cap²/2; the dropped buckets are near-uniform boilerplate
    whose members pairwise-match trivially — the standard trade in
    corpus dedup. The bucket count is a window count over ``key_cols``,
    shuffling on the same key the following pair join uses. When
    ``metric`` is set, an ``observe`` node records
    ``rows_in_dropped_buckets`` for QueryExecutionListener /
    ``Observation`` consumers at no extra action cost.
    """
    w = Window.partitionBy(*[F.col(c) for c in key_cols])
    sized = df.withColumn("_bucket_size", F.count(F.lit(1)).over(w))
    if metric is not None:
        sized = sized.observe(
            metric,
            F.sum(F.when(F.col("_bucket_size") > cap, 1).otherwise(0)).alias(
                "rows_in_dropped_buckets"
            ),
        )
    return sized.where(F.col("_bucket_size") <= cap).drop("_bucket_size")


def capped_bucket_pairs(
    bands: DataFrame,
    key_cols: Sequence[str],
    id_col: str,
    pair_cols: tuple[str, str],
    cap: int,
    metric: str,
) -> DataFrame:
    """Distinct candidate pairs of a band table: ids sharing any bucket
    ``key_cols`` after :func:`cap_hot_buckets`, lower id first, named
    ``pair_cols``.

    ``bands`` holds one row per (id, bucket) and nothing else the pair
    needs: the self-join shuffles on the bucket key the cap's window
    already partitioned by, and callers score the distinct pairs by
    joining their payload back.
    """
    capped = cap_hot_buckets(bands, key_cols, cap, metric)
    a, b = capped.alias("a"), capped.alias("b")
    same_bucket = reduce(
        lambda acc, c: acc & (F.col(f"a.{c}") == F.col(f"b.{c}")),
        key_cols,
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
    )
    return (
        a.join(b, same_bucket)
        .select(
            F.col(f"a.{id_col}").alias(pair_cols[0]),
            F.col(f"b.{id_col}").alias(pair_cols[1]),
        )
        .distinct()
    )


def cap_hot_buckets_broadcast(
    df: DataFrame,
    key_cols: Sequence[str],
    cap: int,
    metric: str | None = None,
) -> DataFrame:
    """``cap_hot_buckets`` for consumers whose downstream join does NOT
    shuffle on ``key_cols`` — e.g. the broadcast-query ANN probes.

    The window variant counts via ``count() OVER (PARTITION BY key)``,
    which exchanges + sorts the FULL carrier frame (embedding arrays
    included) on the bucket key. That exchange is amortized when the
    following pair join shuffles on the same key anyway (the minhash/
    simhash band joins), but for ann_lsh the candidate join is against
    a broadcast 8-row query side — the corpus never needs to move, and
    the window's fat-array exchange was the query's dominant cost.

    Here bucket sizes come from a NARROW aggregation (Catalyst prunes
    the scan to just the key expressions; only ``(key, count)`` rows
    shuffle) and the over-cap keys — near-empty by construction on a
    healthy corpus — join back as a broadcast left join. Two scans of
    the source beat one fat exchange at every scale: the second scan
    re-reads pruned parquet columns, while the exchange would write +
    read + sort the whole decoded corpus.
    """
    hot = (
        df.groupBy(*[F.col(c) for c in key_cols])
        .agg(F.count(F.lit(1)).alias("_bucket_size"))
        .where(F.col("_bucket_size") > cap)
    )
    sized = df.join(F.broadcast(hot), list(key_cols), "left")
    if metric is not None:
        sized = sized.observe(
            metric,
            F.sum(
                F.when(F.col("_bucket_size").isNotNull(), 1).otherwise(0)
            ).alias("rows_in_dropped_buckets"),
        )
    return sized.where(F.col("_bucket_size").isNull()).drop("_bucket_size")
