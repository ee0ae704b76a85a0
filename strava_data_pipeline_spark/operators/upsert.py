"""Latest-wins merge: Spark-native ON CONFLICT (id) DO UPDATE.

The reference upserts each fetched activity row-at-a-time into Postgres
(/root/reference/internal/db/activities.go:99 ``ON CONFLICT (id) DO
UPDATE``). Row-at-a-time merge is the anti-pattern at 100 TB; the
Spark-native equivalent is a set-based latest-wins merge: union the
incoming batch with the base table and keep, per key, the newest version.

At cluster scale this is one shuffle on the merge key (or zero if both
sides are bucketed by key); AQE handles skewed hot keys.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def merge_latest_wins(
    base: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
) -> DataFrame:
    """Merge ``updates`` into ``base``; per key keep the row ranked first
    by ``order_by`` (descending), updates winning ties.

    ``_src`` rank: updates=1, base=0 — an incoming row with the same
    version column beats the stored row, matching ON CONFLICT semantics.
    """
    cols = base.columns
    if updates.columns != cols:
        updates = updates.select(*cols)
    tagged = base.withColumn("_src", F.lit(0)).unionByName(
        updates.withColumn("_src", F.lit(1))
    )
    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).desc() for c in order_by], F.col("_src").desc()
    )
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )


def merge_cdc(
    base: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    op_col: str = "op",
) -> DataFrame:
    """Apply a change feed with upserts AND deletes (the reference's
    DeleteActivity — /root/reference/internal/db/activities.go:247 —
    batched): ``changes`` carries ``op_col`` ∈ {'U','D'}.

    ``merge_latest_wins`` over rows tagged with their op (base rows
    'U'); a key whose newest change is a delete then drops out
    entirely. Delete tombstones must carry the key + order_by columns;
    other columns may be NULL. A NULL ``op_col`` is treated as an
    upsert ('U'): ``_op != 'D'`` alone evaluates NULL and would silently
    DELETE the key (the filter drops both the change row and, via the
    rank, the base row) — a malformed feed row must never erase data.
    """
    cols = base.columns
    merged = merge_latest_wins(
        base.select(*cols, F.lit("U").alias("_op")),
        changes.select(*cols, F.coalesce(F.col(op_col), F.lit("U")).alias("_op")),
        keys,
        order_by,
    )
    return merged.where(F.col("_op") != "D").drop("_op")
