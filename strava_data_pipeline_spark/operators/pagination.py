"""Pagination operators: offset windows and keyset cursors.

The reference pages with LIMIT/OFFSET (/root/reference/internal/api/api.go:206).
OFFSET is fine for shallow pages but at 100 TB a deep offset forces the
engine to materialize and discard every preceding row, so we expose both:

- ``page_offset``  — native ``OFFSET`` over a total order (parity with the
  reference API; each partition still keeps a heap of offset+limit
  rows, so it is for shallow pages).
- ``page_keyset``  — cursor predicate (``ts < last_seen``) that pushes
  straight into the parquet scan; O(page) at any depth. This is the scale
  path.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _order(order_by: Sequence[tuple[str, bool]]) -> list[Column]:
    return [F.col(c).desc() if desc else F.col(c).asc() for c, desc in order_by]


def page_offset(
    df: DataFrame, order_by: Sequence[tuple[str, bool]], limit: int, offset: int
) -> DataFrame:
    """OFFSET-style page (reference parity), planned scale-safely.

    ``orderBy().offset().limit()`` plans as one
    ``TakeOrderedAndProject(limit=offset+limit, offset=offset)``:
    per-partition heaps of offset+limit rows, no global sort and no
    single-partition shuffle of the table, and the offset is applied
    when the heaps are merged. The heap still grows with ``offset``, so
    deep pagination should use ``page_keyset``. Requires ``order_by``
    to be a TOTAL order (include a unique tiebreak column) so the page
    is deterministic.

    OUTPUT CONTRACT: the global row number is returned as column
    ``rn`` (the activities_page oracle hashes it), ranked over the
    page's own rows only and shifted by ``offset``. Callers that don't
    want it drop it, and Spark then prunes the window; an input column
    named ``rn`` is clobbered, so rename it first.
    """
    order = _order(order_by)
    page = df.orderBy(*order).offset(offset).limit(limit)
    return page.withColumn(
        "rn", F.lit(offset) + F.row_number().over(Window.orderBy(*order))
    )


def page_keyset(
    df: DataFrame,
    order_by: Sequence[tuple[str, bool]],
    cursor: Column | None,
    limit: int,
) -> DataFrame:
    """Keyset page: filter past the cursor, then top-N.

    The cursor predicate is pushdown-able, and the top-N plans as
    TakeOrderedAndProject — no global sort, no offset scan.
    """
    if cursor is not None:
        df = df.where(cursor)
    return df.orderBy(*_order(order_by)).limit(limit)
