"""Driver-local row lists as DataFrames, without the per-core Python
round-trip tax.

``spark.createDataFrame(list, schema)`` shards even a 2-row sentinel
list across ``defaultParallelism`` pickled-RDD slices. Any downstream
single-task action (``coalesce(1).write`` — the streaming faces' flush
landings) then evaluates every parent slice inside that one task,
paying one Python-worker round trip PER SLICE: measured 5.5s per
2-row flush write at local[32] vs 0.34s with one slice. The fix is a
single explicit slice — row order, schema and values are identical,
only the RDD's partitioning changes.

A driver-held dim that is only filtered and collected (the service's
API keys and user overlay) goes further: ``arrow_rows`` turns it into
an Arrow table, and ``spark.createDataFrame(table, schema)`` plans it as
a ``LocalTableScan`` that is collected with no Spark job at all.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def one_slice_frame(spark: SparkSession, rows: list, schema) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` with the pickled RDD in
    ONE slice instead of ``defaultParallelism`` — for small driver-side
    row lists (sentinel/flush batches, bounded audit rows) whose
    consumers run single-task actions over them."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema
    )


def arrow_rows(rows: list[tuple], schema: StructType) -> pa.Table:
    """``rows`` as an Arrow table of ``schema``, every value converted as
    ``spark.createDataFrame(rows, schema)`` converts it: a naive
    ``datetime`` is read in the process's local time zone, so
    ``spark.createDataFrame(arrow_rows(rows, schema), schema)`` collects
    the rows that ``spark.createDataFrame(rows, schema)`` collects."""
    arrow_schema = to_arrow_schema(schema)
    columns = zip(*(schema.toInternal(r) for r in rows)) if rows else [()] * len(schema)
    arrays = [pa.array(c, f.type) for c, f in zip(columns, arrow_schema)]
    return pa.table(arrays, schema=arrow_schema)
