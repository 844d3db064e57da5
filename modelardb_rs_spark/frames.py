"""Frames built on the driver: the one route from in-memory data to a
DataFrame.

Built from an Arrow table, a frame is a local relation: it executes as
a ``LocalTableScan`` and collects in one light job with no Python task.
``createDataFrame`` over a list of Python rows is a ``PythonRDD`` scan
instead, so every action over it starts Python workers to serialize a
handful of rows. Every frame the package builds from rows (uploads,
commit-log answers, SHOW/DESCRIBE/EXPLAIN rows, empty scans, index
metadata, broadcast plan frames) goes through ``arrow_frame``.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema


def arrow_frame(
    spark: SparkSession, table: pa.Table, schema: T.StructType | None = None
) -> DataFrame:
    """``table`` as a DataFrame. ``schema`` defaults to the table's own,
    with tz-naive timestamps typed TimestampNTZ as ``spark.read.parquet``
    reads them; a write's cast then takes them as wall-clock times in
    the session zone, resolving a DST gap or overlap as Spark does (the
    default ``createDataFrame`` localizes them in pyarrow, which raises
    on either)."""
    if schema is None:
        schema = from_arrow_schema(table.schema, prefer_timestamp_ntz=True)
    return spark.createDataFrame(table, schema=schema)


def rows_frame(spark: SparkSession, rows, schema: str | T.StructType) -> DataFrame:
    """Python ``rows`` (tuples or Rows of plain values, possibly none)
    under ``schema``, a DDL string or a StructType, through
    ``arrow_frame``."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    columns = [list(c) for c in zip(*rows)] or [[] for _ in schema.fields]
    return arrow_frame(
        spark, pa.Table.from_arrays(columns, schema=to_arrow_schema(schema)), schema
    )
