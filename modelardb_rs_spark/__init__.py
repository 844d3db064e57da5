"""sparkmodelar — a PySpark-native model-based time-series analytics engine.

A brand-new engine with the query and data-processing capabilities of
ModelarDB-RS (reference: ModelarData/ModelarDB-RS), re-expressed in
idiomatic Spark:

- time series tables are stored as *segments* DataFrames (Parquet,
  partitioned by ``field_column``) whose rows are error-bounded model
  segments (PMC-Mean constant / Swing linear / Gorilla-XOR style),
- "gridding" (reconstructing data points from models) is a DataFrame
  view built from Arrow-vectorized ``mapInPandas`` decode plus Column
  algebra,
- simple aggregates (COUNT/MIN/MAX/SUM/AVG) are answered directly from
  segment statistics columns with pure JVM-side Column aggregation —
  no decode, no Python,
- the SQL dialect extensions (``CREATE TIME SERIES TABLE``, ``TRUNCATE``,
  ``VACUUM``, ``INCLUDE``) are a thin pre-parser over ``spark.sql``.

Reference parity is documented per-module with file:line citations into
the reference repo (read-only at /root/reference).
"""

# first: inside a Spark task, shipping's import installs the worker hook
from modelardb_rs_spark import shipping  # noqa: F401
from modelardb_rs_spark.types import ErrorBound, TableKind, TimeSeriesTableMetadata
from modelardb_rs_spark.engine import Engine
from modelardb_rs_spark.session import make_spark
from modelardb_rs_spark.cluster import Cluster

__all__ = [
    "Cluster",
    "Engine",
    "ErrorBound",
    "TableKind",
    "TimeSeriesTableMetadata",
    "make_spark",
]

__version__ = "0.1.0"
