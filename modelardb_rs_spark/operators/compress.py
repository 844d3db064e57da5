"""DataFrame → segments compression operator.

Spark-first reimplementation of the reference ingest path
(crates/modelardb_server/src/storage/uncompressed_data_manager.rs:130-600:
per-series buffering + greedy compression): the multivariate input is
shuffled so each univariate series (one tag combination) lands in one
group, sorted by time, and fitted with the vectorized greedy fitter.

Partitioning: parallelism must track data VOLUME, not tag cardinality —
hash-on-tags would cap active tasks at the number of distinct series (a
5-value tag serializes a cluster). Instead the input is bucketed on
(tags, time-bucket) where per-series bucket widths come from ONE narrow
(tags, ts) statistics aggregate: Parquet column pruning makes that pass
read two columns of the input, unlike ``repartitionByRange`` whose
range-boundary sampling re-executes the full-width upstream plan — a
second complete scan of a 100 TB insert. A series crossing a bucket
boundary just yields boundary-split segments, which the data model
explicitly allows (mirrors buffer-capacity splits, reference
storage/mod.rs:53-58), and buckets are sized proportional to each
series' row count so sparse series stay contiguous (usually 1 bucket)
while dense ones spread over the cluster. When tag cardinality already
exceeds the target parallelism the stats pass short-circuits (a capped
``LIMIT`` on the aggregate) and plain hash-on-tags is used.

``mapInPandas`` with a pandas groupby inside each Arrow batch then fits
every series chunk: compared to ``groupBy().applyInPandas`` this
amortizes the per-group Python/Arrow round trip (one UDF call per
~batch instead of per series) even when there are millions of tiny
series — or only a handful of huge ones.

Out-of-order data: each batch is sorted before compression; cross-batch
overlap is permitted and resolved at read time by decoding all segments
(reference compression.rs:109-141 has the same relaxed semantics).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from modelardb_rs_spark.compression.fitter import fit_series
from modelardb_rs_spark.frames import rows_frame
from modelardb_rs_spark.plans.stats import plan_size_bytes
from modelardb_rs_spark.types import ErrorBound, TimeSeriesTableMetadata, segment_schema

_NULL_MESSAGE = "NULL {!r} in INSERT into non-nullable column"


def _fit_group(
    pdf: pd.DataFrame,
    ts_col: str,
    field_names: list[str],
    bounds: list[ErrorBound],
    tag_columns: list[str],
    parts: list,
) -> None:
    """Compress one pandas chunk holding one (or part of one) series,
    appending (fit columns, field index, tag values, n_segments) parts
    for batch-level assembly — per-series DataFrame construction costs
    ~17x the fit itself for small series, so it happens ONCE per Arrow
    batch (_assemble), not once per series."""
    pdf = pdf.sort_values(ts_col, kind="stable")
    ts_us = pdf[ts_col].to_numpy()
    if np.issubdtype(ts_us.dtype, np.datetime64):
        ts_us = ts_us.astype("datetime64[us]").astype(np.int64)
    else:
        ts_us = ts_us.astype(np.int64)
    tag_values = {}
    for t in tag_columns:
        v = pdf[t].iloc[0] if len(pdf) else None
        tag_values[t] = None if v is None or (isinstance(v, float) and np.isnan(v)) else v
    for idx, (fname, bound) in enumerate(zip(field_names, bounds)):
        values = pdf[fname].to_numpy(dtype=np.float32)
        cols = fit_series(ts_us, values, bound)
        n = len(cols["model_type_id"])
        if n:
            parts.append((cols, idx, tag_values, n))


def _assemble(parts: list, tag_columns: list[str]) -> pd.DataFrame:
    """One segment-schema DataFrame from many per-series fit parts:
    concatenate the parallel column lists and run the dtype coercions a
    single time for the whole Arrow batch."""
    if not parts:
        return pd.DataFrame()
    out: dict[str, list] = {k: [] for k in parts[0][0]}
    field_col: list[np.ndarray] = []
    tag_cols: dict[str, list] = {t: [] for t in tag_columns}
    for cols, idx, tag_values, n in parts:
        for k, v in cols.items():
            out[k].extend(v)
        field_col.append(np.full(n, idx, dtype=np.int16))
        for t in tag_columns:
            tag_cols[t].extend([tag_values[t]] * n)
    seg = pd.DataFrame(out)
    seg["model_type_id"] = seg["model_type_id"].astype(np.int8)
    seg["min_value"] = seg["min_value"].astype(np.float32)
    seg["max_value"] = seg["max_value"].astype(np.float32)
    seg["error"] = seg["error"].astype(np.float32)
    seg["value_count"] = seg["value_count"].astype(np.int32)
    seg["ts_kind"] = seg["ts_kind"].astype(np.int8)
    # None (Gorilla) -> NaN under float astype; keep real nulls so the
    # fast-path columns stay honestly absent for model-free segments
    seg["param0"] = pd.array(seg["param0"], dtype=pd.Float32Dtype())
    seg["param1"] = pd.array(seg["param1"], dtype=pd.Float64Dtype())
    seg["field_column"] = np.concatenate(field_col)
    for t in tag_columns:
        seg[t] = tag_cols[t]
    return seg


def check_finite(pdf: pd.DataFrame, table: str, field_names: list[str]) -> None:
    """Raise on a NaN or ±inf field value (or one beyond float32) before
    anything is fitted or written: models and segment stats hold finite
    values only. Every fitting path (``_fit_batch``, stateful streaming
    ingest) runs it on its input."""
    for f in field_names:
        with np.errstate(over="ignore"):
            if not np.isfinite(pdf[f].to_numpy(dtype=np.float32)).all():
                raise ValueError(f"{table}: field {f!r} holds NaN or infinite values")


def _fit_batch(
    pdf: pd.DataFrame,
    table: str,
    ts_col: str,
    field_names: list[str],
    bounds: list[ErrorBound],
    tag_columns: list[str],
) -> pd.DataFrame:
    """Compress one Arrow batch holding many (chunks of) series: group by
    (tags, time-bucket) in pandas and fit each series chunk. The bucket
    key matters even within one task: hash collisions can land several
    disjoint time buckets of one series in the same partition, and
    fitting them as a single chunk would fuse across the holes —
    producing irregular, other-bucket-overlapping segments where the
    data is perfectly regular. Non-finite field values raise
    (``check_finite``)."""
    check_finite(pdf, table, field_names)
    group_cols = tag_columns + (["__bucket__"] if "__bucket__" in pdf.columns else [])
    parts: list = []
    if not group_cols:
        _fit_group(pdf, ts_col, field_names, bounds, tag_columns, parts)
        return _assemble(parts, tag_columns)
    # dropna=False: a null tag is still a series key — silently
    # dropping those rows (pandas' default) would lose data
    for _, g in pdf.groupby(group_cols, sort=False, dropna=False):
        _fit_group(g, ts_col, field_names, bounds, tag_columns, parts)
    return _assemble(parts, tag_columns)


def compress(
    df: DataFrame,
    meta: TimeSeriesTableMetadata,
    range_partitions: int | None = None,
) -> DataFrame:
    """Compress a multivariate DataFrame (insert schema) into segments.

    Returns a DataFrame with ``types.segment_schema(meta.tag_columns)``.
    """
    table = meta.name
    ts_col = meta.timestamp_column
    field_names = meta.field_names
    bounds = [meta.field_columns[f] for f in field_names]
    tags = list(meta.tag_columns)
    out_schema = segment_schema(tags)

    # Normalize the timestamp to µs epoch longs before it crosses to pandas.
    df = df.withColumn(
        ts_col,
        F.unix_micros(F.col(ts_col).cast("timestamp"))
        if dict(df.dtypes)[ts_col] != "bigint"
        else F.col(ts_col),
    )

    # Enforce the non-nullable insert schema in the data path (the cast
    # alone would smuggle NULLs across to pandas as NaN, silently turning
    # declared-non-null points into values SQL treats as present).
    def _non_null(name: str):
        return F.when(F.col(name).isNotNull(), F.col(name)).otherwise(
            F.raise_error(F.lit(_NULL_MESSAGE.format(name)))
        )

    df = df.withColumn(ts_col, _non_null(ts_col))
    for fname in field_names:
        df = df.withColumn(fname, _non_null(fname))

    def fit_iter(batches):
        for pdf in batches:
            if len(pdf):
                out = _fit_batch(pdf, table, ts_col, field_names, bounds, tags)
                if len(out):
                    yield out

    parallelism = range_partitions or max(
        df.sparkSession.sparkContext.defaultParallelism, 1
    )
    shaped = _bucket_by_volume(df, ts_col, tags, parallelism).sortWithinPartitions(
        *tags, ts_col
    )
    return shaped.mapInPandas(fit_iter, schema=out_schema)


def compress_arrow(
    table: pa.Table, meta: TimeSeriesTableMetadata, zone: str | int
) -> pd.DataFrame | None:
    """Compress an Arrow table on the driver: the in-process twin of
    ``compress`` for inputs already in driver memory (a Flight
    ``do_put`` of at most 16 MiB). The whole table is one batch
    for ``_fit_batch``, the kernel every ``mapInPandas`` task runs, so
    each series is fitted as one chunk; a range partition boundary can
    split a series in the Spark path, so that path may store more
    segments, but both reconstruct the same points.

    Columns are cast exactly as ``Engine.write``'s Spark cast would:
    timestamps in s/ms/us are instants; tz-naive ones are wall-clock
    times in ``zone`` (the session time zone, an IANA id or a fixed
    offset in seconds), resolved like Java's ``LocalDateTime.atZone``:
    the earlier offset in an overlap, the offset before a gap.
    Integer timestamps are seconds, as ``CAST(bigint AS TIMESTAMP)``.
    Fields may be floating (not half) or integer (not uint64); tags
    strings or integers. Any other type returns None and the caller
    takes the Spark path. A NULL timestamp or field raises."""
    ts_col = meta.timestamp_column
    field_names = meta.field_names
    try:
        if table.column(ts_col).null_count:
            raise ValueError(_NULL_MESSAGE.format(ts_col))
        ts_us = _arrow_ts_us(table.column(ts_col), zone)
        if ts_us is None:
            return None
        fields = {}
        for f in field_names:
            col = table.column(f)
            if col.null_count:
                raise ValueError(_NULL_MESSAGE.format(f))
            t = col.type
            if not (
                (pa.types.is_floating(t) and t != pa.float16())
                or (pa.types.is_integer(t) and t != pa.uint64())
            ):
                return None
            with np.errstate(over="ignore"):
                fields[f] = np.asarray(col.to_numpy(), dtype=np.float32)
        tags = {}
        for tag in meta.tag_columns:
            col = table.column(tag)
            if pa.types.is_integer(col.type):
                col = col.cast(pa.string())
            elif not (pa.types.is_string(col.type) or pa.types.is_large_string(col.type)):
                return None
            tags[tag] = col.to_pandas()
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError, KeyError):
        return None
    pdf = pd.DataFrame({ts_col: ts_us, **fields, **tags})
    bounds = [meta.field_columns[f] for f in field_names]
    return _fit_batch(pdf, meta.name, ts_col, field_names, bounds, list(meta.tag_columns))


# CAST(bigint AS TIMESTAMP) multiplies seconds by 10^6; beyond this the
# product leaves int64 and Spark's own overflow rule decides.
_MAX_TS_SECONDS = (1 << 63) // 1_000_000


def _arrow_ts_us(col: pa.ChunkedArray, zone: str | int) -> np.ndarray | None:
    """Epoch µs of a timestamp column under Spark's cast rules (see
    ``compress_arrow``), or None for a type left to Spark."""
    t = col.type
    if pa.types.is_integer(t):
        secs = col.cast(pa.int64()).to_numpy()
        if len(secs) and (secs.max() > _MAX_TS_SECONDS or secs.min() < -_MAX_TS_SECONDS):
            return None
        return secs * 1_000_000
    if not pa.types.is_timestamp(t) or t.unit == "ns":
        return None
    us = col.cast(pa.timestamp("us", t.tz))
    if t.tz is not None:
        return us.cast(pa.int64()).to_numpy()
    wall = us.cast(pa.int64()).to_numpy()
    if isinstance(zone, int):
        return wall - zone * 1_000_000
    # In a gap, the last instant before it carries the offset in force
    # before the gap, which is the offset Java applies there.
    inst = pc.assume_timezone(us, zone, ambiguous="earliest", nonexistent="earliest")
    offset = pc.local_timestamp(inst).cast(pa.int64()).to_numpy() - inst.cast(pa.int64()).to_numpy()
    return wall - offset


# Below this Catalyst size estimate, ``repartitionByRange``'s sampling
# pass re-reads so little data that it beats a dedicated stats job.
_SMALL_INPUT_BYTES = 1 << 30


def _bucket_by_volume(df: DataFrame, ts_col: str, tags: list[str], parallelism: int):
    """Shuffle the insert so partition count tracks row volume (see
    module docstring): one narrow (tags, ts) stats pass sizes per-series
    time buckets, then a single hash shuffle on (tags, bucket).

    Small inputs (by Catalyst's driver-side size estimate — free, no
    job) keep ``repartitionByRange`` instead: re-scanning a few MB for
    range boundaries is cheaper than scheduling a separate aggregate,
    and range partitioning preserves series contiguity exactly. Unknown
    sizes are treated as large — the stats path is the scale-safe one."""
    if plan_size_bytes(df) <= _SMALL_INPUT_BYTES:
        keys = [*tags, ts_col] if tags else [ts_col]
        return df.repartitionByRange(parallelism, *keys)
    spark = df.sparkSession
    cap = 8 * parallelism
    if tags:
        stats = (
            df.groupBy(*tags)
            .agg(F.count("*").alias("__n__"), F.min(ts_col).alias("__lo__"), F.max(ts_col).alias("__hi__"))
            .limit(cap + 1)
            .collect()
        )
        if len(stats) > cap:
            # Cardinality already saturates the cluster: plain hash on
            # the series key, no per-series stats to haul to the driver.
            return df.repartition(parallelism, *tags)
        total = sum(r["__n__"] for r in stats)
        if total == 0:
            return df.repartition(parallelism, *tags)
        target = max(total // parallelism, 1)
        plan_rows = []
        for r in stats:
            n_buckets = max(min(-(-r["__n__"] // target), parallelism), 1)
            width = max((r["__hi__"] - r["__lo__"]) // n_buckets + 1, 1)
            plan_rows.append(tuple(r[t] for t in tags) + (int(r["__lo__"]), int(width)))
        plan = F.broadcast(
            rows_frame(
                spark,
                plan_rows,
                df.select(*tags).schema.add("__lo__", "long").add("__width__", "long"),
            )
        )
        cond = None
        for t in tags:
            c = df[t].eqNullSafe(plan[t])  # null tags are still series keys
            cond = c if cond is None else cond & c
        joined = df.join(plan, cond, "left").select(
            df["*"],
            ((F.col(ts_col) - F.coalesce(plan["__lo__"], F.lit(0))) / F.coalesce(plan["__width__"], F.lit(1)))
            .cast("long")
            .alias("__bucket__"),
        )
        # __bucket__ stays in the frame: the fitter groups on it so that
        # hash-colliding buckets in one partition are fitted separately
        return joined.repartition(parallelism, *[joined[t] for t in tags], F.col("__bucket__"))
    # Untagged: one global series — bucket purely by time.
    row = df.select(
        F.count("*").alias("n"), F.min(ts_col).alias("lo"), F.max(ts_col).alias("hi")
    ).first()
    if not row["n"]:
        return df.repartition(parallelism)
    width = max((row["hi"] - row["lo"]) // parallelism + 1, 1)
    bucket = ((F.col(ts_col) - F.lit(int(row["lo"]))) / F.lit(int(width))).cast("long")
    return df.withColumn("__bucket__", bucket).repartition(parallelism, F.col("__bucket__"))
