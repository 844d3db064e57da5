"""Segments → data-points gridding operator (the reference's GridExec +
SortedJoinExec + GeneratedAsExec pipeline as one DataFrame view).

Reference semantics: GridExec reconstructs per-field univariate points
(crates/modelardb_storage/src/query/grid_exec.rs:261-391), SortedJoinExec
zips the per-field streams into multivariate rows
(sorted_join_exec.rs:278-310), GeneratedAsExec evaluates generated
columns (generated_as_exec.rs:262-320).

Spark-first translation — deliberately NOT a positional zip: the
reference relies on single-partition, globally-sorted streams (its
scalability ceiling, see SURVEY.md §4.2); here reassembly is a keyed
``groupBy(tags, timestamp).pivot(field_column)``-style aggregation,
which shuffles by series key and therefore parallelizes *within* a field
column across the whole cluster. Single-field reads skip the shuffle
entirely (decode is map-only). Generated columns are plain
``F.expr(sql)`` projections.

Time-range pruning: ``start`` / ``end`` bounds are rewritten to segment
interval predicates (``end_time >= start AND start_time <= end`` —
reference time_series_table.rs:269-373) which Catalyst pushes into the
Parquet scan; the exact point-level predicate is re-applied after decode.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from modelardb_rs_spark.compression.decode import decode_segments
from modelardb_rs_spark.types import GORILLA_ID, PMC_MEAN_ID, TimeSeriesTableMetadata, grid_schema


def prune_segments(
    segments: DataFrame,
    start_us: int | None = None,
    end_us: int | None = None,
) -> DataFrame:
    """Segment-interval rewrite of a point-level time range
    (reference time_series_table.rs:269-373): a segment can contain a
    point in [start, end] iff end_time >= start AND start_time <= end."""
    if start_us is not None:
        segments = segments.where(F.col("end_time") >= F.lit(int(start_us)))
    if end_us is not None:
        segments = segments.where(F.col("start_time") <= F.lit(int(end_us)))
    return segments


def _grid_jvm(segments: DataFrame, tag_columns: list[str]) -> DataFrame:
    """Pure-Column reconstruction of PMC-Mean/Swing segments with regular
    timestamps: ``explode(sequence(0, n-1))`` generates point positions
    inside whole-stage codegen; timestamps are ``start + pos*step`` and
    values come from the explicit model parameter columns (PMC: param0;
    Swing: f32(param0 + param1·Δt), double math — bitwise identical to
    the numpy decode in compression/decode.py). No Python worker runs.
    """
    step = F.expr(
        "CASE WHEN value_count > 1 THEN (end_time - start_time) DIV (value_count - 1) "
        "ELSE CAST(0 AS BIGINT) END"
    )
    pts = segments.select(
        "model_type_id",
        "start_time",
        "param0",
        "param1",
        step.alias("__step__"),
        F.explode(F.sequence(F.lit(0), F.col("value_count") - 1)).alias("__pos__"),
        *tag_columns,
    )
    dt = F.col("__pos__").cast("long") * F.col("__step__")
    return pts.select(
        (F.col("start_time") + dt).alias("timestamp"),
        F.when(F.col("model_type_id") == F.lit(PMC_MEAN_ID), F.col("param0"))
        .otherwise(
            (F.col("param0").cast("double") + F.col("param1") * dt.cast("double")).cast(
                "float"
            )
        )
        .alias("value"),
        *tag_columns,
    )


# Below this fraction of JVM-decodable points the fast/slow split costs
# more than it saves: each branch is a separate scan of the segment
# files, so a near-empty fast branch pays a full extra scan to decode
# almost nothing. Measured at sf0.1 the two-branch plan is ~20% slower
# than single-branch when fast points are negligible.
_FAST_BRANCH_MIN_FRACTION = 0.05


def python_only(may_have_slow: bool, fast_fraction: float | None) -> bool:
    """Whether a read of the snapshot should skip its JVM-only branches:
    its commit log counts JVM-decodable points below
    ``_FAST_BRANCH_MIN_FRACTION`` of all."""
    return (
        may_have_slow
        and fast_fraction is not None
        and fast_fraction < _FAST_BRANCH_MIN_FRACTION
    )


def grid_univariate(
    segments: DataFrame,
    tag_columns: list[str],
    start_us: int | None = None,
    end_us: int | None = None,
    may_have_slow: bool = True,
    fast_fraction: float | None = None,
    metrics: dict | None = None,
) -> DataFrame:
    """Decode one field's segments into points (timestamp µs, value, tags).

    Map-only: no shuffle. Segments that a model + regular timestamps can
    reconstruct take the JVM fast path (_grid_jvm, no Python stage);
    Gorilla / irregular-timestamp segments go through the vectorized
    pandas decode. ``may_have_slow=False`` (proven from commit-log
    per-file stats) drops the Python branch from the plan entirely;
    ``fast_fraction`` (commit-log point counts) below
    ``_FAST_BRANCH_MIN_FRACTION`` drops the JVM branch instead — the
    pandas decode handles every model, and a near-empty fast branch
    costs a second scan of the segment files for nothing.
    The exact point-level time predicate is re-applied after decode
    because segment pruning is inexact (reference grid_exec.rs
    re-filters the same way).
    """
    segments = prune_segments(segments, start_us, end_us)
    out_schema = grid_schema(tag_columns)

    # EXPLAIN ANALYZE counters (engine.explain_path(analyze=True) —
    # parity with the reference's per-operator metrics,
    # grid_exec.rs:439-518): accumulators count what the PYTHON branch
    # actually decoded; the JVM branch's work is recorded as the lazy
    # segment frame feeding it, aggregated from metadata after the run.
    acc_segs = metrics.get("python_segments") if metrics else None
    acc_pts = metrics.get("python_points") if metrics else None
    acc_batches = metrics.get("python_batches") if metrics else None
    acc_by_model = metrics.get("python_points_by_model") if metrics else None

    def decode(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            if len(pdf):
                out = decode_segments(pdf, tag_columns)
                if acc_segs is not None:
                    acc_segs.add(len(pdf))
                    acc_pts.add(len(out))
                    acc_batches.add(1)
                if acc_by_model is not None:
                    # rows created per model type (reference GridStream
                    # metric, grid_exec.rs:439-451): a segment decodes
                    # exactly value_count points, so the per-model split
                    # comes from the batch metadata.
                    per = pdf.groupby("model_type_id")["value_count"].sum()
                    for mt, cnt in per.items():
                        acc = acc_by_model.get(int(mt))
                        if acc is not None:
                            acc.add(int(cnt))
                yield out

    def record_fast(fast_segments: DataFrame | None) -> None:
        if metrics is not None:
            metrics.setdefault("fast_branches", []).append(fast_segments)

    if python_only(may_have_slow, fast_fraction):
        points = segments.mapInPandas(decode, schema=out_schema)
    else:
        # null ts_kind/params (rows written before the fast-path columns
        # existed) must fall to the slow branch
        fast_cond = (
            (F.col("model_type_id") != F.lit(GORILLA_ID))
            & (F.coalesce(F.col("ts_kind"), F.lit(1)) == F.lit(0))
            & F.col("param0").isNotNull()
            & F.col("param1").isNotNull()
        )
        fast_segments = segments.where(fast_cond)
        record_fast(fast_segments)
        points = _grid_jvm(fast_segments, tag_columns)
        if may_have_slow:
            slow = segments.where(~fast_cond).mapInPandas(decode, schema=out_schema)
            points = points.unionByName(slow)
    if start_us is not None:
        points = points.where(F.col("timestamp") >= F.lit(int(start_us)))
    if end_us is not None:
        points = points.where(F.col("timestamp") <= F.lit(int(end_us)))
    return points


def edge_points(
    segments: DataFrame,
    tag_columns: list[str],
    which: str = "last",
    may_have_slow: bool = True,
    fast_fraction: float | None = None,
    collapse_duplicates: bool = False,
) -> DataFrame:
    """First/last observation per series (the TimescaleDB ``first()`` /
    ``last()`` shape, which the reference answers by gridding and sorting
    every point): per (tags, field_column) series, find the segment with
    the max ``end_time`` (or min ``start_time``) from metadata alone,
    decode ONLY those segments, and keep the point pinned at the segment
    bound (the encoder stores a segment's first/last point timestamp as
    start_time/end_time exactly).

    Scale shape: one window over the narrow metadata columns selects
    O(series) segment rows out of the whole table — a 100 TB table with
    10 M series decodes 10 M segments' worth of binary, not the table.

    Multiplicity matches the reference's positional reassembly
    (sorted_join_exec.rs:278-310): when overlapping segment writes tie
    at the edge bound, EVERY decoded edge row is emitted — exactly the
    rows a grid-everything-and-filter plan would produce. Aggregating
    consumers collapse naturally; row-per-series consumers (e.g.
    Engine.last_points) pass ``collapse_duplicates=True`` for a
    deterministic MAX(value) per (series, field, timestamp).

    Output: (*tags, field_column, timestamp µs, value).
    """
    from pyspark.sql import Window

    if which not in ("first", "last"):
        raise ValueError(f"which must be 'first' or 'last', got {which!r}")
    bound = "end_time" if which == "last" else "start_time"
    pick = F.max(bound) if which == "last" else F.min(bound)
    keys = tag_columns + ["field_column"]
    w = Window.partitionBy(*keys)
    edge_segs = (
        segments.withColumn("__mx__", pick.over(w))
        .where(F.col(bound) == F.col("__mx__"))
        .drop("__mx__")
    )
    # Carry the bound through the decode as a string key so the final
    # point filter is map-only (grid_univariate passes "tags" through).
    carried = keys + ["__edge__"]
    pts = grid_univariate(
        edge_segs.withColumn("__edge__", F.col(bound).cast("string"))
        .withColumn("field_column", F.col("field_column").cast("string")),
        carried,
        may_have_slow=may_have_slow,
        fast_fraction=fast_fraction,
    )
    out = pts.where(F.col("timestamp") == F.col("__edge__").cast("long")).select(
        *tag_columns,
        F.col("field_column").cast("int").alias("field_column"),
        "timestamp",
        "value",
    )
    if collapse_duplicates:
        out = out.groupBy(*tag_columns, "field_column", "timestamp").agg(
            F.max("value").alias("value")
        )
    return out


def latest_points(
    segments: DataFrame,
    tag_columns: list[str],
    may_have_slow: bool = True,
    fast_fraction: float | None = None,
    collapse_duplicates: bool = False,
) -> DataFrame:
    """Last observation per series — see edge_points."""
    return edge_points(
        segments, tag_columns, "last", may_have_slow, fast_fraction, collapse_duplicates
    )


def grid(
    segments: DataFrame,
    meta: TimeSeriesTableMetadata,
    fields: list[str] | None = None,
    start_us: int | None = None,
    end_us: int | None = None,
    with_generated: bool = True,
    may_have_slow: bool = True,
    fast_fraction: float | None = None,
    metrics: dict | None = None,
    no_duplicate_points: bool = False,
) -> DataFrame:
    """Reconstruct the logical (query-schema) DataFrame from segments.

    Output columns: timestamp (TimestampType, µs), requested stored
    fields (float), tags (string), generated columns (float, via F.expr).
    """
    field_index = meta.field_index_of
    stored = list(meta.field_columns)
    requested = (
        fields if fields is not None else stored + [g.name for g in meta.generated_columns]
    )
    gen_by_name = {g.name: g for g in meta.generated_columns}

    # Generated columns pull in their source stored fields implicitly: the
    # reference adds then truncates them (time_series_table.rs:535-595);
    # here we simply grid all stored fields the expressions may reference.
    need_generated = [g for g in meta.generated_columns if with_generated and (fields is None or g.name in requested)]
    stored_requested = [f for f in requested if f in field_index]
    decode_fields = stored if need_generated else (stored_requested or stored[:1])

    tags = list(meta.tag_columns)
    wanted = segments.where(
        F.col("field_column").isin([field_index[f] for f in decode_fields])
    )
    # Decode all wanted fields in one map-only pass, carrying field_column
    # through as a decode "tag" so one shuffle reassembles all fields.
    carried = tags + ["__field__"]
    wanted = wanted.withColumn("__field__", F.col("field_column").cast("string"))
    univariate = grid_univariate(
        wanted, carried, start_us, end_us, may_have_slow, fast_fraction, metrics
    )

    if len(decode_fields) == 1:
        # Fast path: no reassembly shuffle needed.
        out = univariate.withColumnRenamed("value", decode_fields[0]).drop("__field__")
    elif no_duplicate_points:
        # Commit-log-proven unique (timestamp, series) points: the
        # reassembly is a plain pivot aggregate — whole-stage-codegen
        # HashAggregate, no object collect_list buffers, no zip/explode.
        # Value-identical to the general path because each group holds
        # at most one value per field (max() of a singleton).
        index_to_name = {str(field_index[f]): f for f in decode_fields}
        aggs = [
            F.max(F.when(F.col("__field__") == F.lit(idx), F.col("value"))).alias(name)
            for idx, name in index_to_name.items()
        ]
        out = univariate.groupBy(*(["timestamp"] + tags)).agg(*aggs)
    else:
        # One shuffle on (timestamp, tags): collect each field's values as a
        # list, then zip+explode. Unlike groupBy+first, this preserves the
        # multiplicity of duplicate points from overlapping segment writes
        # (the reference's positional SortedJoinExec also emits one output
        # row per per-field input row, sorted_join_exec.rs:278-310);
        # arrays_zip pads a missing field with NULL. collect_list order
        # after a shuffle is unspecified, so each array is sorted
        # (ascending by value) before zipping: when overlapping writes
        # leave two points at the same (timestamp, tags) with different
        # values, cross-field pairing is value-rank ↔ value-rank — a
        # documented, run-stable tie order instead of an arbitrary one.
        index_to_name = {str(field_index[f]): f for f in decode_fields}
        aggs = [
            F.array_sort(
                F.collect_list(
                    F.when(F.col("__field__") == F.lit(idx), F.col("value"))
                )
            ).alias(name)
            for idx, name in index_to_name.items()
        ]
        names = list(index_to_name.values())
        grouped = univariate.groupBy(*(["timestamp"] + tags)).agg(*aggs)
        zipped = grouped.select(
            "timestamp", *tags, F.explode(F.arrays_zip(*names)).alias("__z__")
        )
        out = zipped.select(
            "timestamp",
            *[F.col(f"__z__.{n}").alias(n) for n in names],
            *tags,
        )

    out = out.withColumn("timestamp", F.timestamp_micros(F.col("timestamp")))
    for g in need_generated:
        out = out.withColumn(g.name, F.expr(g.expr_sql).cast("float"))

    # Final projection in query-schema order.
    cols = ["timestamp"] + [c for c in requested if c in field_index or c in gen_by_name] + tags
    seen: list[str] = []
    for c in cols:
        if c not in seen:
            seen.append(c)
    return out.select(*seen)
