"""Model-based (segment-pushdown) simple aggregates.

Reference semantics: the ``ModelSimpleAggregates`` physical optimizer
rule rewrites un-grouped, un-filtered COUNT/MIN/MAX/SUM/AVG over one
field column to run directly on segment metadata without reconstruction
(crates/modelardb_storage/src/optimizer/model_simple_aggregates.rs:175-618;
segment math crates/modelardb_compression/src/models/mod.rs:98-184).

Spark-first translation: the segments table stores ``value_count`` and
``seg_sum`` as plain columns (see types.segment_schema — the closed-form
per-model length/sum math runs once at compression time instead of once
per query), so every pushed-down aggregate is pure JVM-side Column
aggregation over four narrow columns:

    COUNT(f) -> SUM(value_count)        MIN(f) -> MIN(min_value)
    SUM(f)   -> SUM(seg_sum)            MAX(f) -> MAX(max_value)
    AVG(f)   -> SUM(seg_sum) / SUM(value_count)
    VAR_POP(f)  -> (SUM(seg_sum_sq) - SUM(seg_sum)^2/N) / N
    VAR_SAMP(f) -> same numerator over N-1;  STDDEV_* -> sqrt(VAR_*)

Variance/stddev are an extension past the reference's accumulator set
(count/min/max/sum/avg): ``seg_sum_sq`` is materialized at compression
time like ``seg_sum``. Folders written before the column existed hold
NULLs there; the variance expressions coalesce those to NaN so a mixed
or legacy folder yields a loud NaN instead of a silently-undercounted
result (rewrite the table, or query through the gridded view, to fix).

At 100 TB this reads only the stats columns of the segment Parquet files
(column pruning) — no binary payloads, no decode, no Python. GROUP BY
tag columns IS supported here (a strict superset of the reference rule,
which bails on any GROUP BY): tags are segment-row columns, so grouped
aggregates are equally exact.

Commit-log answers: every segment add-entry of a commit that stats its
files on the driver carries one row per series (tag tuple) of that file
(``series_rows``: value_count, seg_sum, seg_sum_sq, min/max value, time
span, in-file disjointness). An un-time-bounded simple aggregate whose
referenced field partitions have rows in every live file is answered on
the driver from those rows (``log_aggregates``) — no segment file is
opened and no Spark job runs until the one-row result is collected. The
merge math is the numpy twin of ``pushdown_agg_column`` and
``_variance_final``: counts are exact integer sums, min/max follow
Spark's NaN ordering (NaN above every number), and sums merge with
``math.fsum``, so they equal the Column path up to f64 addition order.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from modelardb_rs_spark.compression.fitter import _spark_max, _spark_min

SIMPLE_AGGS = (
    "count", "min", "max", "sum", "avg",
    "var_pop", "var_samp", "variance", "stddev_pop", "stddev_samp", "stddev",
)

# SQL synonyms (both Spark and DuckDB): variance == var_samp, stddev == stddev_samp
_VAR_CANON = {"variance": "var_samp", "stddev": "stddev_samp"}


def _variance_final(vf: str, n: Column, s: Column, q: Column) -> Column:
    """Final variance-family value from merged partials (``n`` point
    count as double, ``s`` = Σv, ``q`` = Σv²) — the one copy of the
    m2 = q - s²/n math shared by the whole-table, time-ranged, and
    resample pushdowns. Clamps the tiny negative float residue a
    near-constant series produces (Spark reports 0.0; sqrt of a negative
    would be NaN) while letting a poisoning NaN through (Spark orders
    NaN above every number), and returns NULL for the sample forms when
    n <= 1, like Spark."""
    m2 = F.greatest(q - s * s / n, F.lit(0.0))
    if vf == "var_pop":
        v = m2 / n
    elif vf == "var_samp":
        v = F.when(n > 1, m2 / (n - 1))
    elif vf == "stddev_pop":
        v = F.sqrt(m2 / n)
    else:  # stddev_samp
        v = F.sqrt(F.when(n > 1, m2 / (n - 1)))
    return v.cast("double")


def _sum_sq(only) -> Column:
    # NaN-poison legacy NULLs: NaN propagates through SUM, NULL would be
    # silently skipped and undercount the variance
    return F.sum(only(F.coalesce(F.col("seg_sum_sq"), F.lit(float("nan")))))


def pushdown_agg_column(func: str, field_index: int | None = None) -> Column:
    """The segment-level Column expression for one simple aggregate.

    ``field_index`` restricts to one field_column partition when the
    segments DataFrame holds several fields (conditional aggregation).
    """
    func = func.lower()
    if func not in SIMPLE_AGGS:
        raise ValueError(f"not a pushdown-able aggregate: {func}")
    cond = (F.col("field_column") == F.lit(field_index)) if field_index is not None else F.lit(True)

    def only(c: Column) -> Column:
        return F.when(cond, c)

    if func == "count":
        return F.coalesce(F.sum(only(F.col("value_count"))), F.lit(0)).cast("long")
    if func == "min":
        return F.min(only(F.col("min_value")))
    if func == "max":
        return F.max(only(F.col("max_value")))
    if func == "sum":
        # Spark SUM(float) accumulates in double; seg_sum is the f64 sum of
        # reconstructed values, so the result matches gridded SUM(value)
        # modulo f64 addition order.
        return F.sum(only(F.col("seg_sum")))
    if func == "avg":
        return (F.sum(only(F.col("seg_sum"))) / F.sum(only(F.col("value_count")))).cast("double")
    # variance family
    func = _VAR_CANON.get(func, func)
    n = F.sum(only(F.col("value_count"))).cast("double")
    s = F.sum(only(F.col("seg_sum")))
    return _variance_final(func, n, s, _sum_sq(only))


def segment_aggregates(
    segments: DataFrame,
    aggs: list[tuple[str, int | None, str]],
    group_by_tags: list[str] | None = None,
) -> DataFrame:
    """Run simple aggregates directly on a segments DataFrame.

    ``aggs``: list of (func, field_index|None, output_alias).
    """
    # Restrict the scan to the referenced field partitions up front so
    # Delta/Parquet partition pruning applies (the per-agg CASE WHEN alone
    # would force a full scan of every field_column directory).
    indexes = {idx for _, idx, _ in aggs if idx is not None}
    if indexes:
        segments = segments.where(F.col("field_column").isin(sorted(indexes)))
    cols = [pushdown_agg_column(func, idx).alias(alias) for func, idx, alias in aggs]
    if group_by_tags:
        return segments.groupBy(*group_by_tags).agg(*cols)
    return segments.agg(*cols)


# -- commit-log series rows ---------------------------------------------------

# Segment columns one series row summarizes, and the positions of a row:
# [[tag values], value_count, seg_sum, seg_sum_sq, min_value, max_value,
#  min start_time, max end_time, disjoint]
SERIES_STATS_COLUMNS = (
    "value_count", "seg_sum", "seg_sum_sq", "min_value", "max_value",
    "start_time", "end_time",
)
TAGS, COUNT, SUM, SUM_SQ, MIN, MAX, START, END, DISJOINT = range(9)


def _fsum(values) -> float:
    """``math.fsum``, except where it refuses IEEE semantics: +inf and
    -inf together (Spark's double SUM gives NaN) or an intermediate
    overflow (inf)."""
    try:
        return math.fsum(values)
    except (ValueError, OverflowError):
        return float(np.sum(np.asarray(values, dtype=np.float64)))


def _spans_disjoint(spans: list[tuple[int, int]]) -> bool:
    """Whether closed time spans are pairwise disjoint: in start order,
    each starts after the running max of the earlier ends."""
    spans = sorted(spans)
    reach = spans[0][1] if spans else 0
    for start, end in spans[1:]:
        if start <= reach:
            return False
        reach = max(reach, end)
    return True


def _batch_series_rows(
    segs: pa.Table, tag_columns: list[str], max_series: int
) -> list[list] | None:
    """``series_rows`` of one batch of segment rows."""
    if any(segs.column(c).null_count for c in SERIES_STATS_COLUMNS):
        return None
    if not segs.num_rows:
        return []
    key = np.zeros(segs.num_rows, dtype=np.int64)
    for t in tag_columns:
        codes = segs.column(t).combine_chunks().dictionary_encode()
        idx = np.asarray(codes.indices.fill_null(-1), dtype=np.int64) + 1
        key = np.unique(key * (len(codes.dictionary) + 1) + idx, return_inverse=True)[1]
        if key.max() >= max_series:
            return None
    col = {c: segs.column(c).to_numpy() for c in SERIES_STATS_COLUMNS}
    order = np.lexsort((col["end_time"], col["start_time"], key))
    key = key[order]
    col = {c: v[order] for c, v in col.items()}
    bounds = np.flatnonzero(np.diff(key)) + 1
    firsts = np.concatenate(([0], bounds)).astype(np.int64)
    lasts = np.concatenate((bounds, [len(key)])).astype(np.int64)
    tags = [segs.column(t).take(order[firsts]).to_pylist() for t in tag_columns]
    rows = []
    for g, (a, b) in enumerate(zip(firsts, lasts)):
        s, e = col["start_time"][a:b], col["end_time"][a:b]
        rows.append([
            [values[g] for values in tags],
            int(col["value_count"][a:b].sum()),
            _fsum(col["seg_sum"][a:b]),
            _fsum(col["seg_sum_sq"][a:b]),
            _spark_min(col["min_value"][a:b]),
            _spark_max(col["max_value"][a:b]),
            int(s[0]),
            int(e.max()),
            bool(np.all(s[1:] > np.maximum.accumulate(e[:-1]))),
        ])
    return rows


def series_rows(batches, tag_columns: list[str], max_series: int) -> list[list] | None:
    """One row per series (tag tuple) of one segment file — the stats
    ``DataFolder`` records in the file's add-entry. ``batches`` are the
    file's segment rows (Arrow tables or record batches of the tag and
    ``SERIES_STATS_COLUMNS`` columns), read one at a time so driver
    memory is bounded by the batch size, not the file. ``disjoint``
    says the series' segments are pairwise time-disjoint: in each batch
    every start is after the running max of the earlier ends, in
    (start_time, end_time) order, and the series' per-batch spans are
    disjoint too (``_spans_disjoint``; when one batch's span covers
    another's segments the series is reported not disjoint even if no
    two segments overlap, which only costs the probe). Returns None
    — record no rows — when the file holds more than ``max_series``
    series or any stats value is NULL (``seg_sum_sq`` of files written
    before it existed)."""
    parts: dict[tuple, list[list]] = {}
    for batch in batches:
        if isinstance(batch, pa.RecordBatch):
            batch = pa.Table.from_batches([batch])
        rows = _batch_series_rows(batch, tag_columns, max_series)
        if rows is None:
            return None
        for r in rows:
            parts.setdefault(tuple(r[TAGS]), []).append(r)
        if len(parts) > max_series:
            return None
    merged = []
    for rows in parts.values():
        merged.append([
            rows[0][TAGS],
            sum(r[COUNT] for r in rows),
            _fsum([r[SUM] for r in rows]),
            _fsum([r[SUM_SQ] for r in rows]),
            _spark_min(np.array([r[MIN] for r in rows])),
            _spark_max(np.array([r[MAX] for r in rows])),
            min(r[START] for r in rows),
            max(r[END] for r in rows),
            all(r[DISJOINT] for r in rows) and _spans_disjoint([(r[START], r[END]) for r in rows]),
        ])
    return merged


def log_disjoint(files: list[dict]) -> bool:
    """Whether the series rows of ``files`` (live segment add-entries)
    prove every series time-disjoint: each series is disjoint inside
    every file, and its per-file spans are disjoint too. False when any
    file lacks rows — that proves nothing either way."""
    spans: dict[tuple, list[tuple[int, int]]] = {}
    for f in files:
        rows = f.get("series")
        if rows is None or f.get("field_column") is None:
            return False
        for r in rows:
            if not r[DISJOINT]:
                return False
            spans.setdefault((f["field_column"], *r[TAGS]), []).append((r[START], r[END]))
    return all(_spans_disjoint(series) for series in spans.values())


def _variance_value(vf: str, n: float, s: float, q: float) -> float | None:
    """``_variance_final`` on Python floats (same clamp, NaN and n <= 1
    rules)."""
    m2 = q - s * s / n
    if not (m2 > 0.0 or math.isnan(m2)):
        m2 = 0.0
    if vf.endswith("_samp"):
        if n <= 1:
            return None
        v = m2 / (n - 1)
    else:
        v = m2 / n
    return math.sqrt(v) if vf.startswith("stddev") else v


def _merged(func: str, rows: list[list]):
    """One aggregate over the series rows of one group and field — the
    numpy twin of ``pushdown_agg_column``."""
    if func == "count":
        return sum(r[COUNT] for r in rows)
    if not rows:
        return None
    if func == "min":
        return _spark_min(np.array([r[MIN] for r in rows]))
    if func == "max":
        return _spark_max(np.array([r[MAX] for r in rows]))
    n = sum(r[COUNT] for r in rows)
    s = _fsum([r[SUM] for r in rows])
    if func == "sum":
        return s
    if func == "avg":
        return s / n
    return _variance_value(
        _VAR_CANON.get(func, func), float(n), s, _fsum([r[SUM_SQ] for r in rows])
    )


def log_aggregates(
    series: dict[int, list[list]],
    tag_columns: list[str],
    aggs: list[tuple[str, int, str]],
    group_by_tags: list[str] | None = None,
    tag_filters: list[tuple[str, str]] | None = None,
) -> tuple[pa.Table, T.StructType] | None:
    """``segment_aggregates`` answered from commit-log series rows.

    ``series`` maps each referenced field index to the series rows of
    every live file of that field partition; ``tag_filters`` are
    ``tag = 'value'`` conjuncts. Returns the result as an Arrow table
    plus the Spark schema the Column path produces (tags string, COUNT
    a non-null long, MIN/MAX float, the rest double), groups in
    ascending tag order with NULL first; None when the output column
    names collide or an aggregate is not one of ``SIMPLE_AGGS`` (the
    Column path then reports the error)."""
    group = list(group_by_tags or [])
    names = [n.lower() for n in group + [alias for _, _, alias in aggs]]
    if len(set(names)) != len(names) or any(f not in SIMPLE_AGGS for f, _, _ in aggs):
        return None
    pos = {t: i for i, t in enumerate(tag_columns)}
    wanted = [(pos[t], v) for t, v in tag_filters or []]
    parts: dict[tuple, dict[int, list[list]]] = {}
    for idx, rows in series.items():
        for r in rows:
            tags = r[TAGS]
            if all(tags[p] == v for p, v in wanted):
                key = tuple(tags[pos[t]] for t in group)
                parts.setdefault(key, {}).setdefault(idx, []).append(r)
    if not group:
        parts.setdefault((), {})
    keys = sorted(parts, key=lambda k: [(v is not None, v or "") for v in k])
    fields = [T.StructField(t, T.StringType(), True) for t in group]
    columns = [[k[i] for k in keys] for i in range(len(group))]
    for func, idx, alias in aggs:
        columns.append([_merged(func, parts[k].get(idx, [])) for k in keys])
        if func == "count":
            fields.append(T.StructField(alias, T.LongType(), False))
        elif func in ("min", "max"):
            fields.append(T.StructField(alias, T.FloatType(), True))
        else:
            fields.append(T.StructField(alias, T.DoubleType(), True))
    schema = T.StructType(fields)
    return pa.Table.from_arrays(columns, schema=to_arrow_schema(schema)), schema


def time_range_aggregates(
    segments: DataFrame,
    tag_columns: list[str],
    aggs: list[tuple[str, int | None, str]],
    start_us: int,
    end_us: int,
    group_by_tags: list[str] | None = None,
    metrics: dict | None = None,
) -> DataFrame:
    """Simple aggregates under a time-range predicate, answered mostly
    from segment statistics: segments fully inside [start, end]
    contribute their stats columns directly; only segments *straddling* a
    boundary are decoded and filtered point-wise. The reference's rule
    bails on any predicate (model_simple_aggregates.rs fires only with no
    pushed filters) — this is a strict superset, and the dominant-cost
    shape at scale: a month-long query over a year of data decodes only
    the two boundary segments per series.

    Exactness: stats describe the reconstructed values (types.py), so
    interior-stats + decoded-boundary equals the fully-gridded aggregate.
    """
    from modelardb_rs_spark.operators.grid import grid_univariate

    pruned = segments.where(
        (F.col("end_time") >= F.lit(int(start_us))) & (F.col("start_time") <= F.lit(int(end_us)))
    )
    # Restrict both passes to the referenced field partitions up front
    # (partition pruning on field_column).
    indexes = {idx for _, idx, _ in aggs}
    if None not in indexes:
        pruned = pruned.where(F.col("field_column").isin(sorted(indexes)))
    inside = pruned.where(
        (F.col("start_time") >= F.lit(int(start_us))) & (F.col("end_time") <= F.lit(int(end_us)))
    )
    boundary = pruned.where(
        (F.col("start_time") < F.lit(int(start_us))) | (F.col("end_time") > F.lit(int(end_us)))
    )

    group = list(group_by_tags or [])

    # ONE stats projection + ONE boundary decode feed a single final
    # aggregation: every requested aggregate becomes a pair of partial
    # columns (null where the row's field doesn't match), so a 5-aggregate
    # query still scans the stats columns once and decodes each boundary
    # segment once — instead of one job per aggregate.
    def match(idx: int | None, field_col: Column) -> Column:
        return F.lit(True) if idx is None else field_col == F.lit(idx)

    stat_cols, point_cols, final_cols = [], [], []
    for func, idx, alias in aggs:
        seg_m = match(idx, F.col("field_column"))
        pt_m = match(idx, F.col("__field__").cast("int"))
        if func == "count":
            stat_cols.append(F.when(seg_m, F.col("value_count").cast("long")).alias(f"c_{alias}"))
            point_cols.append(F.when(pt_m, F.lit(1).cast("long")).alias(f"c_{alias}"))
            final_cols.append(F.coalesce(F.sum(f"c_{alias}"), F.lit(0)).cast("long").alias(alias))
        elif func == "sum":
            stat_cols.append(F.when(seg_m, F.col("seg_sum")).alias(f"s_{alias}"))
            point_cols.append(F.when(pt_m, F.col("value").cast("double")).alias(f"s_{alias}"))
            final_cols.append(F.sum(f"s_{alias}").alias(alias))
        elif func == "min":
            stat_cols.append(F.when(seg_m, F.col("min_value")).alias(f"m_{alias}"))
            point_cols.append(F.when(pt_m, F.col("value")).alias(f"m_{alias}"))
            final_cols.append(F.min(f"m_{alias}").alias(alias))
        elif func == "max":
            stat_cols.append(F.when(seg_m, F.col("max_value")).alias(f"x_{alias}"))
            point_cols.append(F.when(pt_m, F.col("value")).alias(f"x_{alias}"))
            final_cols.append(F.max(f"x_{alias}").alias(alias))
        elif func == "avg":
            stat_cols.append(F.when(seg_m, F.col("seg_sum")).alias(f"as_{alias}"))
            stat_cols.append(F.when(seg_m, F.col("value_count").cast("long")).alias(f"ac_{alias}"))
            point_cols.append(F.when(pt_m, F.col("value").cast("double")).alias(f"as_{alias}"))
            point_cols.append(F.when(pt_m, F.lit(1).cast("long")).alias(f"ac_{alias}"))
            final_cols.append(
                (F.sum(f"as_{alias}") / F.sum(f"ac_{alias}")).cast("double").alias(alias)
            )
        elif _VAR_CANON.get(func, func) in ("var_pop", "var_samp", "stddev_pop", "stddev_samp"):
            vf = _VAR_CANON.get(func, func)
            stat_cols.append(
                F.when(seg_m, F.coalesce(F.col("seg_sum_sq"), F.lit(float("nan")))).alias(f"q_{alias}")
            )
            stat_cols.append(F.when(seg_m, F.col("seg_sum")).alias(f"s_{alias}"))
            stat_cols.append(F.when(seg_m, F.col("value_count").cast("long")).alias(f"c_{alias}"))
            v64 = F.col("value").cast("double")
            point_cols.append(F.when(pt_m, v64 * v64).alias(f"q_{alias}"))
            point_cols.append(F.when(pt_m, v64).alias(f"s_{alias}"))
            point_cols.append(F.when(pt_m, F.lit(1).cast("long")).alias(f"c_{alias}"))
            final_cols.append(
                _variance_final(
                    vf,
                    F.sum(f"c_{alias}").cast("double"),
                    F.sum(f"s_{alias}"),
                    F.sum(f"q_{alias}"),
                ).alias(alias)
            )
        else:
            raise ValueError(f"not a pushdown-able aggregate: {func}")

    stats_part = inside.select(*group, *stat_cols)
    points = grid_univariate(
        boundary.withColumn("__field__", F.col("field_column").cast("string")),
        tag_columns + ["__field__"],
        start_us,
        end_us,
        metrics=metrics,
    )
    points_part = points.select(*group, *point_cols)
    u = stats_part.unionByName(points_part)
    return u.groupBy(*group).agg(*final_cols) if group else u.agg(*final_cols)


def resample(
    segments: DataFrame,
    tag_columns: list[str],
    bucket_us: int,
    aggs: list[tuple[str, int | None, str]],
    start_us: int | None = None,
    end_us: int | None = None,
    group_by_tags: list[str] | None = None,
    bucket_alias: str = "bucket",
    may_have_slow: bool = True,
    origin_us: int = 0,
    fast_fraction: float | None = None,
    metrics: dict | None = None,
) -> DataFrame:
    """Time-bucket downsampling (``GROUP BY time_bucket``) with model-based
    pushdown — an operator past the reference's rewrite set (the reference
    grids every point for any windowed GROUP BY; grid_exec.rs:261-391).

    PMC-Mean segments with regular timestamps never decode: the points a
    bucket covers form a closed-form index range (``i0 = ceil((lo-s)/step)``,
    ``i1 = floor((hi-s)/step)``), and every reconstructed value equals the
    stored f32 mean, so per-bucket COUNT/SUM/MIN/MAX/AVG/VAR are pure
    Column arithmetic over one ``explode(sequence(bucket_first,
    bucket_last))`` — whole-stage codegen, output rows = overlapped
    buckets, not points. A year-long constant sensor at 1 Hz resampled
    to 1 h emits 8 760 rows from a handful of segment rows instead of
    31 M decoded points; that asymmetry is the 100 TB win.

    Swing segments join the closed form when only COUNT/MIN/MAX are
    requested (index math + monotone-line endpoint values); their
    SUM/AVG/VAR must decode because the analytic series sum skips the
    per-point f32 rounding. Gorilla/irregular segments (and rows written
    before the model-parameter columns existed) fall back to the gridded
    path —
    decode, bucket by floor division, aggregate. Both paths produce the
    same partial columns and one final groupBy(bucket, tags) merges them,
    so a mixed table costs one aggregation. Exactness matches the engine
    invariant: PMC reconstruction is bit-exactly the stored mean, so the
    closed form equals the decode-then-aggregate result (SUM/VAR up to
    f64 addition order).

    ``aggs``: (func, field_index|None, alias) like time_range_aggregates.
    Output: ``bucket`` (TimestampType, bucket start) + group_by_tags +
    aliases; buckets with no points are absent (plain GROUP BY semantics).
    """
    from modelardb_rs_spark.operators.grid import grid_univariate, prune_segments
    from modelardb_rs_spark.types import PMC_MEAN_ID, SWING_ID

    B = int(bucket_us)
    if B <= 0:
        raise ValueError("bucket_us must be positive")
    # origin shift (e.g. Monday-aligned weeks): bucket b covers
    # [O + b*B, O + (b+1)*B), so all bucket math runs on t - O
    O = int(origin_us)
    pruned = prune_segments(segments, start_us, end_us)
    indexes = {idx for _, idx, _ in aggs}
    if None not in indexes:
        pruned = pruned.where(F.col("field_column").isin(sorted(indexes)))

    lo_clip = -(2**62) if start_us is None else int(start_us)
    hi_clip = 2**62 if end_us is None else int(end_us)

    funcs = {f for f, _, _ in aggs}
    if "param0" in pruned.columns:
        # step == 0 with n > 1 (all-duplicate timestamps) would divide by
        # zero in the index math — those rows decode instead.
        eligible = F.col("model_type_id") == F.lit(PMC_MEAN_ID)
        if funcs <= {"count", "min", "max"}:
            # Swing joins the closed form when no sum-family aggregate is
            # requested: COUNT is index math, and a (monotone) line's
            # bucket MIN/MAX sit at the endpoint indices, evaluated with
            # the same f32(param0 + param1*dt) arithmetic the decoder
            # uses. SUM/AVG/VAR of a Swing segment must decode — the
            # analytic series sum skips the per-point f32 rounding.
            eligible = eligible | (
                (F.col("model_type_id") == F.lit(SWING_ID))
                & F.col("param1").isNotNull()
            )
        fast_cond = (
            eligible
            & (F.coalesce(F.col("ts_kind"), F.lit(1)) == F.lit(0))
            & F.col("param0").isNotNull()
            & ((F.col("value_count") == 1) | (F.col("end_time") > F.col("start_time")))
        )
        fast, slow = pruned.where(fast_cond), pruned.where(~fast_cond)
    else:
        fast, slow = None, pruned

    group = [bucket_alias] + list(group_by_tags or [])

    def match(idx: int | None, field_col: Column) -> Column:
        return F.lit(True) if idx is None else field_col == F.lit(idx)

    # Partial columns per agg — identical alias pairs on both paths so one
    # unionByName + one groupBy finishes them. ``v`` is the constant
    # reconstructed value (PMC / decoded point); ``vmin``/``vmax`` the
    # bucket extremes (endpoint values for Swing, == v otherwise).
    def partials(cnt: Column, v: Column, vmin: Column, vmax: Column):
        cols_for = {}
        for func, idx, alias in aggs:
            c = []
            if func == "count":
                c.append((cnt.cast("long"), f"c_{alias}"))
            elif func == "sum":
                c.append(((cnt.cast("double") * v.cast("double")), f"s_{alias}"))
            elif func == "min":
                c.append((vmin, f"m_{alias}"))
            elif func == "max":
                c.append((vmax, f"x_{alias}"))
            elif func == "avg":
                c.append(((cnt.cast("double") * v.cast("double")), f"as_{alias}"))
                c.append((cnt.cast("long"), f"ac_{alias}"))
            elif _VAR_CANON.get(func, func) in (
                "var_pop", "var_samp", "stddev_pop", "stddev_samp",
            ):
                v64 = v.cast("double")
                c.append((cnt.cast("double") * v64 * v64, f"q_{alias}"))
                c.append((cnt.cast("double") * v64, f"s_{alias}"))
                c.append((cnt.cast("long"), f"c_{alias}"))
            else:
                raise ValueError(f"not a resample-able aggregate: {func}")
            cols_for[(func, idx, alias)] = c
        return cols_for

    final_cols: list[Column] = []
    for func, idx, alias in aggs:
        if func == "count":
            final_cols.append(F.coalesce(F.sum(f"c_{alias}"), F.lit(0)).cast("long").alias(alias))
        elif func == "sum":
            final_cols.append(F.sum(f"s_{alias}").alias(alias))
        elif func == "min":
            final_cols.append(F.min(f"m_{alias}").alias(alias))
        elif func == "max":
            final_cols.append(F.max(f"x_{alias}").alias(alias))
        elif func == "avg":
            final_cols.append((F.sum(f"as_{alias}") / F.sum(f"ac_{alias}")).cast("double").alias(alias))
        else:
            final_cols.append(
                _variance_final(
                    _VAR_CANON.get(func, func),
                    F.sum(f"c_{alias}").cast("double"),
                    F.sum(f"s_{alias}"),
                    F.sum(f"q_{alias}"),
                ).alias(alias)
            )

    # Deduplicated partial aliases in a stable order (avg shares c_/s_
    # names only within its own as_/ac_ prefixes, so no collisions).
    def emit(cols_for, bucket_col, src):
        seen, out = set(), [bucket_col.alias(bucket_alias)]
        out += [F.col(t) for t in (group_by_tags or [])]
        for key, pairs in cols_for.items():
            fcond = match(key[1], F.col("field_column") if src == "seg" else F.col("__field__").cast("int"))
            for expr, name in pairs:
                if name not in seen:
                    seen.add(name)
                    out.append(F.when(fcond, expr).alias(name))
        return out

    parts: list[DataFrame] = []
    if fast is not None:
        step = F.expr(
            "CASE WHEN value_count > 1 THEN (end_time - start_time) DIV (value_count - 1) "
            "ELSE CAST(1 AS BIGINT) END"
        )
        st = f"(start_time - {O})" if O else "start_time"
        en = f"(end_time - {O})" if O else "end_time"
        b_first = F.expr(f"({st} - pmod({st}, {B})) div {B}")
        b_last = F.expr(f"({en} - pmod({en}, {B})) div {B}")
        seg_buckets = fast.select(
            "field_column",
            "model_type_id",
            "start_time",
            "end_time",
            "value_count",
            "param0",
            "param1",
            step.alias("__step__"),
            F.explode(F.sequence(b_first, b_last)).alias("__b__"),
            *(group_by_tags or []),
        )
        lo = F.greatest(
            F.col("start_time"), F.col("__b__") * F.lit(B) + F.lit(O), F.lit(lo_clip)
        )
        hi = F.least(
            F.col("end_time"),
            (F.col("__b__") + 1) * F.lit(B) + F.lit(O) - 1,
            F.lit(hi_clip),
        )
        # ceil/floor division on non-negative longs (lo >= start_time),
        # clamped to the valid index range (the n==1 placeholder step
        # would otherwise run i1 past the single point)
        i0 = F.greatest(F.expr("(__lo__ - start_time + __step__ - 1) DIV __step__"), F.lit(0))
        i1 = F.least(
            F.expr("(__hi__ - start_time) DIV __step__"),
            (F.col("value_count") - 1).cast("long"),
        )
        seg_buckets = (
            seg_buckets.withColumn("__lo__", lo)
            .withColumn("__hi__", hi)
            .withColumn("__i0__", i0)
            .withColumn("__i1__", i1)
            .withColumn(
                "__cnt__",
                F.when(
                    F.col("value_count") == 1,
                    F.when(
                        (F.col("__lo__") == F.col("start_time"))
                        & (F.col("__hi__") >= F.col("start_time")),
                        F.lit(1),
                    ).otherwise(F.lit(0)),
                ).otherwise(F.col("__i1__") - F.col("__i0__") + 1)
                .cast("long"),
            )
            .where(F.col("__cnt__") > 0)
        )

        # Value at index i — the same arithmetic as the decoder/_grid_jvm:
        # PMC is the stored f32 mean; Swing is f32(param0 + param1·dt) in
        # double math. A line is monotone, so bucket extremes are the
        # endpoint values (f32 rounding preserves order).
        def v_at(i: Column) -> Column:
            dt = (i * F.col("__step__")).cast("double")
            return F.when(
                F.col("model_type_id") == F.lit(PMC_MEAN_ID), F.col("param0")
            ).otherwise(
                (F.col("param0").cast("double") + F.col("param1") * dt).cast("float")
            )

        v0, v1 = v_at(F.col("__i0__")), v_at(F.col("__i1__"))
        cols_for = partials(
            F.col("__cnt__"), F.col("param0"), F.least(v0, v1), F.greatest(v0, v1)
        )
        parts.append(
            seg_buckets.select(
                *emit(
                    cols_for,
                    F.timestamp_micros(F.col("__b__") * F.lit(B) + F.lit(O)),
                    "seg",
                )
            )
        )

    points = grid_univariate(
        slow.withColumn("__field__", F.col("field_column").cast("string")),
        tag_columns + ["__field__"],
        start_us,
        end_us,
        may_have_slow=may_have_slow,
        fast_fraction=fast_fraction,
        metrics=metrics,
    )
    pt_shift = f"(timestamp - {O})" if O else "timestamp"
    pt_bucket = F.expr(f"timestamp_micros(timestamp - pmod({pt_shift}, {B}))")
    cols_for_pts = partials(F.lit(1), F.col("value"), F.col("value"), F.col("value"))
    parts.append(points.select(*emit(cols_for_pts, pt_bucket, "pt")))

    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.groupBy(*group).agg(*final_cols)
