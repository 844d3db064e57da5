"""Model-based (segment-pushdown) simple aggregates: one kernel.

Reference semantics: the ``ModelSimpleAggregates`` physical optimizer
rule rewrites un-grouped, un-filtered COUNT/MIN/MAX/SUM/AVG over one
field column to run directly on segment metadata without reconstruction
(crates/modelardb_storage/src/optimizer/model_simple_aggregates.rs:175-618;
segment math crates/modelardb_compression/src/models/mod.rs:98-184).

Spark-first translation: the segments table stores ``value_count``,
``seg_sum`` and ``seg_sum_sq`` as plain columns next to ``min_value``/
``max_value`` (see types.segment_schema — the closed-form per-model
math runs once at compression time, over the reconstructed values,
instead of once per query). Every aggregate reads one partial state per
field, (n, Σv, Σv², min, max), and one final merge (``_final``)
finishes it:

    COUNT(f) -> SUM(n)        MIN(f) -> MIN(min)      MAX(f) -> MAX(max)
    SUM(f)   -> SUM(Σv)       AVG(f) -> SUM(Σv) / SUM(n)
    VAR_POP(f)  -> (SUM(Σv²) - SUM(Σv)^2/N) / N
    VAR_SAMP(f) -> same numerator over N-1;  STDDEV_* -> sqrt(VAR_*)

``segment_aggregates`` is the one kernel for whole-table, time-ranged
and time-bucketed (resample, ``GROUP BY time_bucket``) aggregates. It
sorts each pruned segment once into one of three classes, and all three
emit the same partial columns into one final aggregation:

(a) whole: inside [start, end] and, with a bucket, inside one bucket —
    its stats columns;
(b) closed form: a PMC-Mean segment with regular timestamps that
    crosses a bucket or range edge (a Swing one too when only
    COUNT/MIN/MAX are asked) — index math over the points each bucket
    covers, no decode;
(c) everything else — decoded by ``grid.grid_univariate`` and
    aggregated point by point.

(a) and (b) read the same columns and share one scan.

With no bound and no bucket every segment is whole, so the plan is one
aggregate over the stats columns: column pruning reads no binary
payload, and nothing decodes. GROUP BY tag columns is supported (a
strict superset of the reference rule, which bails on any GROUP BY):
tags are segment-row columns, so grouped aggregates are equally exact.
``pushdown_agg_column`` (public) and the z-score's μ/σ
(``anomaly.zscore_outliers``) are ``_final`` over the stats columns.

Variance/stddev are an extension past the reference's accumulator set
(count/min/max/sum/avg). Folders written before ``seg_sum_sq`` existed
hold NULLs there; the stats partial coalesces those to NaN so a mixed
or legacy folder yields a loud NaN instead of a silently-undercounted
result (rewrite the table, or query through the gridded view, to fix).

Commit-log answers: every segment add-entry of a commit that stats its
files on the driver carries one row per series (tag tuple) of that file
(``series_rows``: value_count, seg_sum, seg_sum_sq, min/max value, time
span, in-file disjointness). An un-time-bounded simple aggregate whose
referenced field partitions have rows in every live file is answered on
the driver from those rows (``log_aggregates``) — no segment file is
opened and no Spark job runs until the one-row result is collected. The
merge math is the numpy twin of ``_final``: counts are exact integer
sums, min/max follow Spark's NaN ordering (NaN above every number), and
sums merge with ``math.fsum``, so they equal the Column path up to f64
addition order.
"""

from __future__ import annotations

import math
from functools import reduce

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

# The partials (n, s = Σv, q = Σv², lo = min, hi = max) each aggregate reads
_NEEDS = {"count": ("n",), "min": ("lo",), "max": ("hi",), "sum": ("s",), "avg": ("n", "s")}
_PARTIALS = ("n", "s", "q", "lo", "hi")


def _checked(func: str) -> str:
    func = func.lower()
    if func not in SIMPLE_AGGS:
        raise ValueError(f"not a pushdown-able aggregate: {func}")
    return func


def _final(func: str, part) -> Column:
    """One aggregate's final value from its partials: ``part(k)`` is the
    per-row partial ``k`` (one of ``_PARTIALS``), which this merges
    (SUM for n/s/q, MIN/MAX for lo/hi) — the one Column copy of the
    partial→final algebra. The variance family clamps the tiny negative
    float residue a near-constant series produces (Spark reports 0.0;
    sqrt of a negative would be NaN) while letting a poisoning NaN
    through (Spark orders NaN above every number), and the sample forms
    are NULL when n <= 1, like Spark."""
    if func == "count":
        return F.coalesce(F.sum(part("n")), F.lit(0)).cast("long")
    if func == "min":
        return F.min(part("lo"))
    if func == "max":
        return F.max(part("hi"))
    # Spark SUM(float) accumulates in double; seg_sum is the f64 sum of
    # reconstructed values, so the result matches gridded SUM(value)
    # modulo f64 addition order.
    s = F.sum(part("s"))
    if func == "sum":
        return s
    if func == "avg":
        return (s / F.sum(part("n"))).cast("double")
    vf = _VAR_CANON.get(func, func)
    n = F.sum(part("n")).cast("double")
    m2 = F.greatest(F.sum(part("q")) - s * s / n, F.lit(0.0))
    v = m2 / n if vf.endswith("_pop") else F.when(n > 1, m2 / (n - 1))
    return (F.sqrt(v) if vf.startswith("stddev") else v).cast("double")


# Partial k of a whole segment, from its stats columns (SQL). A legacy
# NULL seg_sum_sq is NaN-poisoned: NaN propagates through SUM, NULL would
# be silently skipped and undercount the variance.
_STATS = {
    "n": "CAST(value_count AS BIGINT)", "s": "seg_sum",
    "q": "coalesce(seg_sum_sq, CAST('NaN' AS DOUBLE))", "lo": "min_value", "hi": "max_value",
}


def _when_field(field: str, idx: int | None, value: str) -> str:
    """SQL: ``value`` on rows of field ``idx`` (every row when None)."""
    return value if idx is None else f"CASE WHEN {field} = {int(idx)} THEN {value} END"


def pushdown_agg_column(func: str, field_index: int | None = None) -> Column:
    """The segment-level Column expression for one simple aggregate.

    ``field_index`` restricts to one field_column partition when the
    segments DataFrame holds several fields (conditional aggregation).
    """
    func = _checked(func)
    return _final(func, lambda k: F.expr(_when_field("field_column", field_index, _STATS[k])))


def segment_aggregates(
    segments: DataFrame,
    aggs: list[tuple[str, int | None, str]],
    group_by_tags: list[str] | None = None,
    tag_columns: list[str] | None = None,
    start_us: int | None = None,
    end_us: int | None = None,
    bucket_us: int | None = None,
    origin_us: int = 0,
    bucket_alias: str = "bucket",
    may_have_slow: bool = True,
    fast_fraction: float | None = None,
    metrics: dict | None = None,
) -> DataFrame:
    """Simple aggregates over a segments DataFrame, per ``group_by_tags``
    and, with ``bucket_us``, per time bucket: the one kernel (see the
    module docstring for its three segment classes).

    ``aggs``: (func, field_index|None, output_alias). ``start_us`` /
    ``end_us``: a closed time range, a side open when None.
    ``bucket_us``: a bucket width B; bucket b covers [O + b*B,
    O + (b+1)*B) for ``origin_us`` O (e.g. Monday-aligned weeks), and
    the output gains ``bucket_alias`` (TimestampType, bucket start)
    ahead of the tags. Buckets and groups with no points are absent
    (plain GROUP BY semantics); with neither, the result is exactly one
    row (COUNT 0 and NULLs over no points). ``tag_columns`` (default
    ``group_by_tags``) are carried through class (c)'s decode, which
    gets ``may_have_slow``, ``fast_fraction`` and ``metrics``.

    Exactness: the stats and the closed form describe the reconstructed
    values (PMC reconstruction is bit-exactly the stored f32 mean; a
    Swing bucket's MIN/MAX sit at the endpoint indices of a monotone
    line, evaluated with the decoder's f32(param0 + param1·dt)), so the
    answer equals the decode-then-aggregate one, SUM/AVG/VAR up to f64
    addition order. A Swing SUM/AVG/VAR decodes: the analytic series
    sum skips the per-point f32 rounding.

    The classes are SQL text: one parse per projected column instead of
    a py4j call per Column operator keeps planning cheap.
    """
    from modelardb_rs_spark.operators.grid import grid_univariate, prune_segments, python_only
    from modelardb_rs_spark.types import PMC_MEAN_ID, SWING_ID

    aggs = [(_checked(func), idx, alias) for func, idx, alias in aggs]
    B, O = bucket_us, int(origin_us)
    if B is not None and B <= 0:
        raise ValueError("bucket_us must be positive")
    # Restrict every class to the referenced field partitions up front
    # (partition pruning; the per-field CASE WHEN alone would scan all).
    indexes = {idx for _, idx, _ in aggs}
    if None not in indexes:
        segments = segments.where(F.col("field_column").isin(sorted(indexes)))
    segments = prune_segments(segments, start_us, end_us)

    # One set of partial columns per referenced field, shared by its
    # aggregates: __<partial>_<field>__.
    needs: dict[int | None, set[str]] = {}
    for func, idx, _ in aggs:
        needs.setdefault(idx, set()).update(_NEEDS.get(func, ("n", "s", "q")))

    def name(idx: int | None, k: str) -> str:
        return f"__{k}_{'all' if idx is None else idx}__"

    def bucket_start(t: str) -> str:
        """SQL: the µs start of the bucket holding ``t`` (pmod floors
        pre-epoch timestamps too)."""
        return f"({t} - pmod({f'({t} - {O})' if O else t}, {B}))"

    def partials(frame: DataFrame, value: dict, field: str, bucket: str | None) -> DataFrame:
        cols = [] if B is None else [F.expr(f"timestamp_micros({bucket})").alias(bucket_alias)]
        cols += [F.col(t) for t in group_by_tags or []]
        for idx, keys in needs.items():
            cols += [
                F.expr(_when_field(field, idx, value[k])).alias(name(idx, k))
                for k in _PARTIALS if k in keys
            ]
        return frame.select(*cols)

    # (a) whole: inside the range and one bucket
    inside = []
    if start_us is not None:
        inside.append(f"start_time >= {int(start_us)}")
    if end_us is not None:
        inside.append(f"end_time <= {int(end_us)}")
    if B is not None:
        inside.append(f"{bucket_start('start_time')} = {bucket_start('end_time')}")
    whole = " AND ".join(inside)
    if not whole:  # every segment is whole: one aggregate over the stats
        parts = [partials(segments, _STATS, "field_column", None)]
    elif python_only(may_have_slow, fast_fraction):
        # no closed form: the snapshot holds almost no JVM-decodable
        # points (the closed form would scan for nothing)
        closed = "false"
        parts = [partials(
            segments.where(whole), _STATS, "field_column", bucket_start("start_time")
        )]
    else:
        # (b) closed form: a regular PMC segment (Swing too, for
        # COUNT/MIN/MAX) crossing an edge. The points of [lo, hi] are
        # indices i0 = ceil((lo - s) / step) .. i1 = floor((hi - s) /
        # step); a single point or a step of 0 (duplicate timestamps)
        # decodes instead. (a) and (b) read the same columns, so one
        # pass answers both: a whole segment clips to itself and
        # overlaps one bucket, and takes its stats.
        model = f"model_type_id = {PMC_MEAN_ID}"
        if {func for func, _, _ in aggs} <= {"count", "min", "max"}:
            model = f"({model} OR (model_type_id = {SWING_ID} AND param1 IS NOT NULL))"
        closed = (f"{model} AND coalesce(ts_kind, 1) = 0 AND param0 IS NOT NULL "
                  "AND end_time > start_time")
        rows = segments.where(f"({whole}) OR ({closed})")
        lo = "start_time" if start_us is None else f"greatest(start_time, {int(start_us)})"
        hi = "end_time" if end_us is None else f"least(end_time, {int(end_us)})"
        if B is not None:  # one row per bucket the clipped segment overlaps
            rows = rows.select("*", F.explode(F.expr(
                f"sequence({bucket_start(lo)}, {bucket_start(hi)}, CAST({B} AS BIGINT))"
            )).alias("__b__"))
            lo, hi = f"greatest({lo}, __b__)", f"least({hi}, __b__ + {B - 1})"
        step = "((end_time - start_time) div (value_count - 1))"
        i0 = f"(({lo} - start_time + {step} - 1) div {step})"
        i1 = f"(({hi} - start_time) div {step})"
        cnt = f"({i1} - {i0} + 1)"

        def v_at(i: str) -> str:
            # the decoder's value at index i: PMC's stored mean, or a
            # Swing line (monotone, so its extremes are endpoints)
            return (f"CASE WHEN model_type_id = {PMC_MEAN_ID} THEN param0 ELSE CAST("
                    f"CAST(param0 AS DOUBLE) + param1 * CAST({i} * {step} AS DOUBLE) AS FLOAT) END")

        mean = "CAST(param0 AS DOUBLE)"
        closed_values = {
            "n": cnt, "s": f"CAST({cnt} AS DOUBLE) * {mean}",
            "q": f"CAST({cnt} AS DOUBLE) * {mean} * {mean}",
            "lo": f"least({v_at(i0)}, {v_at(i1)})", "hi": f"greatest({v_at(i0)}, {v_at(i1)})",
        }
        # CASE keeps the index math (a division by the step) off whole rows
        values = {k: f"CASE WHEN {whole} THEN {_STATS[k]} ELSE {v} END"
                  for k, v in closed_values.items()}
        parts = [partials(
            rows.where(f"{values['n']} > 0"), values, "field_column",
            "__b__" if B is not None else None,
        )]

    if whole:
        # (c) everything else decodes
        points = grid_univariate(
            segments.where(f"NOT ({whole}) AND NOT ({closed})")
            .withColumn("__field__", F.col("field_column").cast("string")),
            list(tag_columns if tag_columns is not None else group_by_tags or []) + ["__field__"],
            start_us,
            end_us,
            may_have_slow=may_have_slow,
            fast_fraction=fast_fraction,
            metrics=metrics,
        )
        point_values = {
            "n": "CAST(1 AS BIGINT)", "s": "CAST(value AS DOUBLE)",
            "q": "CAST(value AS DOUBLE) * CAST(value AS DOUBLE)", "lo": "value", "hi": "value",
        }
        parts.append(partials(
            points, point_values, "CAST(__field__ AS INT)", bucket_start("timestamp")
        ))

    group = ([] if B is None else [bucket_alias]) + list(group_by_tags or [])
    finals = [
        _final(func, lambda k, idx=idx: F.col(name(idx, k))).alias(alias)
        for func, idx, alias in aggs
    ]
    return reduce(DataFrame.unionByName, parts).groupBy(*group).agg(*finals)


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
    """``_final``'s variance family on Python floats (same clamp, NaN and
    n <= 1 rules)."""
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
    numpy twin of ``_final``."""
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
