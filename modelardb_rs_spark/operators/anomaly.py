"""Anomaly detection with model-based segment skipping.

Z-score outliers ("points more than z standard deviations from the
series mean") are the canonical monitoring query; the reference grids
every point for it. Here the per-series mean/σ come from the segment
statistics columns (no decode), and the min_value/max_value columns then
prune every segment whose value envelope cannot cross the μ ± z·σ
threshold — on well-behaved data that skips nearly the whole table and
decodes only the segments that might hold an outlier. The pruning is
exact, not approximate: a point with |v − μ| > z·σ forces its segment's
min or max past the threshold, so no candidate segment is ever skipped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def zscore_outliers(
    segments: DataFrame,
    tag_columns: list[str],
    z: float = 3.0,
    may_have_slow: bool = True,
    fast_fraction: float | None = None,
) -> DataFrame:
    """Outlier points per univariate series.

    Output: (*tags, field_column int, timestamp µs, value, zscore) —
    one row per point with |v − μ_series| > z·σ_series (population σ).
    Series with σ == 0 emit nothing.
    """
    from modelardb_rs_spark.operators.aggregates import pushdown_agg_column
    from modelardb_rs_spark.operators.grid import grid_univariate

    keys = tag_columns + ["field_column"]
    stats = segments.groupBy(*keys).agg(
        pushdown_agg_column("avg").alias("__mu__"),
        pushdown_agg_column("stddev_pop").alias("__sd__"),
    )
    joined = segments.join(stats, keys)
    zc = F.lit(float(z))
    lo = F.col("__mu__") - zc * F.col("__sd__")
    hi = F.col("__mu__") + zc * F.col("__sd__")
    candidates = joined.where(
        (F.col("__sd__") > 0)
        & ((F.col("max_value") > hi) | (F.col("min_value") < lo))
    )
    # Carry μ/σ through the decode as string keys (grid passes tags
    # through); repr keeps full double precision both ways.
    carried = keys + ["__mu_s__", "__sd_s__"]
    pts = grid_univariate(
        candidates.withColumn("__mu_s__", F.col("__mu__").cast("string"))
        .withColumn("__sd_s__", F.col("__sd__").cast("string"))
        .withColumn("field_column", F.col("field_column").cast("string")),
        carried,
        may_have_slow=may_have_slow,
        fast_fraction=fast_fraction,
    )
    mu = F.col("__mu_s__").cast("double")
    sd = F.col("__sd_s__").cast("double")
    score = (F.col("value").cast("double") - mu) / sd
    return (
        pts.where(F.abs(F.col("value").cast("double") - mu) > zc * sd)
        .select(
            *tag_columns,
            F.col("field_column").cast("int").alias("field_column"),
            "timestamp",
            "value",
            score.alias("zscore"),
        )
    )


def seasonal_bucket_anomalies(
    bucketed: DataFrame,
    series_cols: list[str],
    z: float = 3.0,
    bucket_col: str = "bucket",
    value_col: str = "v",
    min_season_samples: int = 3,
) -> DataFrame:
    """Seasonality-aware anomalies at bucket granularity: each bucket's
    mean is compared against the baseline of ITS OWN season — the same
    hour-of-day across all days — so a nightly batch-job spike is not
    flagged just for being higher than the daily average.

    Input: per-series bucket means (the resample pushdown output).
    Two aggregations (per-season baseline, then the flag join); both
    keyed by (series, season); no decode beyond what resample did.
    Output: (series..., bucket, value, season_mean, season_std, zscore)
    for buckets with |v − μ_season| > z·σ_season.
    """
    hod = F.hour(F.col(bucket_col))
    base = (
        bucketed.select(
            *series_cols, F.col(bucket_col), hod.alias("__hod__"),
            F.col(value_col).cast("double").alias("__v__"),
        )
    )
    stats = base.groupBy(*series_cols, "__hod__").agg(
        F.avg("__v__").alias("season_mean"),
        F.stddev_pop("__v__").alias("season_std"),
        F.count("*").alias("__n__"),
    )
    joined = base.join(stats, [*series_cols, "__hod__"])
    zscore = (F.col("__v__") - F.col("season_mean")) / F.col("season_std")
    return (
        joined.where(
            (F.col("__n__") >= min_season_samples)
            & (F.col("season_std") > 0)
            & (F.abs(zscore) > z)
        )
        .select(
            *series_cols,
            F.col(bucket_col),
            F.col("__v__").alias("value"),
            F.round("season_mean", 4).alias("season_mean"),
            F.round("season_std", 4).alias("season_std"),
            F.round(zscore, 4).alias("zscore"),
        )
    )
